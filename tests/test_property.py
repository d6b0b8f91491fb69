"""Property-based replay convergence: hypothesis-generated adversarial
change streams through the full engine loop must always converge to the
pure-Python LWW oracle.

Deterministic tests pin known-tricky patterns; this sweeps the space the
fixtures don't enumerate — arbitrary I/U/D interleavings per key, shuffled
delivery, exact duplicate re-delivery with later seqs, delete-then-reinsert
chains, random batch admission caps, both merge modes, and a mid-run engine
restart (resume from the committed watermark). ≙ the reference's replay /
exactly-once suites (JobLauncherTestHelper golden counts) generalized to
randomized streams with full-content equality.
"""

from __future__ import annotations

import os
import random
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

try:  # skip cleanly when hypothesis is absent in a stripped env
    import hypothesis  # noqa: F401
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis unavailable", allow_module_level=True)

N_KEYS = 6
EVENT_COLS = ("seq", "event_group", "op", "repo", "path", "commit", "lang",
              "content", "schema_version", "version", "size_bytes")


def build_events(ops: list[tuple[int, str]], seed: int,
                 dup_count: int) -> list[tuple]:
    """Delivered stream: one row per logical op (shuffled delivery ranks)
    plus dup_count exact re-deliveries at strictly later seqs (at-least-once
    transport). seq is the dense delivery rank, like the Kafka offset."""
    rng = random.Random(seed)
    order = list(range(len(ops)))
    rng.shuffle(order)
    logical = []
    for rank, i in enumerate(order):
        k, op = ops[i]
        repo = f"repo_{k % 2}"
        path = f"src/f{k}.txt"
        if op == "D":
            commit = lang = content = None
        else:
            commit = f"c{i:04d}"
            lang = "py" if k % 3 else "rs"
            content = f"content of {path} at logical {i}"
        logical.append([repo, path, op, commit, lang, content])
    rows = []
    dups = sorted(rng.sample(range(len(logical)), min(dup_count, len(logical))))
    delivered = [(pos, r) for pos, r in enumerate(logical)]
    # re-deliver chosen rows after the original stream ends
    for j, i in enumerate(dups):
        delivered.append((len(logical) + j, logical[i]))
    import zlib

    for seq, (repo, path, op, commit, lang, content) in delivered:
        # zlib.crc32, not hash(): PYTHONHASHSEED salts hash() per process,
        # which would make falsifying examples irreproducible across runs
        rows.append((
            seq, zlib.crc32(f"{repo}|{path}".encode()) % 4, op, repo, path,
            commit, lang, content, 1, 0,
            len(content) if content is not None else None,
        ))
    return rows


def oracle_state(rows: list[tuple]) -> dict[tuple, tuple]:
    """Pure-Python LWW replay: max seq wins per key; winning 'D' vanishes."""
    last: dict[tuple, tuple] = {}
    for r in sorted(rows, key=lambda r: r[0]):
        last[(r[3], r[4])] = r
    # all synthetic events are schema v1, so the engine conforms the
    # table to the v1 target (no size_bytes column) — compare v1 payload
    return {
        k: (r[5], r[6], r[7]) for k, r in last.items() if r[2] != "D"
    }


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    ops=st.lists(
        st.tuples(st.integers(0, N_KEYS - 1), st.sampled_from("IUD")),
        min_size=12, max_size=36),
    seed=st.integers(0, 2**31),
    dup_count=st.integers(0, 6),
    batch_cap=st.integers(6, 30),
    merge_mode=st.sampled_from(["cow", "mor"]),
)
def test_replay_converges_to_oracle(spark, ops, seed, dup_count, batch_cap,
                                    merge_mode):
    from pyspark.sql.types import (LongType, IntegerType, StringType,
                                   StructField, StructType)

    from gobblin_spark.engine import CdcEngine
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import read_current

    rows = build_events(ops, seed, dup_count)
    schema = StructType([
        StructField("seq", LongType()),
        StructField("event_group", IntegerType()),
        StructField("op", StringType()),
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
        StructField("schema_version", IntegerType()),
        StructField("version", LongType()),
        StructField("size_bytes", LongType()),
    ])
    events = spark.createDataFrame(rows, schema=schema)

    work = tempfile.mkdtemp(prefix="gobblin_prop_")
    try:
        def make_engine():
            return CdcEngine(
                spark, events,
                table_root=os.path.join(work, "table"),
                state_root=os.path.join(work, "state"),
                max_records_per_batch=batch_cap,
                n_buckets=4,
                merge_mode=merge_mode,
                compact_every=3,
            )

        eng = make_engine()
        first = eng.run_batch()
        if first is not None:
            # mid-run restart: a fresh engine must resume from the
            # committed watermark, never re-applying nor skipping
            eng = make_engine()
        eng.run_until_caught_up()

        got = {
            (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
            for r in read_current(LakeTable(spark, os.path.join(
                work, "table"))).collect()
        }
        assert got == oracle_state(rows)
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    ops=st.lists(
        st.tuples(st.integers(0, N_KEYS - 1), st.sampled_from("IUD")),
        min_size=12, max_size=30),
    seed=st.integers(0, 2**31),
    dup_count=st.integers(0, 5),
    batch_cap=st.integers(6, 24),
    merge_mode=st.sampled_from(["cow", "mor"]),
    factors=st.sampled_from([(2,), (4,), (2, 2)]),
)
def test_replay_converges_across_mid_run_rescales(
        spark, ops, seed, dup_count, batch_cap, merge_mode, factors):
    """Bucket rescales interleaved with the ingest loop (after the first
    batch, and again mid-stream for two-factor cases) must not change the
    converged state: residue-mapped reads + progressive migration are
    invisible to LWW semantics."""
    from pyspark.sql.types import (LongType, IntegerType, StringType,
                                   StructField, StructType)

    from gobblin_spark.engine import CdcEngine
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import read_current

    rows = build_events(ops, seed, dup_count)
    schema = StructType([
        StructField("seq", LongType()),
        StructField("event_group", IntegerType()),
        StructField("op", StringType()),
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
        StructField("schema_version", IntegerType()),
        StructField("version", LongType()),
        StructField("size_bytes", LongType()),
    ])
    events = spark.createDataFrame(rows, schema=schema)

    work = tempfile.mkdtemp(prefix="gobblin_prop_rs_")
    try:
        def make_engine():
            return CdcEngine(
                spark, events,
                table_root=os.path.join(work, "table"),
                state_root=os.path.join(work, "state"),
                max_records_per_batch=batch_cap,
                n_buckets=4,
                merge_mode=merge_mode,
                compact_every=3,
            )

        eng = make_engine()
        n = 4
        for i, f in enumerate(factors):
            eng.run_batch()
            n *= f
            eng.table.rescale_buckets(n)
            eng = make_engine()  # restart on top of the rescaled table
        eng.run_until_caught_up()

        table = LakeTable(spark, os.path.join(work, "table"))
        assert table.snapshot().n_buckets == n
        got = {
            (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
            for r in read_current(table).collect()
        }
        assert got == oracle_state(rows)
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    values=st.lists(st.integers(-50, 50), min_size=5, max_size=40),
    lo=st.one_of(st.none(), st.integers(-60, 60)),
    hi=st.one_of(st.none(), st.integers(-60, 60)),
    lo_strict=st.booleans(),
    hi_strict=st.booleans(),
    use_mor=st.booleans(),
)
def test_range_pruned_read_equals_full_filter(spark, tmp_path_factory,
                                              values, lo, hi, lo_strict,
                                              hi_strict, use_mor):
    """PROPERTY: for any data distribution and any interval (one-sided,
    empty, inverted, strict/inclusive), the value-bounds-pruned read
    returns exactly the rows of the unpruned filter — pruning may only
    ever remove files that provably hold no matching rows, under COW and
    across unresolved MOR deltas alike."""
    from pyspark.sql.types import (BooleanType, LongType, StringType,
                                   StructField, StructType)

    from gobblin_spark.lakehouse import LakeTable, merge_lww
    from gobblin_spark.lakehouse.merge import merge_lww_mor, read_current

    d = str(tmp_path_factory.mktemp("rangeprop"))
    schema = StructType([
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("size", LongType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ])
    t = LakeTable.create(spark, d + "/t", schema, ["repo", "path"],
                         n_buckets=4, key_cols=["repo", "path"],
                         stats_cols=["size"])
    rows = [(i, "U", f"r{i % 3}", f"p{i}", v)
            for i, v in enumerate(values)]
    batch = spark.createDataFrame(
        rows, ["seq", "op", "repo", "path", "size"])
    merge_lww(t, batch.filter("seq % 2 = 0"), ["repo", "path"])
    apply2 = merge_lww_mor if use_mor else merge_lww
    apply2(t, batch.filter("seq % 2 = 1"), ["repo", "path"])

    iv = {"size": {"lo": lo, "hi": hi,
                   "lo_strict": lo_strict, "hi_strict": hi_strict}}
    got = sorted((r["path"], r["size"])
                 for r in read_current(t, value_range=iv).collect())

    def keep(v):
        if lo is not None and (v < lo or (lo_strict and v == lo)):
            return False
        if hi is not None and (v > hi or (hi_strict and v == hi)):
            return False
        return True

    want = sorted((f"p{i}", v) for i, v in enumerate(values) if keep(v))
    assert got == want


# the commit sequence every table_changes parity example runs: COW and MOR
# writes, a rescale between MOR deltas, then a compaction folding them
CHANGES_STEPS = ("cow", "mor", "rescale", "mor", "compact", "cow")
CHANGES_EVENT = st.tuples(
    st.integers(0, 5),                                  # key
    st.sampled_from("IUD"),                             # op
    st.one_of(st.none(), st.sampled_from(["x", "y"])),  # a (NULLs too)
    st.one_of(st.none(), st.integers(0, 3)),            # b
)


@pytest.mark.parametrize("dialect", ["row", "cell"])
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    batches=st.lists(st.lists(CHANGES_EVENT, min_size=1, max_size=8),
                     min_size=4, max_size=4),
    seed=st.integers(0, 2**16),
    dup_count=st.integers(0, 4),
)
def test_table_changes_local_equals_distributed(
        spark, tmp_path_factory, dialect, batches, seed, dup_count):
    """PROPERTY: the driver-local table_changes returns exactly the rows of
    the distributed plan (merge.LOCAL_CHANGES_MAX_ROWS=-1), in
    both emit_preimages modes, for every consecutive version pair and for
    (v0, vN) — across deletes (tombstones with and without payload),
    exact duplicate re-deliveries, out-of-order seqs, NULL payload
    columns, COW and MOR commits, a rescale and a compaction. The local
    answers launch no Spark job."""
    from pyspark.sql.types import (BooleanType, LongType, MapType,
                                   StringType, StructField, StructType)

    from gobblin_spark.lakehouse import LakeTable, merge_lww
    from gobblin_spark.lakehouse.merge import compact, merge_lww_mor

    from tests.test_changelog import both_paths

    keys = ["g", "k"]
    fields = [StructField("g", StringType()), StructField("k", StringType()),
              StructField("a", StringType()), StructField("b", LongType()),
              StructField("__seq", LongType()),
              StructField("__deleted", BooleanType())]
    if dialect == "cell":
        fields += [StructField("__cells", MapType(StringType(), LongType())),
                   StructField("__del_seq", LongType())]
    d = str(tmp_path_factory.mktemp("changesprop"))
    t = LakeTable.create(spark, d + "/t", StructType(fields), keys,
                         n_buckets=2, properties={"merge_dialect": dialect})

    # seqs are a random permutation across all batches (out-of-order
    # delivery); duplicates re-deliver an earlier event verbatim
    rng = random.Random(seed)
    seqs = list(range(1, sum(map(len, batches)) + 1))
    rng.shuffle(seqs)
    it = iter(seqs)
    delivered = [[(next(it), op, f"g{k % 2}", f"k{k}", a, b)
                  for k, op, a, b in batch] for batch in batches]
    for _ in range(dup_count):
        i = rng.randrange(len(delivered))
        j = rng.randrange(i, len(delivered))
        delivered[j].append(rng.choice(delivered[i]))

    schema = "seq long, op string, g string, k string, a string, b long"
    versions = [t.current_version()]
    writes = iter(delivered)
    for step in CHANGES_STEPS:
        if step == "rescale":
            t.rescale_buckets(t.snapshot().n_buckets * 2)
        elif step == "compact":
            compact(t)
        else:
            apply = merge_lww if step == "cow" else merge_lww_mor
            apply(t, spark.createDataFrame(next(writes), schema), keys)
        versions.append(t.current_version())

    pairs = list(zip(versions, versions[1:])) + [(versions[0], versions[-1])]
    for v_from, v_to in pairs:
        for pre in (False, True):
            local, dist, jobs = both_paths(spark, t, v_from, v_to,
                                           emit_preimages=pre)
            assert local == dist, (v_from, v_to, pre)
            assert jobs == 0, (v_from, v_to, pre)


PATCH_EVENT = st.tuples(
    st.integers(0, 3),                                     # key
    st.sampled_from("UUUD"),                               # op
    st.one_of(st.none(), st.sampled_from(["c1", "c2"])),   # commit
    st.one_of(st.none(), st.sampled_from(["py", "rs"])),   # lang
    st.one_of(st.none(), st.sampled_from(["x", "y"])),     # content
)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(events=st.lists(PATCH_EVENT, min_size=1, max_size=24),
       split=st.integers(0, 24), seed=st.integers(0, 2**16))
def test_column_migration_equals_patch_oracle(spark, tmp_path_factory,
                                              events, split, seed):
    """PROPERTY: for any patch stream, folded up to any split point as the
    retired 'column' dialect left it (seq < split) with the rest stored as
    raw MOR deltas or held back as late events, compact's one-time
    migration to 'cell' keeps the visible state (the patch oracle of what
    is stored), and the late events — merged after it, out of order
    relative to the deltas — reach the oracle of the whole stream."""
    from gobblin_spark.lakehouse.merge import compact

    from tests.test_patch_dialect import (
        column_table, merge_events, patch_oracle, visible,
    )

    rows = [(seq, 0, op, f"repo_{k % 2}", f"src/f{k}.txt",
             *((None,) * 3 if op == "D" else cols), 1, 0, None)
            for seq, (k, op, *cols) in enumerate(events)]
    rng = random.Random(seed)
    rest = [r for r in rows if r[0] >= split]
    late = [r for r in rest if rng.random() < 0.4]
    raw = [r for r in rest if r not in late]
    cut = rng.randrange(len(raw) + 1)
    d = str(tmp_path_factory.mktemp("migrate"))
    t = column_table(spark, d + "/t", [r for r in rows if r[0] < split],
                     [raw[:cut], raw[cut:]])
    compact(t)
    assert t.snapshot().merge_dialect == "cell"
    assert visible(t) == patch_oracle([r for r in rows if r not in late])
    if late:
        merge_events(spark, t, late)
        assert visible(t) == patch_oracle(rows)


FOLD_EVENT = st.tuples(
    st.sampled_from(["g0", None]),                      # key column g
    st.sampled_from(["k0", "k1", None]),                # key column k
    st.integers(1, 6),                                  # seq (ties too)
    st.sampled_from("UUD"),                             # op
    st.booleans(),                                      # tombstone payload
    st.one_of(st.none(), st.sampled_from(["x", "y"])),  # a
    st.one_of(st.none(), st.integers(0, 3)),            # b
)


def _stored_rows(events, dialect: str) -> list[tuple]:
    """Stored rows (g, k, a, b, __seq, __deleted[, __cells, __del_seq]) for
    change events, as ``batch_to_stored`` shapes them. Rows sharing (key,
    seq, op) are one event delivered again, so they are made identical: a
    seq tie between different contents is undefined in every fold."""
    canon: dict = {}
    out = []
    for g, k, seq, op, keep, a, b in events:
        g, k, seq, op, keep, a, b = canon.setdefault(
            (g, k, seq, op), (g, k, seq, op, keep, a, b))
        dead = op == "D"
        if dead and not keep:
            a = b = None
        row = (g, k, a, b, seq, dead)
        if dialect == "cell":
            cells = {} if dead else {c: seq for c, v in (("a", a), ("b", b))
                                     if v is not None}
            row += (cells, seq if dead else None)
        out.append(row)
    return out


def _fold_schema(dialect: str):
    from pyspark.sql.types import (BooleanType, LongType, MapType,
                                   StringType, StructField, StructType)

    fields = [StructField("g", StringType()), StructField("k", StringType()),
              StructField("a", StringType()), StructField("b", LongType()),
              StructField("__seq", LongType()),
              StructField("__deleted", BooleanType())]
    if dialect == "cell":
        fields += [StructField("__cells", MapType(StringType(), LongType())),
                   StructField("__del_seq", LongType())]
    return StructType(fields)


def _canon(rows) -> list[tuple]:
    """Rows as sortable tuples, a cell map as its sorted entries (Spark
    collects a map as a dict, pyarrow as a list of pairs)."""
    out = []
    for r in rows:
        vals = r.values() if isinstance(r, dict) else tuple(r)
        out.append(tuple(tuple(sorted(dict(v).items()))
                         if isinstance(v, (dict, list)) else v
                         for v in vals))
    return sorted(out, key=repr)


@pytest.mark.parametrize("dialect", ["row", "cell"])
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(events=st.lists(FOLD_EVENT, min_size=1, max_size=20),
       split=st.integers(0, 20))
def test_arrow_fold_equals_stored_reduce(spark, dialect, events, split):
    """PROPERTY: the Arrow kernel (pointread.fold_keys) returns exactly the
    rows of the distributed stored reduce, for both dialects — over
    duplicates, equal seqs (a tombstone beats an upsert at its seq),
    tombstones with and without payload, NULL payloads, null key columns,
    and inputs whose first ``split`` rows were already folded."""
    import types

    from gobblin_spark.lakehouse.merge import stored_reduce
    from gobblin_spark.lakehouse.pointread import fold_keys

    keys = ["g", "k"]
    schema = _fold_schema(dialect)
    snap = types.SimpleNamespace(merge_dialect=dialect, merge_keys=keys,
                                 schema=schema)
    rows = _stored_rows(events, dialect)
    folded = stored_reduce(snap, spark.createDataFrame(rows[:split], schema),
                           keys)
    df = folded.unionByName(spark.createDataFrame(rows[split:], schema))
    want = _canon(stored_reduce(snap, df, keys).collect())
    got = _canon(fold_keys(snap, [df.toArrow()]).to_pylist())
    assert got == want


@pytest.mark.parametrize("dialect", ["row", "cell"])
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    batches=st.lists(st.lists(CHANGES_EVENT, min_size=1, max_size=10),
                     min_size=2, max_size=4),
    seed=st.integers(0, 2**16),
    gc=st.booleans(),
)
def test_local_compaction_equals_distributed(
        spark, tmp_path_factory, dialect, batches, seed, gc):
    """PROPERTY: over random MOR histories (out-of-order seqs, deletes,
    NULL payloads, a mid-history compaction), with and without a
    ``gc_horizon_seq``, the driver-side compaction and the Spark one leave
    the same stored rows, ``table_fingerprint``, ``read_current`` and
    ``table_changes`` across the compaction — and every DataFile the
    driver-side writer recorded (rows, seq bounds, tombstones, key_bounds,
    value blooms and bounds) equals what ``_index_written_files`` computes
    over the same file."""
    import os

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import (
        compact, merge_lww_mor, read_current, table_changes,
        table_fingerprint,
    )

    from tests.test_merge import COMPACT_PATHS

    keys = ["g", "k"]
    rng = random.Random(seed)
    seqs = list(range(1, sum(map(len, batches)) + 1))
    rng.shuffle(seqs)
    it = iter(seqs)
    delivered = [[(next(it), op, f"g{k % 2}", f"k{k}", a, b)
                  for k, op, a, b in batch] for batch in batches]
    horizon = rng.choice(seqs) if gc else None
    schema = "seq long, op string, g string, k string, a string, b long"
    d = str(tmp_path_factory.mktemp("compactprop"))

    tables = {}
    for path, on_path in COMPACT_PATHS.items():
        t = LakeTable.create(spark, f"{d}/{path}", _fold_schema(dialect),
                             keys, n_buckets=2, stats_cols=["a", "b"],
                             properties={"merge_dialect": dialect})
        with on_path():
            for i, batch in enumerate(delivered):
                merge_lww_mor(t, spark.createDataFrame(batch, schema), keys)
                if i == 0:
                    compact(t)
            v = t.current_version()
            snap = compact(t, gc_horizon_seq=horizon)
        assert snap.properties["compact_path"] == path
        tables[path] = (t, v)

    (loc, v), (dist, _) = tables["local"], tables["distributed"]
    assert _canon(loc.read().collect()) == _canon(dist.read().collect())
    fp = [table_fingerprint(t) for t in (loc, dist)]
    assert fp[0] == fp[1]
    assert (_canon(read_current(loc).collect())
            == _canon(read_current(dist).collect()))
    assert (_canon(table_changes(loc, v, v + 1).collect())
            == _canon(table_changes(dist, v, v + 1).collect()))

    snap = loc.snapshot()
    added = [f for f in snap.files
             if f.path not in {g.path for g in loc.snapshot(v).files}]
    for write_id in {f.path.split("/")[1] for f in added}:
        scanned = loc._index_written_files(
            os.path.join(loc.root, "data", write_id), write_id,
            snap.schema_version, "__seq", key_cols=snap.key_cols,
            spec_n=snap.n_buckets, value_stats_cols=["a", "b"],
            value_stats_m=int(snap.properties["value_stats_m"]))
        mine = [f for f in added if f.path.split("/")[1] == write_id]
        assert (sorted(scanned, key=lambda f: f.path)
                == sorted(mine, key=lambda f: f.path))
