"""Patch streams (Debezium/Mongo-style: null payload column = unchanged)
through the engine in the 'cell' dialect: engine convergence in small
batches (COW + MOR, restart, replay), compaction with tombstone GC,
patches across schema evolution, and the one-time migration of a table
stored in the retired 'column' dialect by ``compact``. ``patch_stream`` /
``patch_oracle`` / ``EVENT_SCHEMA`` are the shared pure-Python reference
the other patch tests compare against."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from gobblin_spark.engine import (
    KEYS, CdcEngine, default_registry, target_schema_for,
)
from gobblin_spark.lakehouse import LakeTable
from gobblin_spark.lakehouse.merge import (
    compact, merge_lww_mor, point_lookup, read_current, table_changes,
)

EVENT_SCHEMA = StructType([
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


def patch_stream():
    """Deterministic adversarial patch stream: interleaved single-column
    patches, delete-clears-state, post-delete rebuild, duplicate
    re-delivery, out-of-order seqs across 20 keys."""
    rows = []
    seq = 0

    def ev(op, key, commit=None, lang=None, content=None):
        nonlocal seq
        rows.append((seq, key % 4, op, f"repo_{key % 3}", f"src/f{key}.txt",
                     commit, lang, content, 1, 0,
                     len(content) if content else None))
        seq += 1

    for k in range(20):
        ev("U", k, commit=f"c{k}_0", lang="py", content=f"body {k} v0")
    for k in range(20):            # patch only the commit
        ev("U", k, commit=f"c{k}_1")
    for k in range(0, 20, 2):      # patch only the content on even keys
        ev("U", k, content=f"body {k} v2")
    for k in range(0, 20, 5):      # delete every 5th key
        ev("D", k)
    for k in (0, 10):              # rebuild two deleted keys from scratch
        ev("U", k, lang="rs")
        ev("U", k, commit=f"c{k}_3")
    # duplicate re-delivery of an early patch (exact content, later seq)
    rows.append((seq, 1 % 4, "U", "repo_1", "src/f1.txt",
                 "c1_1", None, None, 1, 0, None))
    return rows


def patch_oracle(rows):
    """Pure-Python column-granular replay."""
    per_key: dict[tuple, list] = {}
    for r in sorted(rows, key=lambda r: r[0]):
        per_key.setdefault((r[3], r[4]), []).append(r)
    out = {}
    for key, evs in per_key.items():
        last_del = max((r[0] for r in evs if r[2] == "D"), default=None)
        live = [r for r in evs if r[2] != "D"
                and (last_del is None or r[0] > last_del)]
        if not live:
            continue
        state = {}
        for col, idx in (("commit", 5), ("lang", 6), ("content", 7)):
            vals = [(r[0], r[idx]) for r in live if r[idx] is not None]
            state[col] = max(vals)[1] if vals else None
        out[key] = (state["commit"], state["lang"], state["content"])
    return out


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_patch_dialect_engine_convergence(spark, tmp_table_dir, merge_mode):
    """The patch stream through the full engine loop in small batches (a
    different fold split from ``test_cell_dialect_engine_convergence``):
    a mid-run read resolves across unfolded deltas, a restart rediscovers
    the dialect from the table property, the result equals the oracle, a
    replay from scratch is a no-op and a deleted key stays gone."""
    rows = patch_stream()
    events = spark.createDataFrame(rows, EVENT_SCHEMA)
    want = patch_oracle(rows)
    root = os.path.join(tmp_table_dir, merge_mode)

    def make_engine(**dialect):
        return CdcEngine(
            spark, events,
            table_root=os.path.join(root, "table"),
            state_root=os.path.join(root, "state"),
            max_records_per_batch=10, n_buckets=4,
            merge_mode=merge_mode, compact_every=3, **dialect,
        )

    eng = make_engine(merge_dialect="cell")
    assert eng.run_batch() is not None
    if merge_mode == "mor":
        # read across UNFOLDED deltas mid-run: patch resolution on read
        assert read_current(eng.table).count() > 0
    # restart with the default dialect argument: the table property wins
    eng = make_engine()
    assert eng.table.snapshot().merge_dialect == "cell"
    eng.run_until_caught_up()

    got = {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
           for r in read_current(eng.table).collect()}
    assert got == want
    # replay from scratch over the same state is a no-op
    assert make_engine().run_until_caught_up() == []

    # point lookup honors the dialect (rebuilt-after-delete key)
    row = point_lookup(eng.table,
                       {"repo": "repo_0", "path": "src/f0.txt"}).collect()
    assert len(row) == 1
    assert (row[0]["commit"], row[0]["lang"]) == ("c0_3", "rs")
    # deleted, never-rebuilt key stays gone
    assert point_lookup(eng.table,
                        {"repo": "repo_2", "path": "src/f5.txt"}).count() == 0


def test_patch_dialect_compaction_folds_and_gc(spark, tmp_table_dir):
    """After compaction the table holds at most one row per key, values
    still match the oracle, and gc_horizon drops dead tombstones — on both
    compaction paths."""
    from gobblin_spark.lakehouse.merge import compact

    from tests.test_merge import COMPACT_PATHS

    rows = patch_stream()
    events = spark.createDataFrame(rows, EVENT_SCHEMA)
    max_seq = max(r[0] for r in rows)
    for path, on_path in COMPACT_PATHS.items():
        eng = CdcEngine(
            spark, events,
            table_root=os.path.join(tmp_table_dir, path, "table"),
            state_root=os.path.join(tmp_table_dir, path, "state"),
            max_records_per_batch=30,
            n_buckets=4,
            merge_mode="mor",
            merge_dialect="cell",
            compact_every=None,
            compact_delta_ratio=None,
        )
        eng.run_until_caught_up()
        t = eng.table
        with on_path():
            snap = compact(t, gc_horizon_seq=max_seq)
        assert snap.properties["compact_path"] == path
        stored = t.read()
        # one row per key after the fold
        assert stored.count() == (
            stored.select("repo", "path").distinct().count())
        # tombstones at/below the horizon are gone
        assert stored.filter("__deleted").count() == 0
        got = {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
               for r in read_current(t).collect()}
        assert got == patch_oracle(rows)


def test_patch_dialect_across_schema_evolution(spark, tmp_table_dir):
    """Patch semantics compose with the schema registry: v1-era rows (no
    size_bytes), an op='S' marker evolving the target to v2, then v2 patch
    rows setting ONLY size_bytes. The new column backfills per key from its
    latest non-null value; untouched keys read null; unrelated columns keep
    their pre-evolution values (read-time conformance + per-column fold)."""
    rows = []
    # v1 era: full rows for keys 0..5
    for k in range(6):
        rows.append((k, k % 4, "U", f"repo_{k % 3}", f"src/f{k}.txt",
                     f"c{k}", "py", f"body {k}", 1, 0, None))
    # schema-change marker at seq 6 (v2 adds size_bytes int)
    rows.append((6, 0, "S", None, None, None, None, None, 2, 0, None))
    # v2 era: size_bytes-only patches for even keys + one commit patch
    for i, k in enumerate(range(0, 6, 2)):
        rows.append((7 + i, k % 4, "U", f"repo_{k % 3}", f"src/f{k}.txt",
                     None, None, None, 2, 0, 1000 + k))
    rows.append((10, 1 % 4, "U", "repo_1", "src/f1.txt",
                 "c1_v2", None, None, 2, 0, None))

    events = spark.createDataFrame(rows, EVENT_SCHEMA)
    eng = CdcEngine(
        spark, events,
        table_root=os.path.join(tmp_table_dir, "table"),
        state_root=os.path.join(tmp_table_dir, "state"),
        max_records_per_batch=5,  # evolution happens mid-run
        n_buckets=4,
        merge_mode="mor",
        merge_dialect="cell",
        compact_every=2,
    )
    eng.run_until_caught_up()
    assert int(eng.table.snapshot().properties["registry_version"]) >= 2

    got = {(r["repo"], r["path"]): (r["commit"], r["content"],
                                    r["size_bytes"])
           for r in read_current(eng.table).collect()}
    assert got[("repo_0", "src/f0.txt")] == ("c0", "body 0", 1000)
    assert got[("repo_2", "src/f2.txt")] == ("c2", "body 2", 1002)
    # commit patched in v2, size never set -> null; body kept from v1
    assert got[("repo_1", "src/f1.txt")] == ("c1_v2", "body 1", None)
    # untouched v1 keys: evolved column reads null
    assert got[("repo_0", "src/f3.txt")] == ("c3", "body 3", None)
    assert len(got) == 6


def column_fold(rows):
    """The stored rows the retired 'column' dialect's fold left for event
    tuples ``rows``: per key, each column's latest non-null value among
    the live events after the key's last delete, all under one ``__seq``
    (the max live seq); a key whose last word is the delete keeps one
    tombstone at the delete's seq."""
    live = patch_oracle(rows)
    out = []
    for key in {(r[3], r[4]) for r in rows}:
        evs = [r for r in rows if (r[3], r[4]) == key]
        last_del = max((r[0] for r in evs if r[2] == "D"), default=-1)
        if key in live:
            seq = max(r[0] for r in evs if r[2] != "D" and r[0] > last_del)
            out.append((*key, *live[key], seq, False))
        else:
            out.append((*key, None, None, None, last_del, True))
    return out


def column_table(spark, root, folded, raw_chunks):
    """A table in the retired 'column' dialect as the old engine left it:
    the events ``folded`` pre-folded into v1 files, the schema then evolved
    to v2 (adds size_bytes), and each chunk of ``raw_chunks`` appended raw
    — tombstones for deletes — as one MOR delta commit."""
    reg = default_registry()
    t = LakeTable.create(
        spark, root, target_schema_for(reg, 1), KEYS, n_buckets=4,
        properties={"merge_dialect": "column", "registry_version": 1},
        key_cols=KEYS)

    def append(rows, version, props=None):
        df = spark.createDataFrame(rows, target_schema_for(reg, version))
        files = t.write_data_files(df, seq_col="__seq",
                                   reduced=props is None)
        t.commit(keep_files=t.snapshot().files, add_files=files,
                 properties=props)

    if folded:
        append(column_fold(folded), 1)
    t.commit(keep_files=t.snapshot().files, add_files=[],
             schema=target_schema_for(reg, 2), schema_version=2,
             schema_log_append=[{"v": 2, "op": "add", "col": "size_bytes",
                                 "type": "int"}],
             properties={"registry_version": 2})
    for chunk in filter(None, raw_chunks):
        append([(r[3], r[4], r[5], r[6], r[7], r[10], r[0], r[2] == "D")
                for r in chunk], 2, {"mor_deltas": 1})
    return t


def merge_events(spark, table, rows):
    """MOR-append event tuples to a v2 table."""
    df = spark.createDataFrame(rows, EVENT_SCHEMA).selectExpr(
        *KEYS, "commit", "lang", "content",
        "CAST(size_bytes AS INT) AS size_bytes", "seq", "op")
    merge_lww_mor(table, df, KEYS)


def visible(table):
    return {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
            for r in read_current(table).collect()}


def test_column_table_migrates_at_compact(spark, tmp_table_dir):
    """A table stored in the retired 'column' dialect — pre-folded rows in
    a v1 file (key f5 a bare tombstone), raw MOR deltas at v2 (f0 and f10
    rebuilt after their delete, a tombstone-only ghost key) — is refused
    by every reader and writer with an error naming ``compact``. One
    compact migrates it to 'cell' with the oracle's visible state, and a
    late pre-delete patch the old fold would have resurrected (it dropped
    f10's superseded delete) stays dead."""
    from gobblin_spark.replay import replay_errors
    from gobblin_spark.streaming.ingest import stream_ingest

    d = tmp_table_dir
    rows = patch_stream() + [
        (59, 0, "D", "repo_9", "src/ghost.txt", None, None, None, 1, 0, None)]
    t = column_table(spark, d + "/t", [r for r in rows if r[0] < 52],
                     [[r for r in rows if 52 <= r[0] < 55],
                      [r for r in rows if r[0] >= 55]])
    events = spark.createDataFrame(rows, EVENT_SCHEMA)
    key = {"repo": "repo_1", "path": "src/f10.txt"}
    for call in (
            lambda: CdcEngine(spark, events, d + "/t", d + "/s"),
            lambda: stream_ingest(spark, d + "/ev", d + "/t", d + "/s",
                                  d + "/ckpt"),
            lambda: replay_errors(spark, d + "/err", d + "/t", d + "/s"),
            lambda: point_lookup(t, key),
            lambda: read_current(t),
            lambda: table_changes(t, 1)):
        with pytest.raises(ValueError, match="'column'.*compact"):
            call()

    compact(t)
    assert t.snapshot().merge_dialect == "cell"
    # the one-time migration rewrites the table on Spark
    assert t.snapshot().properties["compact_path"] == "distributed"
    assert t.snapshot().properties["compact_reason"] == "migration"
    assert visible(t) == patch_oracle(rows)

    late = [(51, 2, "U", "repo_1", "src/f10.txt", None, None, "late", 1, 0, 4),
            (60, 3, "U", "repo_0", "src/f3.txt", None, None, "new", 1, 0, 3)]
    merge_events(spark, t, late)
    assert visible(t) == patch_oracle(rows + late)
    assert visible(t)[("repo_1", "src/f10.txt")] == ("c10_3", "rs", None)
