"""LWW MERGE semantics vs the DuckDB oracle replay.

Covers the compaction-dedup semantics of the reference
(AvroKeyDedupReducer.java:52-55 keep-last-per-key) plus the cross-batch
out-of-order/duplicate/tombstone cases the reference only solves by full
recompaction (MRCompactor.java:147-157).
"""

import contextlib

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gobblin_spark.lakehouse import LakeTable, merge, merge_lww
from gobblin_spark.lakehouse.merge import gc_tombstones, lww_reduce, read_current
from gobblin_spark.sources import generate_change_events

from tests.oracle import assert_matches_oracle

TARGET_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ]
)

KEYS = ["repo", "path"]


def make_events(spark, n=2000, **kw):
    kw.setdefault("n_repos", 20)
    kw.setdefault("paths_per_repo", 40)
    return generate_change_events(spark, n, **kw).cache()


def new_table(spark, d):
    return LakeTable.create(spark, d, TARGET_SCHEMA, KEYS, n_buckets=8)


def data_events(events):
    return events.filter(F.col("op").isin("I", "U", "D")).drop("version")


@contextlib.contextmanager
def distributed_compaction():
    """compact on its Spark path: a bound of -1 bytes disables the
    driver-side fold (merge.LOCAL_COMPACT_MAX_BYTES)."""
    prev = merge.LOCAL_COMPACT_MAX_BYTES
    merge.LOCAL_COMPACT_MAX_BYTES = -1
    try:
        yield
    finally:
        merge.LOCAL_COMPACT_MAX_BYTES = prev


# each compaction path, with the context that makes compact take it
COMPACT_PATHS = {"local": contextlib.nullcontext,
                 "distributed": distributed_compaction}


def test_lww_reduce_basic(spark):
    df = spark.createDataFrame(
        [
            (1, "I", "r", "a", "v1"),
            (3, "U", "r", "a", "v3"),
            (2, "U", "r", "a", "v2"),
            (1, "I", "r", "b", "b1"),
        ],
        ["seq", "op", "repo", "path", "content"],
    )
    out = {(r["repo"], r["path"]): r["content"]
           for r in lww_reduce(df, KEYS).collect()}
    assert out == {("r", "a"): "v3", ("r", "b"): "b1"}


def test_lww_reduce_salted_matches_plain(spark):
    ev = make_events(spark, 3000)
    d = data_events(ev)
    plain = lww_reduce(d, KEYS).orderBy("repo", "path")
    salted = lww_reduce(d, KEYS, salt_buckets=7).orderBy("repo", "path")
    assert plain.collect() == salted.collect()
    # selective: only hottest repos take the two-stage path
    hot = d.groupBy("repo", "path").count().orderBy(F.desc("count")).limit(5)
    selective = lww_reduce(d, KEYS, salt_buckets=7, hot_keys=hot).orderBy(
        "repo", "path"
    )
    assert plain.collect() == selective.collect()


def test_single_batch_merge_matches_oracle(spark, tmp_table_dir):
    ev = make_events(spark, 2000, dup_frac=0.1, delete_frac=0.1, ooo_window=200)
    t = new_table(spark, tmp_table_dir)
    merge_lww(t, data_events(ev), KEYS)
    assert_matches_oracle(read_current(t), ev)


def test_multi_batch_merge_matches_oracle(spark, tmp_table_dir):
    """Events applied in 4 seq-range batches — the incremental path."""
    ev = make_events(spark, 2000, dup_frac=0.08, delete_frac=0.08, ooo_window=300)
    t = new_table(spark, tmp_table_dir)
    n = ev.count()
    step = n // 4 + 1
    for lo in range(0, n, step):
        batch = data_events(ev).filter(
            (F.col("seq") >= lo) & (F.col("seq") < lo + step)
        )
        merge_lww(t, batch, KEYS)
    assert_matches_oracle(read_current(t), ev)


def test_reapply_batch_is_idempotent(spark, tmp_table_dir):
    ev = make_events(spark, 1500, delete_frac=0.1)
    t = new_table(spark, tmp_table_dir)
    batch = data_events(ev)
    merge_lww(t, batch, KEYS)
    before = sorted(read_current(t).collect())
    merge_lww(t, batch, KEYS)  # blind re-run (crash recovery path)
    after = sorted(read_current(t).collect())
    assert before == after
    assert_matches_oracle(read_current(t), ev)


def test_tombstone_blocks_late_update(spark, tmp_table_dir):
    """U(seq=5) arriving AFTER D(seq=10) was applied must not resurrect."""
    t = new_table(spark, tmp_table_dir)
    cols = ["seq", "op", "repo", "path", "commit", "lang", "content"]
    b1 = spark.createDataFrame(
        [(10, "D", "r", "a", None, None, None),
         (1, "I", "r", "b", "c1", "py", "keep-me")], cols
    )
    merge_lww(t, b1, KEYS)
    assert read_current(t).count() == 1
    b2 = spark.createDataFrame(
        [(5, "U", "r", "a", "c5", "py", "late-loser")], cols
    )
    merge_lww(t, b2, KEYS)
    rows = read_current(t).collect()
    assert len(rows) == 1 and rows[0]["path"] == "b"
    # but a LATER update (seq=11) re-inserts
    b3 = spark.createDataFrame(
        [(11, "U", "r", "a", "c11", "py", "alive-again")], cols
    )
    merge_lww(t, b3, KEYS)
    assert read_current(t).count() == 2


def test_gc_tombstones(spark, tmp_table_dir):
    t = new_table(spark, tmp_table_dir)
    cols = ["seq", "op", "repo", "path", "commit", "lang", "content"]
    b1 = spark.createDataFrame(
        [(10, "D", "r", "a", None, None, None),
         (20, "U", "r", "b", "c", "py", "live")], cols
    )
    merge_lww(t, b1, KEYS)
    raw = t.read()
    assert raw.count() == 2  # tombstone physically present
    gc_tombstones(t, horizon_seq=15)
    assert t.read().count() == 1  # tombstone gone
    assert read_current(t).count() == 1  # visible state unchanged


def test_merge_only_rewrites_affected_buckets(spark, tmp_table_dir):
    """Copy-on-write boundedness: files in untouched buckets survive."""
    ev = make_events(spark, 2000)
    t = new_table(spark, tmp_table_dir)
    merge_lww(t, data_events(ev), KEYS)
    files_before = {f.path: f.bucket for f in t.snapshot().files}
    cols = ["seq", "op", "repo", "path", "commit", "lang", "content"]
    one = spark.createDataFrame(
        [(10_000_000, "U", "repo_0001", "src/f1.txt", "c", "py", "x")], cols
    )
    merge_lww(t, one, KEYS)
    snap = t.snapshot()
    kept = [f for f in snap.files if f.path in files_before]
    new = [f for f in snap.files if f.path not in files_before]
    new_buckets = {f.bucket for f in new}
    assert len(new_buckets) == 1  # exactly one bucket rewritten
    assert all(f.bucket not in new_buckets for f in kept)
    assert len(kept) > 0


def test_gc_preserves_schema_evolution(spark, tmp_table_dir):
    """Regression: gc_tombstones must conform old-schema-version files to
    the current schema before re-labeling the rewrite at the current
    version. A raw parquet read would silently null renamed columns."""
    from gobblin_spark.engine import (
        CdcEngine, default_registry, evolve_target_to,
    )
    from gobblin_spark.lakehouse.table import LakeTable as LT

    t = LakeTable.create(spark, tmp_table_dir + "/t", TARGET_SCHEMA, KEYS,
                         n_buckets=4, key_cols=KEYS,
                         properties={"registry_version": 1})
    rows = [
        ("r1", f"p{i}", f"c{i}", "py", f"content {i}", i, i % 3 == 0)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, TARGET_SCHEMA)
    t.append(df, seq_col="__seq")
    # evolve v1 -> v4 (adds size_bytes, renames lang -> language); files on
    # disk stay at v1
    evolve_target_to(t, default_registry(), 4)
    snap = gc_tombstones(t, horizon_seq=100)
    # all v1 files holding tombstones were rewritten at the current version
    out = read_current(t).orderBy("path").collect()
    assert len(out) == 20  # 10 tombstones dropped
    assert all(r["language"] == "py" for r in out), \
        "rename lost during GC rewrite"
    assert "lang" not in read_current(t).columns


def test_compact_uses_table_keys_not_buckets(spark, tmp_table_dir):
    """A table bucketed on a strict subset of its merge keys must still
    compact per full key — distinct keys sharing a bucket column must NOT
    be collapsed."""
    from gobblin_spark.lakehouse.merge import compact, merge_lww_mor

    t = LakeTable.create(spark, tmp_table_dir + "/t", TARGET_SCHEMA,
                         bucket_cols=["repo"], n_buckets=4, key_cols=KEYS)
    rows = [
        ("r1", f"p{i}", f"c{i}", "py", f"content {i}", i, False)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, TARGET_SCHEMA).select(
        "repo", "path", "commit", "lang", "content",
        F.col("__seq").alias("seq"),
        F.when(F.col("__deleted"), "D").otherwise("U").alias("op"),
    )
    merge_lww_mor(t, df, KEYS, seq_col="seq")
    merge_lww_mor(t, df, KEYS, seq_col="seq")  # duplicate delivery
    compact(t)
    out = read_current(t)
    # 10 distinct (repo, path) keys must all survive compaction even though
    # they share one bucket value (repo='r1')
    assert out.count() == 10


def test_bucket_cols_must_be_subset_of_keys(spark, tmp_table_dir):
    with pytest.raises(ValueError):
        LakeTable.create(spark, tmp_table_dir + "/bad", TARGET_SCHEMA,
                         bucket_cols=["repo", "commit"], key_cols=KEYS)


def test_crash_mid_compaction_leaves_table_readable(spark, tmp_table_dir,
                                                    monkeypatch):
    """A crash AFTER compaction wrote its rewrite files but BEFORE the
    manifest publish must leave readers on the old snapshot, the orphans
    vacuumable, and a re-run compaction convergent — on both compaction
    paths."""
    from gobblin_spark.lakehouse.merge import compact, merge_lww_mor, read_current
    from gobblin_spark.lakehouse.table import LakeTable

    ev = make_events(spark, 1200, dup_frac=0.05, delete_frac=0.05,
                     ooo_window=100)
    n = ev.count()
    step = n // 2 + 1
    for path, on_path in COMPACT_PATHS.items():
        t = new_table(spark, f"{tmp_table_dir}/{path}")
        for lo in range(0, n, step):
            batch = data_events(ev).filter(
                (F.col("seq") >= lo) & (F.col("seq") < lo + step)
            )
            merge_lww_mor(t, batch, KEYS, seq_col="seq", op_col="op")

        before = {(r["repo"], r["path"], r["commit"])
                  for r in read_current(t).collect()}
        v_before = t.snapshot().version

        real_publish = LakeTable._publish_manifest

        def boom(self, snap):
            raise RuntimeError("simulated crash before manifest publish")

        monkeypatch.setattr(LakeTable, "_publish_manifest", boom)
        try:
            with on_path():
                compact(t)
            assert False, "compact should have crashed"
        except RuntimeError:
            pass
        monkeypatch.setattr(LakeTable, "_publish_manifest", real_publish)

        # table still serves the pre-crash snapshot
        assert t.snapshot().version == v_before
        assert {(r["repo"], r["path"], r["commit"])
                for r in read_current(t).collect()} == before
        # orphaned rewrite files are vacuumable, then compaction converges
        removed = t.vacuum()
        assert removed > 0
        with on_path():
            compact(t)
        assert {(r["repo"], r["path"], r["commit"])
                for r in read_current(t).collect()} == before
        props = t.snapshot().properties
        assert int(props.get("mor_deltas", 1)) == 0
        assert props["compact_path"] == path


def test_lww_patch_reduce_column_granular_semantics(spark):
    """Patch merge: null = unchanged (per-column latest non-null), a delete
    clears ALL prior state (old columns never resurface), a key whose last
    event is the delete vanishes, and post-delete patches rebuild from
    scratch."""
    from gobblin_spark.lakehouse.merge import lww_patch_reduce

    rows = [
        # key A: field patches interleave; both survive independently
        (0, "U", "A", "x1", None),
        (1, "U", "A", None, 10.0),
        (2, "U", "A", "x2", None),
        # key B: deleted at 4 — the seq-3 state must NOT resurface
        (3, "U", "B", "b1", 7.0),
        (4, "D", "B", None, None),
        (5, "U", "B", None, 9.0),
        # key C: delete is the last word — vanishes entirely
        (6, "U", "C", "c1", 1.0),
        (7, "D", "C", None, None),
        # key E: out-of-order delivery — seq decides, not arrival
        (9, "U", "E", "new", None),
        (8, "U", "E", "old", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "seq long, op string, user string, name string, score double")
    got = {r["user"]: (r["seq"], r["name"], r["score"])
           for r in lww_patch_reduce(df, ["user"], "seq").collect()}
    assert got == {
        "A": (2, "x2", 10.0),     # name from seq2, score from seq1
        "B": (5, None, 9.0),      # b1/7.0 cleared by delete; only seq5 patch
        "E": (9, "new", 5.0),     # per-column latest by seq
    }


def test_point_lookup_prunes_to_one_bucket(spark, tmp_table_dir):
    """point_lookup: correct current state for a live key, empty for a
    deleted key and a never-seen key, and the read touches ONLY the key's
    bucket files (captured via read_file_set)."""
    from gobblin_spark.lakehouse.merge import point_lookup

    ev = make_events(spark, 2000)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)

    want = {(r["repo"], r["path"]): r["commit"]
            for r in read_current(t).collect()}
    live_key = next(iter(sorted(want)))
    # a key that was delivered but whose LWW winner is a delete
    all_keys = {(r["repo"], r["path"])
                for r in data_events(ev).select(*KEYS).distinct().collect()}
    deleted = sorted(all_keys - set(want))

    seen_file_counts = []
    orig = LakeTable.read_file_set

    def spy(self, files, snap=None):
        seen_file_counts.append(len(files))
        return orig(self, files, snap)

    LakeTable.read_file_set = spy
    try:
        got = point_lookup(t, {"repo": live_key[0], "path": live_key[1]},
                           prefer_local=False)
        rows = got.collect()
        assert len(rows) == 1
        assert rows[0]["commit"] == want[live_key]

        if deleted:
            dk = deleted[0]
            assert point_lookup(
                t, {"repo": dk[0], "path": dk[1]},
                prefer_local=False).count() == 0
        assert point_lookup(
            t, {"repo": "no_such", "path": "nope"},
            prefer_local=False).count() == 0
    finally:
        LakeTable.read_file_set = orig

    total_files = len(t.snapshot().files)
    assert total_files >= 8  # one file per bucket at least
    assert all(n <= total_files / 4 for n in seen_file_counts), (
        seen_file_counts, total_files)

    # missing merge key fails fast
    import pytest as _pytest
    with _pytest.raises(ValueError):
        point_lookup(t, {"repo": "only_half_the_key"})


def test_key_bounds_skip_mor_delta_files(spark, tmp_table_dir):
    """Manifest-level key_bounds data skipping (≙ Iceberg manifest-entry
    lower/upper bounds): every written file records per-key-column min/max
    in the same executor-side stats pass; a point lookup then skips, inside
    the key's bucket, every MOR delta file whose bounds exclude the probe
    key — strictly fewer files read than bucket pruning alone, with the
    identical result. Also pins soundness: bounds actually contain every
    key in the file, and a legacy file without bounds is never pruned."""
    from gobblin_spark.lakehouse.merge import merge_lww_mor, point_lookup

    ev = make_events(spark, 3000)
    t = new_table(spark, tmp_table_dir + "/t")
    d = data_events(ev)
    # 6 narrow delta batches: each holds a disjoint slice of repos, so each
    # delta file's repo bounds cover only its slice
    for i in range(6):
        batch = d.filter(F.pmod(F.xxhash64("repo"), F.lit(6)) == i)
        merge_lww_mor(t, batch, KEYS, seq_col="seq")

    snap = t.snapshot()
    bounded = [f for f in snap.files if f.key_bounds]
    assert bounded, "writes must record key_bounds"
    # soundness: recorded bounds contain every key actually in the file
    probe = bounded[0]
    rows = spark.read.parquet(t.root + "/" + probe.path).select(*KEYS).collect()
    for r in rows:
        for c in KEYS:
            lo, hi = probe.key_bounds[c]
            assert lo <= r[c] <= hi

    want = {(r["repo"], r["path"]): r["commit"]
            for r in read_current(t).collect()}
    live_key = next(iter(sorted(want)))

    counts = []
    orig = LakeTable.read_file_set

    def spy(self, files, snap=None):
        counts.append(len(files))
        return orig(self, files, snap)

    LakeTable.read_file_set = spy
    try:
        got = point_lookup(t, {"repo": live_key[0], "path": live_key[1]},
                           prefer_local=False)
        assert got.collect()[0]["commit"] == want[live_key]
    finally:
        LakeTable.read_file_set = orig

    one = spark.createDataFrame([live_key], KEYS)
    bucket = next(iter(t.buckets_of(one)))
    bucket_files = [f for f in snap.files if f.bucket == bucket]
    # the probe repo lives in exactly one of the 6 delta slices: bounds
    # must have excluded most of the bucket's delta files
    assert counts[-1] < len(bucket_files), (counts, len(bucket_files))

    # legacy manifest entries (no bounds) are never pruned: strip bounds
    # and the lookup still returns the same row over MORE files
    for f in snap.files:
        f.key_bounds = None
    counts.clear()
    LakeTable.read_file_set = spy
    try:
        got = point_lookup(t, {"repo": live_key[0], "path": live_key[1]},
                           prefer_local=False)
        assert got.collect()[0]["commit"] == want[live_key]
    finally:
        LakeTable.read_file_set = orig
    assert counts[-1] == len(bucket_files)


def test_compaction_sorts_by_key_and_keeps_bounds(spark, tmp_table_dir):
    """Compaction writes key-sorted files (narrow parquet row-group stats)
    and the rewritten base files carry key_bounds; results unchanged — on
    both compaction paths."""
    from gobblin_spark.lakehouse.merge import compact, merge_lww_mor

    ev = make_events(spark, 2000)
    for path, on_path in COMPACT_PATHS.items():
        t = new_table(spark, f"{tmp_table_dir}/{path}")
        merge_lww_mor(t, data_events(ev), KEYS, seq_col="seq")
        with on_path():
            compact(t)

        snap = t.snapshot()
        assert snap.properties["compact_path"] == path
        assert all(f.key_bounds for f in snap.files)
        # rows inside each compacted file are sorted by (repo, path)
        f0 = max(snap.files, key=lambda f: f.rows)
        rows = [(r["repo"], r["path"]) for r in spark.read.parquet(
            t.root + "/" + f0.path).select(*KEYS).collect()]
        assert rows == sorted(rows)
        assert_matches_oracle(read_current(t), data_events(ev))


def test_point_lookup_legacy_manifest_without_key_cols(
        spark, tmp_table_dir, monkeypatch):
    """Manifests written before key_cols existed deserialize with
    key_cols=None; point_lookup must fall back to Snapshot.merge_keys
    (→ bucket_cols) like every other read path — working without
    key-bounds pruning, never raising."""
    import dataclasses

    from gobblin_spark.lakehouse.merge import point_lookup

    ev = make_events(spark, 800)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)
    want = {(r["repo"], r["path"]): r["commit"]
            for r in read_current(t).collect()}
    live_key = next(iter(sorted(want)))

    legacy = dataclasses.replace(t.snapshot(), key_cols=None)
    assert legacy.merge_keys == KEYS  # the documented fallback
    monkeypatch.setattr(LakeTable, "snapshot",
                        lambda self, v=None: legacy)
    got = point_lookup(t, {"repo": live_key[0], "path": live_key[1]})
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["commit"] == want[live_key]


def test_hot_buckets_selection_and_incremental_compaction(
        spark, tmp_table_dir):
    """Per-bucket compaction temperature: skewed deltas mark ONLY their
    buckets hot; compact(buckets=hot) rewrites those and leaves every cold
    bucket's files byte-identical (same manifest paths)."""
    from gobblin_spark.lakehouse.merge import (
        compact,
        hot_buckets,
        merge_lww_mor,
    )

    ev = make_events(spark, 2000)
    t = new_table(spark, tmp_table_dir + "/t")
    d = data_events(ev)
    merge_lww_mor(t, d, KEYS)
    compact(t)  # established base: every bucket one reduced file
    base_snap = t.snapshot()
    assert hot_buckets(base_snap, 0.05) == set()

    # skewed churn: deltas land in TWO of the 8 buckets (bucket is
    # hash(repo, path), so per-bucket skew is constructed per-bucket)
    from gobblin_spark.lakehouse.table import bucket_expr
    skew = (d.withColumn("__b", bucket_expr(KEYS, 8))
            .filter(F.col("__b").isin(0, 1)).drop("__b"))
    merge_lww_mor(t, skew, KEYS)
    snap = t.snapshot()
    hot = hot_buckets(snap, 0.05)
    touched = {f.bucket for f in snap.files if not f.reduced}
    assert hot == touched and 0 < len(hot) < snap.n_buckets

    cold_paths = {f.path for f in base_snap.files if f.bucket not in hot}
    after = compact(t, buckets=hot)
    assert int(after.properties.get("mor_deltas", 0)) == 0
    assert not [f for f in after.files if not f.reduced]
    # cold buckets: untouched, byte-identical manifest entries
    assert cold_paths <= {f.path for f in after.files}
    assert hot_buckets(after, 0.05) == set()
    assert_matches_oracle(read_current(t), d)


def test_engine_per_bucket_compaction_temperature(spark, tmp_table_dir):
    """Engine wiring: with compact_bucket_ratio set and the table-wide
    triggers quiet, a skewed batch compacts only its hot buckets — cold
    buckets' files survive by path — and the final state matches the
    oracle."""
    from gobblin_spark.engine import CdcEngine

    ev = make_events(spark, 2400, delete_frac=0.0)
    d = data_events(ev)
    from gobblin_spark.lakehouse.table import bucket_expr
    hi = int(d.agg(F.max("seq")).first()[0])
    # phase 1: everything up to hi; phase 2: two buckets' rows
    # re-delivered at later seqs (updates) — hot tenants churning
    phase2 = (d.withColumn("__b", bucket_expr(KEYS, 8))
              .filter(F.col("__b").isin(0, 1)).drop("__b")
              .withColumn("seq", F.col("seq") + F.lit(hi + 1)))
    events = d.unionByName(phase2)

    eng = CdcEngine(
        spark, events, tmp_table_dir + "/t", tmp_table_dir + "/s",
        max_records_per_batch=d.count(),  # phase 1 = batch 1, phase 2 = 2
        n_buckets=8, merge_mode="mor",
        compact_every=1,  # full pass after batch 1 establishes the base
        compact_delta_ratio=None, compact_bucket_ratio=0.05,
    )
    r1 = eng.run_batch()
    assert not r1.empty
    snap1 = eng.table.snapshot()
    assert int(snap1.properties.get("mor_deltas", 0)) == 0
    cold_paths = {f.path for f in snap1.files}

    eng.compact_every = None  # table-wide triggers now quiet
    r2 = eng.run_batch()
    assert not r2.empty
    snap2 = eng.table.snapshot()
    comp_buckets = snap2.properties.get("compacted_buckets")
    assert comp_buckets and len(comp_buckets) < snap1.n_buckets
    assert int(snap2.properties.get("mor_deltas", 0)) == 0
    # cold buckets' base files survived the incremental pass by path
    survived = {f.path for f in snap2.files}
    assert {p for p in cold_paths
            if not any(f.path == p and f.bucket in set(comp_buckets)
                       for f in snap1.files)} <= survived

    assert_matches_oracle(read_current(eng.table), events)


def test_compact_splits_giant_bucket(spark, tmp_table_dir):
    """Giant-bucket guard: a bucket whose row count exceeds
    max_rows_per_file compacts into ceil(rows/cap) hash-split files (one
    merge key's rows never straddle splits), cold buckets stay single-file,
    and the visible state is unchanged."""
    from gobblin_spark.lakehouse.merge import merge_lww_mor, point_lookup
    from gobblin_spark.lakehouse.merge import compact as compact_fn

    ev = make_events(spark, 4000, n_repos=1, paths_per_repo=1500)
    t = new_table(spark, tmp_table_dir + "/t")
    d = data_events(ev)
    hi = int(d.agg(F.max("seq")).first()[0])
    merge_lww_mor(t, d.filter(F.col("seq") <= hi // 2), KEYS)
    merge_lww_mor(t, d.filter(F.col("seq") > hi // 2), KEYS)

    want = sorted(map(tuple, read_current(t).collect()))
    snap = compact_fn(t, max_rows_per_file=200)
    # a split bucket takes the Spark path
    assert snap.properties["compact_path"] == "distributed"
    assert snap.properties["compact_reason"] == "split"
    per_bucket = {}
    for f in snap.files:
        per_bucket.setdefault(f.bucket, []).append(f)
    # every bucket's files respect the cap-ish bound (hash split is
    # approximately even; allow 2x slack) and at least one bucket split
    assert any(len(fl) > 1 for fl in per_bucket.values())
    for fl in per_bucket.values():
        for f in fl:
            assert f.rows <= 2 * 200, f.rows
    assert sorted(map(tuple, read_current(t).collect())) == want
    assert int(snap.properties.get("mor_deltas", 0)) == 0

    # point lookup still resolves through split files (both paths)
    k = want[0]
    rows = point_lookup(t, {"repo": k[0], "path": k[1]}).collect()
    rows2 = point_lookup(t, {"repo": k[0], "path": k[1]},
                         prefer_local=False).collect()
    assert len(rows) == 1
    assert [r.asDict() for r in rows] == [r.asDict() for r in rows2]

    # the trace belongs to the compaction's commit: neither the next
    # ingest nor a pass that rewrites nothing reports a compaction
    merge_lww_mor(t, d.limit(50), KEYS)
    assert "compact_path" not in t.snapshot().properties
    noop = compact_fn(t, buckets=set())
    assert noop.version == t.current_version()
    assert "compact_path" not in noop.properties
    assert "compact_reason" not in noop.properties

    # a later compaction folds split files back together when under cap
    snap2 = compact_fn(t)
    assert snap2.properties["compact_path"] == "local"
    assert snap2.properties["compact_reason"] is None
    per_bucket2 = {}
    for f in snap2.files:
        per_bucket2.setdefault(f.bucket, []).append(f)
    assert all(len(fl) == 1 for fl in per_bucket2.values())
    assert sorted(map(tuple, read_current(t).collect())) == want


def test_file_uri_table_root(spark, tmp_table_dir):
    """A table created at a ``file://`` root, with a Hadoop commit plane,
    records root-relative data paths from both writers, so the Spark read,
    compaction, point lookups, changelog reads and vacuum all find its
    files."""
    from gobblin_spark.fsio import HadoopFs
    from gobblin_spark.lakehouse.merge import (
        compact, merge_lww_mor, point_lookup, table_changes,
    )

    t = LakeTable.create(spark, "file://" + tmp_table_dir + "/t",
                         TARGET_SCHEMA, KEYS, n_buckets=8,
                         fs=HadoopFs(spark, uri="file:///"))
    assert t.local_root == tmp_table_dir + "/t"
    d = data_events(make_events(spark, 600))
    hi = int(d.agg(F.max("seq")).first()[0])
    merge_lww_mor(t, d.filter(F.col("seq") <= hi // 2), KEYS)
    v1 = t.current_version()
    merge_lww_mor(t, d.filter(F.col("seq") > hi // 2), KEYS)
    v2 = t.current_version()
    assert all(f.path.startswith("data/") for f in t.snapshot().files)
    assert_matches_oracle(read_current(t), d)

    assert compact(t).properties["compact_path"] == "local"
    assert all(f.path.startswith("data/") for f in t.snapshot().files)
    assert_matches_oracle(read_current(t), d)
    live = read_current(t).select(*KEYS).first()
    key = {"repo": live["repo"], "path": live["path"]}
    assert point_lookup(t, key).count() == 1
    assert point_lookup(t, key, prefer_local=False).count() == 1
    assert table_changes(t, v1, v2).count() > 0
    assert table_changes(t, v2).count() == 0  # compaction changes nothing
    assert t.vacuum() == 0  # every file on disk is referenced
    assert_matches_oracle(read_current(t), d)
