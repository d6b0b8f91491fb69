"""LakeTable format: atomic commits, pruning, time travel, schema evolution.

Test strategy models the reference's state-store/publish tests
(gobblin-runtime/src/test/java/gobblin/runtime/FsDatasetStateStoreTest.java,
gobblin-core/src/test/java/gobblin/commit/FsRenameCommitStepTest.java).
"""

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gobblin_spark.lakehouse import ConcurrentCommitError, LakeTable


SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("content", StringType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ]
)


def make_df(spark, n=100, seq0=0):
    return spark.range(n).select(
        F.concat(F.lit("r"), (F.col("id") % 7).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.sha2(F.col("id").cast("string"), 256).alias("content"),
        (F.col("id") + seq0).cast("long").alias("__seq"),
        F.lit(False).alias("__deleted"),
    )


def test_create_append_read(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["repo", "path"], n_buckets=8)
    assert t.current_version() == 1
    # no files yet: the empty read is a driver-local frame that an action
    # answers without launching a Spark job
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup())
    empty = t.read()
    assert empty.schema == SCHEMA and empty.collect() == []
    assert len(tracker.getJobIdsForGroup()) == jobs_before
    snap = t.append(make_df(spark, 100), seq_col="__seq")
    assert snap.version == 2
    assert t.read().count() == 100
    # files carry bucket + seq stats
    assert all(f.bucket >= 0 for f in snap.files)
    assert all(f.min_seq is not None for f in snap.files)
    # second append accumulates
    t.append(make_df(spark, 50, seq0=1000), seq_col="__seq")
    assert t.read().count() == 150
    # time travel
    assert t.read(version=2).count() == 100


def test_bucket_and_seq_pruning(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["repo", "path"], n_buckets=8)
    t.append(make_df(spark, 200), seq_col="__seq")
    df = make_df(spark, 200)
    some_keys = df.filter(F.col("__seq") < 10)
    buckets = t.buckets_of(some_keys)
    pruned = t.read(buckets=buckets)
    full = t.read()
    assert pruned.count() <= full.count()
    # every row of some_keys must be present in the pruned read
    got = pruned.join(some_keys.select("repo", "path"), ["repo", "path"], "leftsemi")
    assert got.count() == 10
    # seq pruning excludes files entirely outside the range
    none_df = t.read(seq_range=(10_000, 20_000))
    assert none_df.count() == 0


def test_concurrent_commit_conflict(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["repo", "path"], n_buckets=4)
    snap = t.snapshot()
    files = t.write_data_files(make_df(spark, 10), seq_col="__seq")
    t.commit(keep_files=snap.files, add_files=files, expected_version=snap.version)
    # a second committer that read the same base version must fail
    with pytest.raises(ConcurrentCommitError):
        t.commit(keep_files=snap.files, add_files=files, expected_version=snap.version)


def test_vacuum_removes_orphans(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["repo", "path"], n_buckets=4)
    t.append(make_df(spark, 20), seq_col="__seq")
    # a write that never commits (≙ failed task staging data)
    t.write_data_files(make_df(spark, 20), seq_col="__seq")
    removed = t.vacuum()
    assert removed > 0
    assert t.read().count() == 20  # live data intact


def test_schema_evolution_add_widen_rename(spark, tmp_table_dir):
    schema_v1 = StructType(
        [
            StructField("repo", StringType()),
            StructField("path", StringType()),
            StructField("lang", StringType()),
            StructField("size_bytes", IntegerType()),
        ]
    )
    t = LakeTable.create(spark, tmp_table_dir, schema_v1, ["repo", "path"], n_buckets=4)
    df1 = spark.range(10).select(
        F.lit("r").alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.lit("py").alias("lang"),
        F.col("id").cast("int").alias("size_bytes"),
    )
    t.append(df1)

    # widen size_bytes int → long, then rename lang → language
    schema_v2 = StructType(
        [
            StructField("repo", StringType()),
            StructField("path", StringType()),
            StructField("language", StringType()),
            StructField("size_bytes", LongType()),
            StructField("added_col", StringType()),
        ]
    )
    snap = t.snapshot()
    t.commit(
        keep_files=snap.files,
        add_files=[],
        schema=schema_v2,
        schema_version=2,
        schema_log_append=[
            {"v": 2, "op": "widen", "col": "size_bytes", "type": "long"},
            {"v": 2, "op": "rename", "old": "lang", "new": "language"},
            {"v": 2, "op": "add", "col": "added_col", "type": "string"},
        ],
        expected_version=snap.version,
    )
    out = t.read()
    assert set(out.columns) == {"repo", "path", "language", "size_bytes", "added_col"}
    assert dict(out.dtypes)["size_bytes"] == "bigint"
    rows = out.orderBy("path").collect()
    assert rows[0]["language"] == "py"  # old files readable through rename
    assert rows[0]["added_col"] is None  # added col null-filled

    # new-version file unions cleanly with old-version files
    df2 = spark.range(5).select(
        F.lit("r2").alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.lit("go").alias("language"),
        (F.col("id") + 10_000_000_000).alias("size_bytes"),
        F.lit("x").alias("added_col"),
    )
    t.append(df2)
    assert t.read().count() == 15
    assert t.read().filter(F.col("size_bytes") > 5_000_000_000).count() == 5


def test_time_partitioned_write_and_pruned_read(spark, tmp_table_dir):
    """Time-partitioned write path (≙ TimeBasedWriterPartitioner +
    TimePartitionedDataPublisher): files carry their partition value in the
    manifest and a partition-range read touches ONLY those files."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("id", LongType()),
        StructField("ts", TimestampType()),
        StructField("payload", StringType()),
    ])
    t = LakeTable.create(
        spark, tmp_table_dir + "/tp", schema, ["id"], n_buckets=2,
        partition_spec={"column": "ts", "granularity": "day"},
    )
    df = spark.range(0, 96).select(
        F.col("id"),
        (F.to_timestamp(F.lit("2024-03-01 00:00:00"))
         + F.make_interval(hours=F.col("id"))).alias("ts"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
    )
    t.append(df)
    snap = t.snapshot()
    parts = {f.partition for f in snap.files}
    assert parts == {"2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04"}

    # range read: 2 of 4 days; verify both the row subset AND that the
    # manifest-level pruning kept only those days' files
    pruned_files = [f for f in snap.files
                    if "2024-03-02" <= f.partition <= "2024-03-03"]
    assert sum(f.rows for f in pruned_files) == 48
    got = t.read(partition_range=("2024-03-02", "2024-03-03"))
    assert got.count() == 48
    assert got.agg(F.min("id"), F.max("id")).collect()[0][0:2] == (24, 71)

    # explicit partition-set read
    assert t.read(partitions={"2024-03-04"}).count() == 24


def test_partition_spec_validation(spark, tmp_table_dir):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("id", LongType())])
    with pytest.raises(ValueError):
        LakeTable.create(spark, tmp_table_dir + "/bad1", schema, ["id"],
                         partition_spec={"column": "ts",
                                         "granularity": "minute"})
    with pytest.raises(ValueError):
        LakeTable.create(spark, tmp_table_dir + "/bad2", schema, ["id"],
                         partition_spec={"granularity": "day"})


def test_commit_fs_abstraction_is_complete(spark, tmp_table_dir):
    """Every commit-protocol I/O must flow through CommitFs: a counting fs
    wrapper sees manifest publishes, reads, listings and vacuum removals —
    so swapping in an HDFS/S3 impl swaps the whole protocol."""
    from gobblin_spark.fsio import LocalFs

    class CountingFs(LocalFs):
        def __init__(self):
            self.publishes = 0
            self.replaces = 0

        def publish_if_absent(self, content, target):
            self.publishes += 1
            return super().publish_if_absent(content, target)

        def write_replace(self, content, target):
            self.replaces += 1
            return super().write_replace(content, target)

    fs = CountingFs()
    t = LakeTable.create(spark, tmp_table_dir + "/t", SCHEMA,
                         ["repo", "path"], n_buckets=2, fs=fs)
    t.append(make_df(spark, 10))
    # create manifest + append's new shard + append manifest
    assert fs.publishes == 3
    assert t.read().count() == 10

    # concurrent-commit conflict still surfaces through the abstraction
    snap = t.snapshot()
    t.commit(keep_files=snap.files, add_files=[],
             expected_version=snap.version)
    with pytest.raises(ConcurrentCommitError):
        t.commit(keep_files=snap.files, add_files=[],
                 expected_version=snap.version)

    from gobblin_spark.state.store import StateStore, WorkUnitState
    st = StateStore(tmp_table_dir + "/state", fs=fs)
    st.begin_batch("b1", [WorkUnitState("w1", "b1", 0, -1, 10)])
    assert fs.replaces >= 1
    before = fs.publishes
    assert st.commit_batch("b1", [WorkUnitState("w1", "b1", 0, -1, 10)], 1)
    assert fs.publishes == before + 1
    # idempotent re-commit: conflict mapped to False, not an exception
    assert not st.commit_batch("b1", [WorkUnitState("w1", "b1", 0, -1, 10)], 1)


def test_commit_path_has_no_driver_footer_reads(spark, tmp_table_dir,
                                                monkeypatch):
    """Scale guard: file stats must be collected executor-side (one
    distributed scan grouped on _metadata), never via driver-side pyarrow
    footer reads — at 10^5 files those are 10^5 driver round trips per
    commit. Poison pq.ParquetFile for the duration of a write+commit."""
    import pyarrow.parquet as pq

    def _poison(*a, **k):
        raise AssertionError(
            "driver-side parquet footer read in the commit path")

    monkeypatch.setattr(pq, "ParquetFile", _poison)
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["repo", "path"],
                         n_buckets=4)
    snap = t.append(make_df(spark, 200), seq_col="__seq")
    # stats are still complete: rows, bytes, bucket, seq range, tombstones
    assert sum(f.rows for f in snap.files) == 200
    assert all(f.bytes > 0 for f in snap.files)
    assert all(0 <= f.bucket < 4 for f in snap.files)
    assert min(f.min_seq for f in snap.files) == 0
    assert max(f.max_seq for f in snap.files) == 199
    assert all(f.has_tombstones is False for f in snap.files)


def test_manifest_sharding_reuses_untouched_shards(spark, tmp_table_dir):
    """Commit cost must be O(delta): an append reuses every base shard ref
    byte-for-byte and writes exactly ONE new shard; a partial rewrite only
    rewrites the shards that lost files."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["repo", "path"],
                         n_buckets=4)
    t.append(make_df(spark, 40), seq_col="__seq")
    t.append(make_df(spark, 40, seq0=100), seq_col="__seq")
    snap = t.snapshot()
    assert snap.shard_refs is not None and len(snap.shard_refs) == 2
    names_before = [r["name"] for r in snap.shard_refs]

    # pure append: both existing shard refs carried over verbatim
    t.append(make_df(spark, 40, seq0=200), seq_col="__seq")
    snap2 = t.snapshot()
    names_after = [r["name"] for r in snap2.shard_refs]
    assert names_before == names_after[:2] and len(names_after) == 3
    assert t.read().count() == 120

    # drop one file from the FIRST shard only: shard 1 rewritten, 2-3 reused
    victim = snap2.shard_map[0][1][0]
    keep = [f for f in snap2.files if f.path != victim.path]
    t.commit(keep_files=keep, add_files=[],
             expected_version=snap2.version)
    snap3 = t.snapshot()
    names3 = {r["name"] for r in snap3.shard_refs}
    # the two untouched shards are reused verbatim; the shard that lost a
    # file is replaced by exactly one new shard
    assert set(names_after) & names3 == set(names_after[1:])
    assert len(names3) == 3
    assert len(snap3.files) == len(snap2.files) - 1


def test_manifest_shard_coalescing_bounds_shard_count(spark, tmp_table_dir):
    """Many small appends must not grow the shard list unboundedly: past
    _MAX_SHARDS the commit folds the smallest shards together."""
    from gobblin_spark.lakehouse.table import DataFile

    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["repo", "path"],
                         n_buckets=4)
    # synthetic 1-file commits (metadata-only; no need for real parquet)
    for i in range(LakeTable._MAX_SHARDS + 20):
        snap = t.snapshot()
        t.commit(
            keep_files=snap.files,
            add_files=[DataFile(path=f"data/x/{i}.parquet", bucket=0,
                                rows=1, bytes=10, schema_version=1)],
            expected_version=snap.version,
        )
    snap = t.snapshot()
    assert len(snap.shard_refs) <= LakeTable._MAX_SHARDS
    assert len(snap.files) == LakeTable._MAX_SHARDS + 20  # nothing lost
    # refs record counts consistent with shard contents
    assert all(r["n"] == len(fl)
               for r, (_, fl) in zip(snap.shard_refs, snap.shard_map))


def test_vacuum_removes_orphan_shards(spark, tmp_table_dir, monkeypatch):
    """A commit that crashes between shard write and manifest publish must
    leave only vacuumable shard orphans — never a visible state change."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["repo", "path"],
                         n_buckets=4)
    t.append(make_df(spark, 20), seq_col="__seq")
    v = t.snapshot().version

    real = LakeTable._publish_manifest

    def boom(self, snap):
        raise RuntimeError("crash between shard write and manifest publish")

    monkeypatch.setattr(LakeTable, "_publish_manifest", boom)
    with pytest.raises(RuntimeError):
        t.append(make_df(spark, 20, seq0=500), seq_col="__seq")
    monkeypatch.setattr(LakeTable, "_publish_manifest", real)

    assert t.snapshot().version == v  # nothing published
    meta = os.path.join(tmp_table_dir, "_meta")
    orphans_before = {n for n in os.listdir(meta) if n.startswith("m-")}
    removed = t.vacuum()
    assert removed > 0  # orphan shard + orphan data files gone
    live_names = {r["name"] for r in t.snapshot().shard_refs or []}
    left = {n for n in os.listdir(meta) if n.startswith("m-")}
    assert left == live_names
    assert left < orphans_before
    assert t.read().count() == 20
