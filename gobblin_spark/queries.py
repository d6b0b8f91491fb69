"""Driver-facing query inventory: every operator family from SURVEY.md §2
expressed over the driver's testdata tables, each with a DuckDB-replayable
ANSI-SQL oracle (same column names, same values).

Naming convention: q_<family>_<operator>. The Spark side and the SQL oracle
are written against the SAME portable primitives (md5, regexp, list math) so
the value-hash comparison is exact, not approximate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# CDC / ingest-operator family (reference: KafkaSource planning, compaction
# LWW dedup, TimeBasedWriterPartitioner, quality policies, forks, converters)
# --------------------------------------------------------------------------

def q_cdc_lww_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW merge semantics on the events stream: key=user_id, seq=event_id,
    'error' events are tombstones. ≙ AvroKeyDedupReducer keep-last + delete
    propagation (the engine's core MERGE, driver-checkable in SQL)."""
    ev = load(spark, sf_dir, "events")
    from gobblin_spark.lakehouse.merge import lww_reduce

    stream = ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    winners = lww_reduce(stream, ["user_id"], "seq")
    return (
        winners.filter(F.col("op") != "D")
        .select("user_id", F.col("seq").alias("last_seq"),
                "event_type", F.round("value", 6).alias("value"))
        .orderBy("user_id")
    )


SQL_CDC_LWW = """
WITH ranked AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
  FROM events)
SELECT user_id, seq AS last_seq, event_type, round(value, 6) AS value
FROM ranked WHERE rn = 1 AND op <> 'D' ORDER BY user_id
"""


def q_cdc_patch_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update (patch) CDC merge on the events stream: a null column
    in an update means "unchanged" — per key, each column takes its latest
    non-null value by seq, a delete clears all prior state. Patchiness is
    derived deterministically (event_type present on even event_ids, value
    on event_id % 3 > 0) so the DuckDB oracle replays it bit-exactly."""
    ev = load(spark, sf_dir, "events")
    from gobblin_spark.lakehouse.merge import lww_patch_reduce

    stream = ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id"),
        F.when(F.col("event_id") % 2 == 0, F.col("event_type"))
        .alias("event_type"),
        F.when(F.col("event_id") % 3 > 0, F.round("value", 6)).alias("value"),
    )
    patched = lww_patch_reduce(stream, ["user_id"], "seq")
    return (
        patched.select("user_id", F.col("seq").alias("last_seq"),
                       "event_type", "value")
        .orderBy("user_id")
    )


SQL_CDC_PATCH = """
WITH stream AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CASE WHEN event_id % 2 = 0 THEN event_type END AS event_type,
         CASE WHEN event_id % 3 > 0 THEN round(value, 6) END AS value
  FROM events),
last_del AS (
  SELECT user_id, max(seq) AS ds FROM stream WHERE op = 'D' GROUP BY user_id),
live AS (
  SELECT s.* FROM stream s LEFT JOIN last_del d USING (user_id)
  WHERE s.op <> 'D' AND s.seq > coalesce(d.ds, -4611686018427387904))
SELECT user_id, max(seq) AS last_seq,
       arg_max(event_type, seq) FILTER (WHERE event_type IS NOT NULL)
           AS event_type,
       arg_max(value, seq) FILTER (WHERE value IS NOT NULL) AS value
FROM live GROUP BY user_id ORDER BY user_id
"""


def q_cdc_patch_cell_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'cell' dialect's defining property, exercised in the correctness
    gate itself: the SAME patch stream as cdc_patch_final_state, but split
    into three maximally-interleaved chunks (seq % 3) and folded chunk-by-
    chunk IN DISORDER via cell_reduce_stored — fold(fold(fold(A), B), C)
    where each chunk spans the whole seq range. Per-column write seqs +
    retained delete seqs make the fold associative, so the out-of-order
    incremental fold must equal the DuckDB full-replay oracle bit-exactly
    (a fold attributing each column to its row's max seq would corrupt
    under this split)."""
    ev = load(spark, sf_dir, "events")
    from gobblin_spark.lakehouse.merge import (
        batch_to_stored,
        cell_reduce_stored,
    )

    stream = ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id"),
        F.when(F.col("event_id") % 2 == 0, F.col("event_type"))
        .alias("event_type"),
        F.when(F.col("event_id") % 3 > 0, F.round("value", 6)).alias("value"),
    )
    payload = ["user_id", "event_type", "value"]
    chunks = [
        batch_to_stored(stream.filter(F.col("seq") % 3 == i),
                        payload, "seq", "op", "cell")
        for i in (2, 0, 1)  # non-monotone arrival order
    ]
    folded = cell_reduce_stored(chunks[0], ["user_id"])
    for ch in chunks[1:]:
        folded = cell_reduce_stored(folded.unionByName(ch), ["user_id"])
    return (
        folded.filter(~F.col("__deleted"))
        .select("user_id", F.col("__seq").alias("last_seq"),
                "event_type", "value")
        .orderBy("user_id")
    )


def q_cdc_bootstrap_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial-snapshot bootstrap + incremental handoff (≙ the reference's
    SNAPSHOT_ONLY full dump before APPEND watermark pulls; Debezium initial
    snapshot → binlog handoff): the LWW-resolved state at W is loaded as
    ONE bucketed write at __seq=W through the REAL bootstrap path, then
    only seq > W is merged — and the result must equal a full replay of
    all history (the handoff algebra under test: nothing the snapshot
    reflects can beat it, anything later must)."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from gobblin_spark.bootstrap import bootstrap_snapshot
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import lww_reduce, merge_lww, read_current

    ev = load(spark, sf_dir, "events")
    stream = ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    w1 = stream.agg(F.floor(F.max("seq") / 2).cast("long")).first()[0]
    snapshot = (
        lww_reduce(stream.filter(F.col("seq") <= w1), ["user_id"], "seq")
        .filter(F.col("op") != "D")
        .select("user_id", "event_type", "value")
    )
    payload = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    d = tempfile.mkdtemp(prefix="gs_bootstrap_")
    try:
        bootstrap_snapshot(
            spark, snapshot, f"{d}/table", f"{d}/state",
            watermark=int(w1), groups=[0], n_buckets=8,
            keys=["user_id"], schema=payload,
        )
        t = LakeTable(spark, f"{d}/table")
        merge_lww(t, stream.filter(F.col("seq") > w1), ["user_id"])
        out = (
            read_current(t)
            .select("user_id", "event_type",
                    F.round("value", 6).alias("value"))
            .orderBy("user_id")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_CDC_BOOTSTRAP = """
WITH ranked AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
  FROM events)
SELECT user_id, event_type, round(value, 6) AS value
FROM ranked WHERE rn = 1 AND op <> 'D' ORDER BY user_id
"""


def q_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental changelog read (table_changes): apply the events stream
    to a REAL LakeTable in two watermark-bounded merge batches, then diff
    the two committed snapshots — insert/update/delete rows per key
    (≙ Iceberg incremental 'changes'; exercises the full bucket-pruned
    snapshot-diff path end-to-end, not a reformulation)."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField,
        StructType,
    )

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww, table_changes

    ev = load(spark, sf_dir, "events")
    stream = ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    w1 = stream.agg(F.floor(F.max("seq") / 2).cast("long")).first()[0]
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ])
    d = tempfile.mkdtemp(prefix="gs_changelog_")
    try:
        t = LakeTable.create(spark, f"{d}/table", schema, ["user_id"],
                             n_buckets=8)
        merge_lww(t, stream.filter(F.col("seq") <= w1), ["user_id"])
        v1 = t.current_version()
        merge_lww(t, stream.filter(F.col("seq") > w1), ["user_id"])
        out = table_changes(t, v1).select(
            "user_id",
            F.col("_change_type").alias("change_type"),
            F.col("__seq").alias("seq"),
            "event_type",
            F.round("value", 6).alias("value"),
        ).orderBy("user_id")
        # materialize before the temp table is removed (result is one row
        # per CHANGED key — driver-small by construction)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_CDC_CHANGELOG = """
WITH ev AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, value
  FROM events),
w AS (SELECT CAST(FLOOR(max(seq) / 2) AS BIGINT) AS w1 FROM ev),
s1 AS (SELECT * FROM (
  SELECT user_id, seq, op,
         row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) rn
  FROM ev WHERE seq <= (SELECT w1 FROM w)) WHERE rn = 1),
s2 AS (SELECT * FROM (
  SELECT user_id, seq, op, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) rn
  FROM ev) WHERE rn = 1)
SELECT s2.user_id,
       CASE WHEN s2.op <> 'D' AND (s1.user_id IS NULL OR s1.op = 'D')
              THEN 'insert'
            WHEN s2.op <> 'D' AND s1.op <> 'D' AND s2.seq <> s1.seq
              THEN 'update'
            WHEN s2.op = 'D' AND s1.op <> 'D' THEN 'delete' END AS change_type,
       s2.seq AS seq, s2.event_type, round(s2.value, 6) AS value
FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id
WHERE CASE WHEN s2.op <> 'D' AND (s1.user_id IS NULL OR s1.op = 'D')
             THEN 'insert'
           WHEN s2.op <> 'D' AND s1.op <> 'D' AND s2.seq <> s1.seq
             THEN 'update'
           WHEN s2.op = 'D' AND s1.op <> 'D' THEN 'delete' END IS NOT NULL
ORDER BY s2.user_id
"""


def q_cdc_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key point reads from a REAL upsert table: apply the events
    stream to a LakeTable, then point_lookup three fixed keys — each lookup
    reads only the key's hash bucket (1/n_buckets of the files), the read
    primitive a CDC consumer expects from a keyed table. Keys chosen to
    exist at every sf (user_id 1..3); a lookup whose LWW winner is a delete
    contributes no row, exactly like the oracle's final-state filter."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField,
        StructType,
    )

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww, point_lookup

    ev = load(spark, sf_dir, "events")
    stream = ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        F.round("value", 6).alias("value"),
    )
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ])
    d = tempfile.mkdtemp(prefix="gs_lookup_")
    try:
        t = LakeTable.create(spark, f"{d}/table", schema, ["user_id"],
                             n_buckets=8)
        merge_lww(t, stream, ["user_id"])
        parts = [point_lookup(t, {"user_id": uid}) for uid in (1, 2, 3)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.select("user_id", "event_type", "value").orderBy("user_id")
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_CDC_POINT_LOOKUP = """
WITH ranked AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, round(value, 6) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
  FROM events WHERE user_id IN (1, 2, 3))
SELECT user_id, event_type, value
FROM ranked WHERE rn = 1 AND op <> 'D' ORDER BY user_id
"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment: every 'error' event joined to the latest
    prior-or-equal non-error event of the same user — the union+window
    rendering (one shuffle, O(n+m)) checked against DuckDB's native
    ASOF LEFT JOIN."""
    from gobblin_spark.operators.temporal import asof_join

    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", F.round("value", 6).alias("value"))
    prior = ev.filter(F.col("event_type") != "error").select(
        "user_id",
        F.col("event_id").alias("rt"),
        F.col("event_id").alias("prior_event_id"),
        F.col("event_type").alias("prior_type"),
    )
    return (
        asof_join(errors, prior, ["user_id"], "event_id", "rt",
                  payload=["prior_event_id", "prior_type"])
        .select("user_id", "event_id", "value", "prior_event_id",
                "prior_type")
        .orderBy("user_id", "event_id")
    )


SQL_ASOF_JOIN = """
WITH l AS (
  SELECT user_id, event_id, round(value, 6) AS value
  FROM events WHERE event_type = 'error'),
r AS (
  SELECT user_id, event_id AS rt, event_id AS prior_event_id,
         event_type AS prior_type
  FROM events WHERE event_type <> 'error')
SELECT l.user_id, l.event_id, l.value, r.prior_event_id, r.prior_type
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.event_id >= r.rt
ORDER BY l.user_id, l.event_id
"""


def q_cdc_changelog_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same changelog semantics with MERGE-ON-READ applies and the deltas
    left UNFOLDED — table_changes must LWW-resolve base+delta on both ends
    and still match the oracle (the 100 TB apply path's read side)."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField,
        StructType,
    )

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww_mor, table_changes

    ev = load(spark, sf_dir, "events")
    stream = ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    w1 = stream.agg(F.floor(F.max("seq") / 2).cast("long")).first()[0]
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ])
    d = tempfile.mkdtemp(prefix="gs_changelog_mor_")
    try:
        t = LakeTable.create(spark, f"{d}/table", schema, ["user_id"],
                             n_buckets=8)
        merge_lww_mor(t, stream.filter(F.col("seq") <= w1), ["user_id"])
        v1 = t.current_version()
        merge_lww_mor(t, stream.filter(F.col("seq") > w1), ["user_id"])
        out = table_changes(t, v1).select(
            "user_id",
            F.col("_change_type").alias("change_type"),
            F.col("__seq").alias("seq"),
            "event_type",
            F.round("value", 6).alias("value"),
        ).orderBy("user_id")
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _event_cdc_stream(spark: SparkSession, sf_dir: str,
                      round_value: bool = True) -> DataFrame:
    """The canonical change-event rendering of the events table used by the
    CDC gate queries: key=user_id, seq=event_id, 'error' = delete."""
    ev = load(spark, sf_dir, "events")
    value = F.round("value", 6) if round_value else F.col("value")
    return ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        value.alias("value"),
    )


def _event_table_schema():
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField,
        StructType,
    )
    return StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ])


def q_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel: apply the stream in two watermark-bounded
    merges, then read the table AT THE FIRST COMMITTED VERSION — the
    result must equal the LWW state of the seq<=w1 prefix even though the
    table has since advanced (≙ a consumer pinning the snapshot a Gobblin
    publish notified it about, while later publishes land)."""
    import shutil
    import tempfile

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww, read_current

    stream = _event_cdc_stream(spark, sf_dir)
    w1 = stream.agg(F.floor(F.max("seq") / 2).cast("long")).first()[0]
    d = tempfile.mkdtemp(prefix="gs_timetravel_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=8)
        merge_lww(t, stream.filter(F.col("seq") <= w1), ["user_id"])
        v1 = t.current_version()
        merge_lww(t, stream.filter(F.col("seq") > w1), ["user_id"])
        out = (read_current(t, version=v1)
               .select("user_id", "event_type", "value")
               .orderBy("user_id"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_CDC_TIME_TRAVEL = """
WITH ev AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, round(value, 6) AS value
  FROM events),
w AS (SELECT CAST(FLOOR(max(seq) / 2) AS BIGINT) AS w1 FROM ev),
ranked AS (
  SELECT user_id, op, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) rn
  FROM ev WHERE seq <= (SELECT w1 FROM w))
SELECT user_id, event_type, value
FROM ranked WHERE rn = 1 AND op <> 'D' ORDER BY user_id
"""


def q_cdc_point_lookup_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups against a table with UNFOLDED merge-on-read deltas:
    three MOR applies, no compaction — the lookup (driver-local fast path
    first) must LWW-resolve base+delta candidate files per key, pruned by
    bucket + key_bounds, and still match the full-replay oracle."""
    import shutil
    import tempfile

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww_mor, point_lookup

    stream = _event_cdc_stream(spark, sf_dir)
    mx = stream.agg(F.max("seq")).first()[0]
    w1, w2 = mx // 3, 2 * mx // 3
    d = tempfile.mkdtemp(prefix="gs_lookup_mor_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=8)
        merge_lww_mor(t, stream.filter(F.col("seq") <= w1), ["user_id"])
        merge_lww_mor(t, stream.filter(
            (F.col("seq") > w1) & (F.col("seq") <= w2)), ["user_id"])
        merge_lww_mor(t, stream.filter(F.col("seq") > w2), ["user_id"])
        parts = [point_lookup(t, {"user_id": uid}) for uid in (1, 2, 3)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.select("user_id", "event_type", "value").orderBy("user_id")
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_cdc_sync_downstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog-driven downstream sync: two ingests each followed by a
    sync step shipping table_changes into range directories; the
    downstream replay (per key, last change wins; deletes drop) must
    reconstruct the upstream final visible state (≙ the reference's
    publish-then-consume chain with first-class diffs)."""
    import os as _os
    import shutil
    import tempfile

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww
    from gobblin_spark.sync import sync_changes

    stream = _event_cdc_stream(spark, sf_dir)
    w1 = stream.agg(F.floor(F.max("seq") / 2).cast("long")).first()[0]
    d = tempfile.mkdtemp(prefix="gs_sync_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=8)
        merge_lww(t, stream.filter(F.col("seq") <= w1), ["user_id"])
        sync_changes(spark, f"{d}/table", f"{d}/sync_state", f"{d}/down")
        merge_lww(t, stream.filter(F.col("seq") > w1), ["user_id"])
        sync_changes(spark, f"{d}/table", f"{d}/sync_state", f"{d}/down")
        ranges = sorted(
            n for n in _os.listdir(f"{d}/down") if n.startswith("changes_v"))
        parts = [
            spark.read.parquet(_os.path.join(f"{d}/down", r))
            .withColumn("__r", F.lit(i))
            for i, r in enumerate(ranges)
        ]
        allc = parts[0]
        for p in parts[1:]:
            allc = allc.unionByName(p)
        # within one range a key appears at most once → per key the change
        # from the LATEST range wins; a winning delete drops the key
        win = (
            allc.groupBy("user_id")
            .agg(F.expr(
                "max_by(struct(_change_type, event_type, value), __r) AS w"))
            .select("user_id", "w.*")
        )
        out = (win.filter(F.col("_change_type") != "delete")
               .select("user_id", "event_type", "value")
               .orderBy("user_id"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_cdc_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate view (aggview.agg_sync): ingest
    the stream in two halves with an agg-sync step after each — bootstrap
    full-aggregate, then ONE incremental advance driven by preimage
    retractions over table_changes — and the view must equal a
    from-scratch GROUP BY over the final visible LWW state. Integer
    measure (floor(value*1000)) keeps the sums bit-exact vs the oracle.
    MIN/MAX ride the same view: the incremental step exercises monotone
    insert updates AND retraction-triggered group rescans (deletes and
    group-moving updates retract extrema at sf scale)."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        BooleanType, LongType, StringType, StructField, StructType,
    )

    from gobblin_spark.aggview import agg_sync, read_view
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww

    stream = _event_cdc_stream(spark, sf_dir, round_value=False).select(
        "seq", "op", "user_id", "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("value_m"),
    )
    w1 = stream.agg(F.floor(F.max("seq") / 2).cast("long")).first()[0]
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value_m", LongType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ])
    d = tempfile.mkdtemp(prefix="gs_aggview_")
    try:
        t = LakeTable.create(spark, f"{d}/table", schema, ["user_id"],
                             n_buckets=8)
        merge_lww(t, stream.filter(F.col("seq") <= w1), ["user_id"])
        agg_sync(spark, f"{d}/table", f"{d}/vstate", f"{d}/view",
                 group_cols=["event_type"], sum_cols=["value_m"],
                 minmax_cols=["value_m"], n_buckets=8)
        merge_lww(t, stream.filter(F.col("seq") > w1), ["user_id"])
        agg_sync(spark, f"{d}/table", f"{d}/vstate", f"{d}/view",
                 group_cols=["event_type"], sum_cols=["value_m"],
                 minmax_cols=["value_m"], n_buckets=8)
        out = (read_view(spark, f"{d}/view")
               .select("event_type", "n_rows", "sum_value_m",
                       "min_value_m", "max_value_m")
               .orderBy("event_type"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_cdc_clone_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication correctness (clone.clone_table ≙ the reference's
    dataset-replication/distcp job family): ingest the stream, CLONE the
    table (distributed byte copy + fresh v1 manifest), read the CLONE —
    must equal the full-replay visible state. Exercises that every piece
    of metadata a read needs travels with the clone."""
    import shutil
    import tempfile

    from gobblin_spark.clone import clone_table
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww, read_current

    stream = _event_cdc_stream(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="gs_clone_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=8)
        merge_lww(t, stream, ["user_id"])
        clone_table(spark, f"{d}/table", f"{d}/clone")
        out = (read_current(LakeTable(spark, f"{d}/clone"))
               .select("user_id", "event_type",
                       F.round("value", 6).alias("value"))
               .orderBy("user_id"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_cdc_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (LakeTable.create_branch / fast_forward ≙
    Iceberg branch refs + WAP): ingest the first half of the stream into
    MAIN, fork a zero-copy branch, apply the rest of the stream to the
    BRANCH only, then atomically fast-forward main to the audited branch
    head. Reading main afterward must equal the full-replay visible state
    — proving the branch fork carried the complete fork image, branch
    commits composed with it correctly, and the publish swapped in the
    branch head losslessly."""
    import shutil
    import tempfile

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww, read_current

    stream = _event_cdc_stream(spark, sf_dir)
    w1 = stream.agg(F.floor(F.max("seq") / 2).cast("long")).first()[0]
    d = tempfile.mkdtemp(prefix="gs_wap_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=8)
        merge_lww(t, stream.filter(F.col("seq") <= w1), ["user_id"])
        b = t.create_branch("audit")
        merge_lww(b, stream.filter(F.col("seq") > w1), ["user_id"])
        t.fast_forward("audit")
        out = (read_current(t)
               .select("user_id", "event_type",
                       F.round("value", 6).alias("value"))
               .orderBy("user_id"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_CDC_AGG_VIEW = """
WITH ev AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS value_m
  FROM events),
final AS (
  SELECT * FROM (
    SELECT user_id, op, event_type, value_m,
           row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) rn
    FROM ev) WHERE rn = 1 AND op <> 'D')
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(value_m) AS BIGINT) AS sum_value_m,
       CAST(MIN(value_m) AS BIGINT) AS min_value_m,
       CAST(MAX(value_m) AS BIGINT) AS max_value_m
FROM final GROUP BY event_type ORDER BY event_type
"""


SQL_CDC_VISIBLE_STATE = """
WITH ranked AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, round(value, 6) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
  FROM events)
SELECT user_id, event_type, value
FROM ranked WHERE rn = 1 AND op <> 'D' ORDER BY user_id
"""


def q_cdc_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay-convergence fingerprint: full MOR replay + compaction, then
    ONE order-independent content hash over the visible state — the
    primitive behind `run_job.py fingerprint`'s per-row sha256-equality
    verification, here md5-rendered so DuckDB replays it bit-exactly.
    Doubles enter the hash as round(value*1e6) integers so both engines
    format identically."""
    import shutil
    import tempfile

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import compact, merge_lww_mor, \
        read_current

    stream = _event_cdc_stream(spark, sf_dir)
    w1 = stream.agg(F.floor(F.max("seq") / 2).cast("long")).first()[0]
    d = tempfile.mkdtemp(prefix="gs_fp_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=8)
        merge_lww_mor(t, stream.filter(F.col("seq") <= w1), ["user_id"])
        merge_lww_mor(t, stream.filter(F.col("seq") > w1), ["user_id"])
        compact(t)
        s = F.concat_ws(
            "|",
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.round(F.col("value") * 1e6, 0).cast("long").cast("string"),
        )
        out = read_current(t).agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.conv(F.substring(F.md5(s), 1, 12), 16, 10)
                   .cast("decimal(38,0)")) % 2147483647)
            .cast("long").alias("fingerprint"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_CDC_FINGERPRINT = """
WITH ranked AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, round(value, 6) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
  FROM events),
state AS (
  SELECT user_id, event_type, value
  FROM ranked WHERE rn = 1 AND op <> 'D'),
h AS (
  SELECT ('0x' || substr(md5(
           CAST(user_id AS VARCHAR) || '|' || event_type || '|'
           || CAST(CAST(round(value * 1000000, 0) AS BIGINT) AS VARCHAR)
         ), 1, 12))::BIGINT AS hv
  FROM state)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(hv) % 2147483647 AS BIGINT) AS fingerprint
FROM h
"""


def q_cdc_rescale_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-spec evolution end-to-end: half the stream into a 4-bucket
    table, metadata-only rescale to 16, rest of the stream as MOR deltas
    (new spec), then compact — reads residue-map current buckets onto
    pre-rescale files throughout, and the final visible state must equal
    the full-replay oracle exactly."""
    import shutil
    import tempfile

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import (
        compact, merge_lww, merge_lww_mor, read_current,
    )

    stream = _event_cdc_stream(spark, sf_dir)
    w1 = stream.agg(F.floor(F.max("seq") / 2).cast("long")).first()[0]
    d = tempfile.mkdtemp(prefix="gs_rescale_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=4)
        merge_lww(t, stream.filter(F.col("seq") <= w1), ["user_id"])
        t.rescale_buckets(16)
        merge_lww_mor(t, stream.filter(F.col("seq") > w1), ["user_id"])
        compact(t)
        out = (read_current(t)
               .select("user_id", "event_type", "value")
               .orderBy("user_id"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_cdc_secondary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-predicate scan over a compacted CDC table with value-stats
    blooms on a NON-key column: read_current(value_eq={'event_type': ...})
    skips non-matching files at planning time (manifest blooms, probed
    driver-side with the bit-exact Python xxhash64 twin) and must equal the
    oracle's final-state filter exactly."""
    import shutil
    import tempfile

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww, read_current

    stream = _event_cdc_stream(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="gs_vstats_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=8,
                             stats_cols=["event_type"])
        merge_lww(t, stream, ["user_id"])
        out = (read_current(t, value_eq={"event_type": "click"})
               .select("user_id", "event_type", "value")
               .orderBy("user_id"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_CDC_SECONDARY_SCAN = """
WITH ranked AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, round(value, 6) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
  FROM events)
SELECT user_id, event_type, value
FROM ranked WHERE rn = 1 AND op <> 'D' AND event_type = 'click'
ORDER BY user_id
"""


def q_cdc_secondary_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate scan over a compacted CDC table: read_current(
    value_range=...) prunes files via the per-file [min,max] value bounds
    recorded alongside the blooms (DataFile.value_bounds — the skip a
    bloom structurally cannot provide) and must equal the oracle's
    final-state BETWEEN filter exactly. Interval: 'c' <= event_type < 'q'
    (half-open, exercising both the inclusive and strict comparators)."""
    import shutil
    import tempfile

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import merge_lww, read_current

    stream = _event_cdc_stream(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="gs_vrange_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=8,
                             stats_cols=["event_type"])
        merge_lww(t, stream, ["user_id"])
        iv = {"event_type": {"lo": "c", "hi": "q",
                             "lo_strict": False, "hi_strict": True}}
        out = (read_current(t, value_range=iv)
               .select("user_id", "event_type", "value")
               .orderBy("user_id"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_CDC_SECONDARY_RANGE_SCAN = """
WITH ranked AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, round(value, 6) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
  FROM events)
SELECT user_id, event_type, value
FROM ranked
WHERE rn = 1 AND op <> 'D' AND event_type >= 'c' AND event_type < 'q'
ORDER BY user_id
"""


def q_cdc_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted deletion end-to-end: full replay, then DELETE WHERE
    event_type='click' (tombstones through the normal LWW apply, victims
    found via the value-stats bloom skip) — the remaining visible state
    must equal the oracle's final state minus the deleted slice."""
    import shutil
    import tempfile

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import (
        delete_where, merge_lww, read_current,
    )

    stream = _event_cdc_stream(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="gs_delete_")
    try:
        t = LakeTable.create(spark, f"{d}/table", _event_table_schema(),
                             ["user_id"], n_buckets=8,
                             stats_cols=["event_type"])
        merge_lww(t, stream, ["user_id"])
        delete_where(t, {"event_type": "click"})
        out = (read_current(t)
               .select("user_id", "event_type", "value")
               .orderBy("user_id"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_CDC_DELETE_WHERE = """
WITH ranked AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, round(value, 6) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
  FROM events)
SELECT user_id, event_type, value
FROM ranked WHERE rn = 1 AND op <> 'D' AND event_type <> 'click'
ORDER BY user_id
"""


def q_cdc_lww_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics through the two-stage SALTED reduce path (hot-key
    handling) — must be value-identical to the plain path/oracle."""
    ev = load(spark, sf_dir, "events")
    from gobblin_spark.lakehouse.merge import lww_reduce

    stream = ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    winners = lww_reduce(stream, ["user_id"], "seq", salt_buckets=8)
    return (
        winners.filter(F.col("op") != "D")
        .select("user_id", F.col("seq").alias("last_seq"),
                "event_type", F.round("value", 6).alias("value"))
        .orderBy("user_id")
    )


def q_plan_watermark_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planner's work-unit scan: per stream partition (user_id % 8),
    (min,max,count) over events above a committed watermark
    (≙ KafkaSource.getWorkunits offset-range computation)."""
    ev = load(spark, sf_dir, "events")
    watermark = 1000
    return (
        ev.filter(F.col("event_id") > watermark)
        .groupBy(F.pmod(F.col("user_id"), F.lit(8)).cast("int").alias("event_group"))
        .agg(
            F.min("event_id").alias("low_seq"),
            F.max("event_id").alias("high_seq"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_group")
    )


SQL_PLAN_WATERMARK = """
SELECT CAST(user_id % 8 AS INT) AS event_group,
       MIN(event_id) AS low_seq, MAX(event_id) AS high_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events WHERE event_id > 1000
GROUP BY 1 ORDER BY 1
"""


def _time_partition_counts(spark, ev, parts, granularity: str) -> DataFrame:
    """Count events per planned watermark partition: one broadcast range
    join of the O(#partitions) plan against the event scan — the extract
    predicate shape a query-based source would push down per partition."""
    from gobblin_spark.plans.time_partition import wm_to_dt

    rows = [(int(lwm), int(hwm), wm_to_dt(lwm), wm_to_dt(hwm))
            for lwm, hwm in parts]
    pdf = spark.createDataFrame(
        rows, "low_wm long, high_wm long, lo_ts timestamp, hi_ts timestamp")
    d = ev.select(F.date_trunc(granularity, F.col("ts")).alias("__t"))
    return (
        d.join(F.broadcast(pdf),
               (F.col("__t") >= F.col("lo_ts")) & (F.col("__t") <= F.col("hi_ts")))
        .groupBy("low_wm", "high_wm")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("low_wm")
    )


def q_time_partition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND_DAILY extract over a DATE watermark: the planner splits
    [min(ts), max(ts)] into the reference's inclusive day ranges
    (≙ Partitioner.getPartitions + DateWatermark.getIntervals — including
    the reference's days+1 interval convention: a 1-day request yields
    2-day inclusive ranges), then counts events per planned partition."""
    from gobblin_spark.plans.time_partition import (
        ExtractType,
        TimePartitioner,
        WatermarkType,
        dt_to_wm,
    )

    ev = load(spark, sf_dir, "events")
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    p = TimePartitioner(
        extract_type=ExtractType.APPEND_DAILY,
        watermark_type=WatermarkType.DATE,
        partition_interval=1,
        max_partitions=100,
        start_value=dt_to_wm(b["lo"]),
    )
    parts = p.get_partitions(None, b["hi"])
    return _time_partition_counts(spark, ev, parts, "day")


# Replays the reference's day-interval math in SQL: interval request of
# 1 day → stride 2 inclusive day ranges anchored at the min day.
SQL_TIME_PARTITION_DAILY = """
WITH b AS (SELECT date_trunc('day', min(ts)) AS lo,
                  date_trunc('day', max(ts)) AS hi FROM events),
e AS (SELECT date_trunc('day', ts) AS d FROM events),
j AS (SELECT CAST(floor(date_diff('day', b.lo, e.d) / 2) AS BIGINT) AS part,
             b.lo, b.hi FROM e CROSS JOIN b)
SELECT CAST(strftime(lo + to_days(CAST(part * 2 AS INT)),
                     '%Y%m%d%H%M%S') AS BIGINT) AS low_wm,
       CAST(strftime(least(lo + to_days(CAST(part * 2 + 1 AS INT)), hi),
                     '%Y%m%d%H%M%S') AS BIGINT) AS high_wm,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM j GROUP BY 1, 2 ORDER BY 1
"""


def q_time_partition_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND_HOURLY extract over an HOUR watermark: 4-hour partitions
    (reference convention: +1 → stride-5 inclusive hour ranges),
    counted per partition (≙ HourWatermark.getIntervals)."""
    from gobblin_spark.plans.time_partition import (
        ExtractType,
        TimePartitioner,
        WatermarkType,
        dt_to_wm,
    )

    ev = load(spark, sf_dir, "events")
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    p = TimePartitioner(
        extract_type=ExtractType.APPEND_HOURLY,
        watermark_type=WatermarkType.HOUR,
        partition_interval=4,
        max_partitions=1000,
        start_value=dt_to_wm(b["lo"]),
    )
    parts = p.get_partitions(None, b["hi"])
    return _time_partition_counts(spark, ev, parts, "hour")


SQL_TIME_PARTITION_HOURLY = """
WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                  date_trunc('hour', max(ts)) AS hi FROM events),
e AS (SELECT date_trunc('hour', ts) AS h FROM events),
j AS (SELECT CAST(floor(date_diff('hour', b.lo, e.h) / 5) AS BIGINT) AS part,
             b.lo, b.hi FROM e CROSS JOIN b)
SELECT CAST(strftime(lo + to_hours(CAST(part * 5 AS INT)),
                     '%Y%m%d%H%M%S') AS BIGINT) AS low_wm,
       CAST(strftime(least(lo + to_hours(CAST(part * 5 + 4 AS INT)), hi),
                     '%Y%m%d%H%M%S') AS BIGINT) AS high_wm,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM j GROUP BY 1, 2 ORDER BY 1
"""


def q_converter_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converter chain: projection + equality filter + regex filter
    (≙ AvroProjectionConverter + AvroFilterConverter + StringFilterConverter)."""
    li = load(spark, sf_dir, "lineitem")
    from gobblin_spark.operators.converters import build_chain

    chain = build_chain(
        [
            {"name": "projection",
             "keep": ["l_orderkey", "l_partkey", "l_returnflag",
                      "l_linestatus", "l_quantity"]},
            {"name": "filter", "field": "l_returnflag", "value": "A"},
            {"name": "regex_filter", "field": "l_linestatus", "pattern": "^(F|O)$"},
        ]
    )
    out = chain.convert(li)
    return out.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    ).orderBy("l_linestatus")


SQL_CONVERTER_PROJ = """
SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       round(SUM(l_quantity), 4) AS sum_qty
FROM lineitem
WHERE l_returnflag = 'A' AND regexp_matches(l_linestatus, '^(F|O)$')
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q_converter_string_splitter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→many converter: split document text into word records, count top
    words (≙ StringSplitterConverter / FlattenConverter explode)."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.converters import StringSplitterConverter

    words = StringSplitterConverter(field="text", delimiter=" ",
                                    out_col="word").convert(
        docs.select("doc_id", "text")
    )
    return (
        words.filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
        .orderBy(F.desc("n"), "word")
    )


SQL_STRING_SPLITTER = """
SELECT word, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word HAVING COUNT(*) >= 100
ORDER BY n DESC, word
"""


def q_converter_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload parsing (≙ JsonIntermediateToAvroConverter): extract the
    'k' field from events.props, aggregate."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


SQL_FROM_JSON = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
       MIN(CAST(props->>'k' AS INT)) AS min_k,
       MAX(CAST(props->>'k' AS INT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_converter_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion converter (≙ CsvToJsonConverter): render orders rows to
    delimited lines (the raw-file shape), parse back through the converter
    chain with typed casts, aggregate. Proves the parse path end-to-end."""
    o = load(spark, sf_dir, "orders")
    from gobblin_spark.operators.converters import build_chain

    lines = o.select(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("string"),
        ).alias("line")
    )
    chain = build_chain([
        {"name": "csv_to_columns", "field": "line", "delimiter": r"\|",
         "headers": ["orderkey", "status", "total"]},
        {"name": "cast", "casts": {"orderkey": "long", "total": "double"}},
    ])
    parsed = chain.convert(lines)
    return (
        parsed.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("total"), 2).alias("sum_total"),
            F.max("orderkey").alias("max_key"),
        )
        .orderBy("status")
    )


SQL_CSV_ROUNDTRIP = """
WITH lines AS (
  SELECT o_orderkey::VARCHAR || '|' || o_orderstatus || '|'
         || o_totalprice::VARCHAR AS line
  FROM orders),
parsed AS (
  SELECT CAST(string_split(line, '|')[1] AS BIGINT) AS orderkey,
         string_split(line, '|')[2] AS status,
         CAST(string_split(line, '|')[3] AS DOUBLE) AS total
  FROM lines)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(total), 2) AS sum_total,
       MAX(orderkey) AS max_key
FROM parsed GROUP BY status ORDER BY status
"""


def q_writer_time_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based writer partitioning (≙ TimeBasedWriterPartitioner
    yyyy/MM/dd/HH path derivation): events per partition path."""
    ev = load(spark, sf_dir, "events")
    part = F.date_format(F.col("ts"), "yyyy/MM/dd/HH").alias("partition_path")
    return (
        ev.select(part)
        .groupBy("partition_path")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .filter(F.col("n_records") >= 5)
        .orderBy("partition_path")
    )


SQL_TIME_PARTITIONER = """
SELECT strftime(ts, '%Y/%m/%d/%H') AS partition_path,
       CAST(COUNT(*) AS BIGINT) AS n_records
FROM events GROUP BY 1 HAVING COUNT(*) >= 5 ORDER BY 1
"""


def q_quality_row_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quality gate accounting (≙ RowLevelPolicy / err-file split):
    per policy, violation counts over events."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("value") < 0).cast("long")).alias("neg_value"),
        F.sum(F.col("props").isNull().cast("long")).alias("null_props"),
        F.sum((~F.col("event_type").isin("click", "view", "purchase", "error"))
              .cast("long")).alias("bad_type"),
    )


SQL_QUALITY = """
SELECT CAST(COUNT(*) AS BIGINT) AS total,
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_value,
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
       CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase','error')
                THEN 1 ELSE 0 END) AS BIGINT) AS bad_type
FROM events
"""


def q_fork_branch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fork routing audit (≙ ForkOperator boolean vector): how many records
    each branch receives, branches may overlap."""
    ev = load(spark, sf_dir, "events")
    from gobblin_spark.operators.fork import fork

    branches = fork(
        ev,
        [
            F.col("event_type") == "click",
            F.col("value") > 50.0,
            None,  # identity branch
        ],
        cache=False,
    )
    rows = [b.agg(F.count(F.lit(1)).alias("n")) for b in branches]
    out = (
        rows[0].select(F.lit("clicks").alias("branch"), "n")
        .unionAll(rows[1].select(F.lit("high_value").alias("branch"), "n"))
        .unionAll(rows[2].select(F.lit("identity").alias("branch"), "n"))
    )
    return out.orderBy("branch")


SQL_FORK = """
SELECT 'clicks' AS branch, CAST(COUNT(*) AS BIGINT) AS n FROM events WHERE event_type='click'
UNION ALL
SELECT 'high_value', CAST(COUNT(*) AS BIGINT) FROM events WHERE value > 50.0
UNION ALL
SELECT 'identity', CAST(COUNT(*) AS BIGINT) FROM events
ORDER BY branch
"""


def q_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup (the time-bucket aggregation the reference does via
    partition paths; here as a real agg for the scale path)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .filter(F.col("n") >= 3)
        .orderBy("hour", "event_type")
    )


SQL_ROLLUP = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(value), 4) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2 HAVING COUNT(*) >= 3 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Training-data ops: dedup family / similarity / text analysis
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content-hash groups (hash-groupBy): canonical row =
    min id per group, pairs (kept_id, dup_id) for every shed duplicate.
    Keyed on (user_id, event_type) over events — ≙ compaction key-dedup
    (MRCompactorAvroKeyDedupJobRunner primary-key fields)."""
    ev = load(spark, sf_dir, "events")
    from gobblin_spark.operators.dedup import exact_dedup

    pairs = exact_dedup(ev, ["user_id", "event_type"], "event_id")
    return pairs.groupBy("kept_id").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("dup_id").alias("first_dup"),
        F.max("dup_id").alias("last_dup"),
    ).orderBy("kept_id")


SQL_DEDUP_EXACT = """
WITH h AS (SELECT event_id,
                  md5(COALESCE(CAST(user_id AS VARCHAR), chr(0)) || chr(31)
                      || COALESCE(event_type, chr(0))) AS hh
           FROM events),
g AS (SELECT hh, MIN(event_id) AS kept_id FROM h GROUP BY hh),
p AS (SELECT g.kept_id, h.event_id AS dup_id
      FROM h JOIN g USING (hh) WHERE h.event_id <> g.kept_id)
SELECT kept_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
       MIN(dup_id) AS first_dup, MAX(dup_id) AS last_dup
FROM p GROUP BY kept_id ORDER BY kept_id
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force word-3-gram Jaccard near-dup pairs (exact oracle tier —
    O(n²), so it runs on a deterministic 1-in-5 sample; the scale path is
    dedup_minhash_lsh)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    from gobblin_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                               threshold=0.02).orderBy("id_a", "id_b")


# DuckDB: same tokenization (lower, split on whitespace runs, drop empties),
# same 3-gram construction, distinct, then set Jaccard.
_DUCK_SHINGLES = """
SELECT doc_id,
       list_distinct(
         CASE WHEN len(toks) >= 3 THEN
           [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks)-1)]
         ELSE [] END) AS sh
FROM (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents)
"""

SQL_NGRAM_JACCARD = f"""
WITH s AS ({_DUCK_SHINGLES.replace("FROM documents", "FROM documents WHERE doc_id % 5 = 0")}),
j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS i,
         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
              AS DOUBLE) AS u
  FROM s a JOIN s b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, round(i / u, 6) AS jaccard
FROM j WHERE u > 0 AND i / u >= 0.02
ORDER BY id_a, id_b
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified by true Jaccard — the scale-path
    dedup. md5-based min-hashing is replayed exactly by the SQL oracle."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, n_hashes=12, bands=4, threshold=0.1
    ).orderBy("id_a", "id_b")


def _duck_minhash_sql(n_hashes: int = 12, bands: int = 4,
                      threshold: float = 0.1, order_by: bool = True) -> str:
    rpb = n_hashes // bands
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(sh, x -> md5('{i}:' || x)), 'min') AS mh{i}"
        for i in range(n_hashes)
    )
    band_exprs = ", ".join(
        "md5(concat_ws('|', '{b}', {cols})) AS band{b}".format(
            b=b, cols=", ".join(f"mh{b * rpb + j}" for j in range(rpb))
        )
        for b in range(bands)
    )
    band_list = ", ".join(f"band{b}" for b in range(bands))
    return f"""
WITH s0 AS ({_DUCK_SHINGLES}),
s AS (SELECT doc_id, CASE WHEN len(sh)=0 THEN [''] ELSE sh END AS sh FROM s0),
sig AS (SELECT doc_id, sh, {mh_cols} FROM s),
banded AS (SELECT doc_id, sh, [{band_list}] AS bands
           FROM (SELECT doc_id, sh, {band_exprs} FROM sig)),
ex AS (SELECT doc_id, sh, unnest(bands) AS band FROM banded),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.sh AS sh_a, b.sh AS sh_b
         FROM ex a JOIN ex b ON a.band = b.band AND a.doc_id < b.doc_id),
j AS (SELECT id_a, id_b,
             CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) AS i,
             CAST(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))
                  AS DOUBLE) AS u
      FROM cand)
SELECT id_a, id_b, round(i / u, 6) AS jaccard
FROM j WHERE u > 0 AND i / u >= {threshold}
{"ORDER BY id_a, id_b" if order_by else ""}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (md5-derived per-token hash,
    bit-exact across engines)."""
    from gobblin_spark.operators.dedup import balance_input, simhash_expr

    docs = balance_input(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", simhash_expr(F.col("text"), bits=32).alias("simhash")
    ).orderBy("doc_id")


SQL_SIMHASH = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
           AS toks
  FROM documents),
th AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
hh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM th),
bits AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
  FROM hh, (SELECT unnest(range(0, 32)) AS b) b
  GROUP BY doc_id, b.b)
SELECT doc_id,
       CAST(SUM(CASE WHEN cnt > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
         AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force, double math, rounded).
    Exact-oracle tier: O(n²) by design, so it runs on a deterministic 1-in-3
    sample — unbounded all-pairs would be 10,000× the work at 100× the data.
    The scale path is the LSH-bucketed join in operators/similarity.py."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 3 == 0)
    from gobblin_spark.operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.2
    ).orderBy("id_a", "id_b")


SQL_EMB_NEARDUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id % 3 = 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))), 6) >= 0.2
ORDER BY id_a, id_b
"""


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: queries = vec_id < 5."""
    emb = load(spark, sf_dir, "embeddings")
    from gobblin_spark.operators.similarity import brute_force_topk

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=10).orderBy("query_id", "rank")


SQL_SIM_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
  FROM e, q),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k (the scale path: candidates share a random-
    hyperplane bucket, re-ranked exactly). Fully oracle-gated: the md5-
    derived hyperplanes and the integer-quantized signature dot products
    are replayed bit-for-bit by the DuckDB SQL below, so the candidate set
    — not just the ranking — is verified. Recall vs the exact baseline is
    additionally asserted in tests/test_operators_extra.py."""
    emb = load(spark, sf_dir, "embeddings")
    from gobblin_spark.operators.similarity import lsh_topk

    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, dim=dim, k=10,
                    n_planes=8, n_tables=4).orderBy("query_id", "rank")


def _duck_lsh_topk_sql(n_planes: int = 8, n_tables: int = 4, k: int = 10,
                       seed: int = 42) -> str:
    """Independent replay of lsh_topk: identical md5-derived ±1 hyperplanes
    (sign of md5('<seed+1000t>:<i>:<j>')[:4] parity), identical integer-
    quantized signature dots, bucket-join candidates, exact cosine re-rank."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planes AS (
  SELECT t.t, i.i, j.j,
         CASE WHEN CAST('0x' || substr(md5(
                  CAST({seed} + 1000 * t.t AS VARCHAR) || ':' ||
                  CAST(i.i AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)),
                  1, 4) AS BIGINT) % 2 = 0
              THEN 1 ELSE -1 END AS c
  FROM range({n_tables}) t(t), range({n_planes}) i(i),
       (SELECT unnest(range((SELECT max(len(v)) FROM e))) AS j) j),
dots AS (
  SELECT e.vec_id, p.t, p.i,
         SUM(CAST(floor(e.v[p.j + 1] * 1000000 + 0.5) AS BIGINT) * p.c)
           AS dot
  FROM e, planes p GROUP BY 1, 2, 3),
sigs AS (
  SELECT vec_id, t,
         SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << i) ELSE 0 END) AS sig
  FROM dots GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, d.vec_id
  FROM sigs d JOIN sigs q ON d.t = q.t AND d.sig = q.sig
  WHERE q.vec_id < 5),
scored AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(dv.v, qv.v) /
               (sqrt(list_dot_product(dv.v, dv.v)) *
                sqrt(list_dot_product(qv.v, qv.v))), 6) AS cosine
  FROM cand c
  JOIN e dv ON dv.vec_id = c.vec_id
  JOIN e qv ON qv.vec_id = c.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the third ANN tier. Codebook =
    16 md5-sampled vectors; every embedding is assigned to its nearest
    centroid map-side (codebook constant-folded — zero shuffle), queries
    probe their 4 nearest lists, candidates re-ranked by integer-quantized
    exact cosine. Fully oracle-gated: DuckDB replays codebook selection,
    assignment argmax, probe lists, and the final ranking bit-for-bit."""
    emb = load(spark, sf_dir, "embeddings")
    from gobblin_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=10, n_centroids=16,
                    n_probe=4).orderBy("query_id", "rank")


def _duck_ivf_topk_sql(n_centroids: int = 16, n_probe: int = 4,
                       k: int = 10) -> str:
    """Independent replay of ivf_topk: identical md5-sampled codebook,
    integer-quantized (exact) cosines, argmax assignment with (cos desc,
    cid asc) tie-break, probe lists, and final re-rank."""
    return f"""
WITH qe AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * 1000000 + 0.5)) AS qv
  FROM embeddings),
qn AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS n FROM qe),
cents AS (
  SELECT row_number() OVER (ORDER BY hk, vec_id) - 1 AS cid, qv AS cv,
         n AS cn
  FROM (SELECT vec_id, qv, n, md5(CAST(vec_id AS VARCHAR)) AS hk
        FROM qn ORDER BY hk, vec_id LIMIT {n_centroids})),
acos AS (
  SELECT e.vec_id, c.cid,
         list_dot_product(e.qv, c.cv) / (sqrt(e.n) * sqrt(c.cn)) AS cos
  FROM qn e, cents c),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid ASC) AS rn
    FROM acos) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid ASC) AS rn
    FROM acos WHERE vec_id < 5) WHERE rn <= {n_probe}),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM assigned a JOIN probes p ON a.cid = p.cid),
scored AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(dv.qv, qv2.qv) /
               (sqrt(dv.n) * sqrt(qv2.n)), 6) AS cosine
  FROM cand c
  JOIN qn dv ON dv.vec_id = c.vec_id
  JOIN qn qv2 ON qv2.vec_id = c.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword estimate +
    mean word length + punctuation ratio."""
    from gobblin_spark.operators import text as T
    from gobblin_spark.operators.dedup import balance_input

    docs = balance_input(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        T.token_count_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
        F.round(T.mean_word_length(F.col("text")), 6).alias("mean_word_len"),
        F.round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    ).orderBy("doc_id")


SQL_TOKEN_STATS = r"""
WITH t AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
    regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]') AS pieces
  FROM documents)
SELECT doc_id,
  CAST(len(toks) AS INT) AS n_tokens_ws,
  CAST(list_sum(list_transform(pieces,
       p -> CAST(ceil(length(p) / 6.0) AS BIGINT))) AS BIGINT) AS n_tokens_bpe,
  round(CASE WHEN len(toks) > 0 THEN
        CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        / len(toks) ELSE 0.0 END, 6) AS mean_word_len,
  round(CASE WHEN length(text) > 0 THEN
        CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))
             AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS punct_ratio
FROM t ORDER BY doc_id
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic + stopword ratio per document."""
    from gobblin_spark.operators import text as T
    from gobblin_spark.operators.dedup import balance_input

    docs = balance_input(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang_pred"),
        F.round(T.stopword_ratio(F.col("text"), "en"), 6).alias("en_sw_ratio"),
    ).orderBy("doc_id")


def _duck_langid_sql() -> str:
    from gobblin_spark.operators.text import STOPWORDS

    score_cols = []
    for lang, words in STOPWORDS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"CAST(len(list_filter(toks, x -> list_contains([{arr}], x))) AS DOUBLE)"
            f" AS s_{lang}"
        )
    langs = list(STOPWORDS)
    # argmax with Spark's array_max(struct(score,lang)) tie-break:
    # max lexicographic (score, lang) — replicate via ORDER BY (score, lang).
    struct_list = ", ".join(f"(s_{l}, '{l}')" for l in langs)
    return f"""
WITH t AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents),
s AS (SELECT doc_id, toks, {', '.join(score_cols)} FROM t),
best AS (
  SELECT doc_id, toks,
    list_aggregate([{struct_list}], 'max') AS b,
    s_en
  FROM s)
SELECT doc_id,
  CASE WHEN b[1] > 0 THEN b[2] ELSE 'und' END AS lang_pred,
  round(CASE WHEN len(toks) > 0 THEN s_en / len(toks) ELSE 0.0 END, 6)
    AS en_sw_ratio
FROM best ORDER BY doc_id
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact md5 of normalized text + min-shingle
    sketch digest."""
    from gobblin_spark.operators.dedup import balance_input
    from gobblin_spark.operators.text import fingerprint

    docs = balance_input(load(spark, sf_dir, "documents"))
    fp = fingerprint(F.col("text"), 3)
    return docs.select(
        "doc_id", fp["exact"].alias("fp_exact"), fp["sketch"].alias("fp_sketch")
    ).orderBy("doc_id")


SQL_FINGERPRINT = f"""
WITH s AS ({_DUCK_SHINGLES}),
n AS (SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ex
      FROM documents)
SELECT n.doc_id, n.ex AS fp_exact,
       COALESCE(list_aggregate(list_transform(s.sh, x -> md5(x)), 'min'),
                n.ex) AS fp_sketch
FROM n JOIN s ON n.doc_id = s.doc_id
ORDER BY n.doc_id
"""


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gobblin_spark.operators.dedup import balance_input
    from gobblin_spark.operators.text import quality_score

    docs = balance_input(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


def _duck_quality_sql() -> str:
    from gobblin_spark.operators.text import STOPWORDS

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH t AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents),
m AS (
  SELECT doc_id,
    CAST(len(toks) AS DOUBLE) AS n,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)/len(toks)
      ELSE 0.0 END AS mwl,
    CASE WHEN length(text) > 0 THEN
      CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))
           AS DOUBLE) / length(text) ELSE 0.0 END AS pr,
    CASE WHEN len(toks) > 0 THEN
      CAST(len(list_filter(toks, x -> list_contains([{en}], x))) AS DOUBLE)
      / len(toks) ELSE 0.0 END AS swr
  FROM t)
SELECT doc_id,
  round(0.4 * least(n / 64.0, 1.0)
      + 0.2 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
      + 0.2 * (1.0 - least(pr * 4.0, 1.0))
      + 0.2 * least(swr * 5.0, 1.0), 6) AS quality
FROM m ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Multimodal plumbing (synthetic media over documents; decode stubbed
# deterministically — sha-based — so even the pandas-UDF path is under the
# value-hash gate)
# --------------------------------------------------------------------------

# DuckDB replay of synth_media's md5-derived metadata + sha-derived payload.
_DUCK_MEDIA = """
SELECT doc_id,
  ['image/png','audio/wav','video/mp4']
    [CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 3 + 1 AS INT)]
    AS media_type,
  CAST(('0x' || substr(md5(text), 9, 8))::BIGINT % 1920 + 1 AS INT) AS width,
  CAST(('0x' || substr(md5(text), 17, 8))::BIGINT % 1080 + 1 AS INT) AS height,
  CAST(('0x' || substr(md5(text), 25, 8))::BIGINT % 60000 AS INT)
    AS duration_ms,
  unhex(repeat(sha256(text), 8)) AS payload,
  repeat(sha256(text), 8) AS payload_hex
FROM documents
"""


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingestion metadata audit: typed metadata over opaque binary
    payloads (media as binary + typed-metadata columns)."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.multimodal import synth_media

    media = synth_media(docs)
    return (
        media.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("width").alias("min_w"),
            F.max("width").alias("max_w"),
            F.min("height").alias("min_h"),
            F.max("height").alias("max_h"),
            F.sum("duration_ms").cast("long").alias("sum_duration_ms"),
            F.sum(F.length("payload")).cast("long").alias("sum_payload_bytes"),
        )
        .orderBy("media_type")
    )


SQL_MEDIA_METADATA = f"""
WITH m AS ({_DUCK_MEDIA})
SELECT media_type, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(width) AS min_w, MAX(width) AS max_w,
       MIN(height) AS min_h, MAX(height) AS max_h,
       CAST(SUM(duration_ms) AS BIGINT) AS sum_duration_ms,
       CAST(SUM(octet_length(payload)) AS BIGINT) AS sum_payload_bytes
FROM m GROUP BY media_type ORDER BY media_type
"""


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: 1→many explode of (frame_idx, ts_ms) per video
    row with a deterministic per-frame digest (decode stub)."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.multimodal import sample_frames, synth_media

    return sample_frames(synth_media(docs), every_ms=1000,
                         max_frames=16).orderBy("doc_id", "frame_idx")


SQL_MEDIA_FRAMES = f"""
WITH m AS ({_DUCK_MEDIA}),
v AS (SELECT doc_id, duration_ms, sha256(payload_hex) AS p
      FROM m WHERE media_type = 'video/mp4'),
f AS (SELECT doc_id, p,
             unnest(range(0, least(CAST(floor(duration_ms / 1000.0) AS BIGINT)
                                   + 1, 16))) AS fi
      FROM v)
SELECT doc_id, CAST(fi AS INT) AS frame_idx,
       CAST(fi * 1000 AS INT) AS ts_ms,
       md5(p || ':' || fi::VARCHAR) AS frame_digest
FROM f ORDER BY doc_id, frame_idx
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + featurize via mapInPandas (Arrow-batched; deterministic
    sha-based decode stub), exploded to scalar rows for exact comparison."""
    from gobblin_spark.operators.dedup import balance_input
    from gobblin_spark.operators.multimodal import extract_features, synth_media

    docs = balance_input(load(spark, sf_dir, "documents"))
    feats = extract_features(synth_media(docs), feat_dim=16)
    return (
        feats.filter(F.col("decode_ok"))
        .select("doc_id", F.posexplode("features").alias("dim_idx", "value"))
        .select("doc_id", F.col("dim_idx").cast("int"),
                F.round("value", 6).alias("value"))
        .orderBy("doc_id", "dim_idx")
    )


SQL_MEDIA_FEATURES = f"""
WITH m AS ({_DUCK_MEDIA}),
d AS (SELECT doc_id,
             sha256(payload_hex) || sha256(payload_hex || ':1') AS dh
      FROM m),
f AS (SELECT doc_id, unnest(range(0, 16)) AS dim_idx, dh FROM d)
SELECT doc_id, CAST(dim_idx AS INT) AS dim_idx,
       round(('0x' || substr(dh, CAST(dim_idx * 8 + 1 AS INT), 8))::BIGINT
             / 4294967296.0, 6) AS value
FROM f ORDER BY doc_id, dim_idx
"""


def q_dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: MinHash-LSH pairs → connected components
    → one kept representative (min doc_id) per cluster. This is the step
    real training pipelines run after pairing — dedup keeps one doc per
    connected cluster, not one per pair. Components via min-label
    propagation + pointer jumping (O(log diameter) rounds, two
    key-partitioned shuffles per round)."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.dedup import minhash_lsh_pairs, neardup_clusters

    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, n_hashes=12, bands=4, threshold=0.1
    )
    return neardup_clusters(pairs).orderBy("doc_id")


def _duck_cluster_sql() -> str:
    """Recursive-CTE oracle: reachability closure over the same MinHash-LSH
    pair graph, component = min reachable id."""
    pairs = _duck_minhash_sql(order_by=False)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
e AS (SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT u AS id FROM e),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id
),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
       FROM comp GROUP BY component)
SELECT comp.id AS doc_id, comp.component, sz.cluster_size,
       comp.id = comp.component AS is_kept
FROM comp JOIN sz USING (component)
ORDER BY doc_id
"""


def q_dedup_corpus_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: every document EXCEPT near-dup cluster
    non-representatives (LSH pairs → connected components → keep min id per
    cluster). This is the end product a training pipeline ships; singleton
    docs pass through untouched. One broadcast-able anti-join against the
    (tiny) non-representative list."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.dedup import minhash_lsh_pairs, neardup_clusters

    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, n_hashes=12, bands=4, threshold=0.1
    )
    drop = neardup_clusters(pairs).filter(~F.col("is_kept")).select("doc_id")
    return (
        docs.join(F.broadcast(drop), "doc_id", "left_anti")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


def _duck_corpus_keep_sql() -> str:
    cluster = _duck_cluster_sql()
    return f"""
WITH cl AS ({cluster})
SELECT d.doc_id, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM cl WHERE NOT is_kept)
ORDER BY d.doc_id
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate quality signals per document."""
    from gobblin_spark.operators.dedup import balance_input
    from gobblin_spark.operators.text import token_repetition_stats

    docs = balance_input(load(spark, sf_dir, "documents"))
    return token_repetition_stats(docs, "doc_id", "text").orderBy("doc_id")


SQL_TEXT_REPETITION = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
           AS toks
  FROM documents),
t AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok),
ts AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total,
              COUNT(*) AS distinct_c
       FROM tc GROUP BY doc_id),
bg0 AS (SELECT doc_id,
               CASE WHEN len(toks) >= 2 THEN
                 [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
               ELSE [] END AS bgs
        FROM toks),
b AS (SELECT doc_id, unnest(bgs) AS bg FROM bg0),
bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg),
bs AS (SELECT doc_id, MAX(c) AS bg_top_c, SUM(c) AS bg_total
       FROM bc GROUP BY doc_id)
SELECT d.doc_id,
       round(CASE WHEN ts.total > 0
                  THEN CAST(ts.top_c AS DOUBLE) / ts.total ELSE 0.0 END, 6)
         AS top_token_frac,
       round(CASE WHEN bs.bg_total > 0
                  THEN CAST(bs.bg_top_c AS DOUBLE) / bs.bg_total
                  ELSE 0.0 END, 6) AS top_bigram_frac,
       round(CASE WHEN ts.total > 0
                  THEN CAST(ts.distinct_c AS DOUBLE) / ts.total
                  ELSE 0.0 END, 6) AS distinct_token_ratio
FROM documents d
LEFT JOIN ts ON ts.doc_id = d.doc_id
LEFT JOIN bs ON bs.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any word 4-gram with the
    probe set (every 50th doc stands in for an eval benchmark; n=4 here so
    the small synthetic corpus yields a non-trivial flagged set — production
    pipelines pick n=8..13 via the same knob). Probe grams broadcast; the
    corpus is scanned once, never shuffled."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.text import contamination_flags

    probes = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("probe_id"), F.col("text").alias("probe_text")
    )
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_flags(
        train, probes, "doc_id", "text", "probe_id", "probe_text", n=4
    ).orderBy("doc_id")


_DUCK_4GRAMS = """
SELECT doc_id,
       list_distinct(
         CASE WHEN len(toks) >= 4 THEN
           [array_to_string(toks[i:i+3], ' ') FOR i IN range(1, len(toks)-2)]
         ELSE [] END) AS g8
FROM (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents)
"""

SQL_TEXT_CONTAMINATION = f"""
WITH grams AS ({_DUCK_4GRAMS}),
pg AS (SELECT doc_id AS pid, unnest(g8) AS gram FROM grams
       WHERE doc_id % 50 = 0),
dg AS (SELECT doc_id AS did, unnest(g8) AS gram FROM grams
       WHERE doc_id % 50 <> 0)
SELECT did AS doc_id,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_hits,
       MIN(pid) AS first_probe
FROM dg JOIN pg USING (gram)
GROUP BY did ORDER BY doc_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy fixed-token-window pack assignment within
    deterministic id buckets (64-token windows, 100-doc buckets at this
    scale). Buckets shuffle only (id, token_count); each is one Arrow
    applyInPandas group. Assignment is a pure function of ids + counts, so
    the oracle replays it exactly with a recursive CTE."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.packing import pack_sequences
    from gobblin_spark.operators.text import token_count_ws

    return pack_sequences(
        docs, "doc_id", token_count_ws(F.col("text")),
        window_tokens=64, bucket_size=100,
    ).orderBy("doc_id")


SQL_PACK_SEQUENCES = """
WITH RECURSIVE q AS (
  SELECT doc_id, doc_id // 100 AS bucket,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '')) AS t,
         row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id)
           AS rn
  FROM documents),
r(bucket, rn, doc_id, t, acc, pack) AS (
  SELECT bucket, rn, doc_id, t, t, 0 FROM q WHERE rn = 1
  UNION ALL
  SELECT q.bucket, q.rn, q.doc_id, q.t,
         CASE WHEN r.acc + q.t > 64 THEN q.t ELSE r.acc + q.t END,
         CASE WHEN r.acc + q.t > 64 THEN r.pack + 1 ELSE r.pack END
  FROM r JOIN q ON q.bucket = r.bucket AND q.rn = r.rn + 1)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(pack AS BIGINT) AS pack_idx, CAST(t AS BIGINT) AS n_tokens
FROM r ORDER BY doc_id
"""


MIX_FRACS = {"en": 0.3, "de": 1.0, "fr": 1.0, "es": 0.6, "zh": 0.5}


def q_dataset_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language — the dataset-mixing
    step (downweight high-resource 'en', keep all low-resource docs). The
    md5-derived draw makes the sample a pure function of doc_id: identical
    across reruns, partitionings, and engines (the oracle replays it)."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.text import stratified_sample

    return (
        stratified_sample(docs, "lang", MIX_FRACS, "doc_id")
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_kept"),
             F.min("doc_id").alias("first_id"),
             F.max("doc_id").alias("last_id"),
             # xor-free order-insensitive membership digest so the oracle
             # checks WHICH ids were kept, not just how many
             F.sum(F.col("doc_id") * F.col("doc_id")).cast("long")
             .alias("id_sq_sum"))
        .orderBy("lang")
    )


SQL_DATASET_MIX = """
WITH u AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS draw
  FROM documents),
kept AS (
  SELECT doc_id, lang FROM u
  WHERE draw < CASE lang WHEN 'en' THEN 0.3 WHEN 'de' THEN 1.0
                         WHEN 'fr' THEN 1.0 WHEN 'es' THEN 0.6
                         WHEN 'zh' THEN 0.5 ELSE 0.0 END)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(doc_id) AS first_id, MAX(doc_id) AS last_id,
       CAST(SUM(doc_id * doc_id) AS BIGINT) AS id_sq_sum
FROM kept GROUP BY lang ORDER BY lang
"""


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents: redact emails/URLs/IPv4s with typed
    placeholders, count redactions per kind. The synthetic corpus contains
    no PII, so a deterministic contact line (derived from doc_id — same
    formula in the oracle) is appended first to exercise every pattern; the
    output hashes the scrubbed text so the oracle verifies the exact
    redacted bytes, not just the counts."""
    docs = load(spark, sf_dir, "documents")
    from gobblin_spark.operators.text import pii_counts, pii_scrub

    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id"),
            F.lit("@example.com via http://ex.org/d/"),
            F.col("doc_id"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("t"),
    )
    c = pii_counts(F.col("t"))
    return (
        salted.select(
            "doc_id",
            c["n_email"].alias("n_email"),
            c["n_url"].alias("n_url"),
            c["n_ipv4"].alias("n_ipv4"),
            F.md5(pii_scrub(F.col("t"))).alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_PII = r"""
WITH s AS (
  SELECT doc_id,
         text || ' contact u' || doc_id ||
         '@example.com via http://ex.org/d/' || doc_id ||
         ' from 10.0.' || (doc_id % 256) || '.7' AS t
  FROM documents),
p1 AS (SELECT doc_id, t,
              len(regexp_extract_all(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                AS n_email,
              regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS t1
       FROM s),
p2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(t1, 'https?://[^\s]+')) AS n_url,
              regexp_replace(t1, 'https?://[^\s]+', '<URL>', 'g') AS t2
       FROM p1),
p3 AS (SELECT doc_id, n_email, n_url,
              len(regexp_extract_all(t2,
                  '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
              regexp_replace(t2, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b',
                             '<IP>', 'g') AS t3
       FROM p2)
SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
       CAST(n_url AS BIGINT) AS n_url, CAST(n_ipv4 AS BIGINT) AS n_ipv4,
       md5(t3) AS scrubbed_md5
FROM p3 ORDER BY doc_id
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity sessions over the events table (8 h inactivity
    gap): one shuffle on user_id, lag + running-sum window, per-session
    aggregate. Streaming twin (applyInPandasWithState) in
    gobblin_spark.streaming.sessions, pytest-verified against this batch
    semantics."""
    ev = load(spark, sf_dir, "events")
    from gobblin_spark.operators.sessions import session_stats

    return session_stats(ev, "user_id", "ts", gap_seconds=28800).orderBy(
        "user_id", "session_idx"
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 28800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT)
         AS duration_sec
FROM s GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES = {
    "cdc_lww_final_state": q_cdc_lww_final_state,
    "cdc_lww_salted": q_cdc_lww_salted,
    "cdc_patch_final_state": q_cdc_patch_final_state,
    "cdc_patch_cell_final_state": q_cdc_patch_cell_final_state,
    "cdc_bootstrap_handoff": q_cdc_bootstrap_handoff,
    "cdc_point_lookup": q_cdc_point_lookup,
    "events_asof_join": q_events_asof_join,
    "cdc_changelog": q_cdc_changelog,
    "cdc_changelog_mor": q_cdc_changelog_mor,
    "cdc_time_travel": q_cdc_time_travel,
    "cdc_point_lookup_mor": q_cdc_point_lookup_mor,
    "cdc_sync_downstream": q_cdc_sync_downstream,
    "cdc_agg_view": q_cdc_agg_view,
    "cdc_clone_roundtrip": q_cdc_clone_roundtrip,
    "cdc_wap_publish": q_cdc_wap_publish,
    "cdc_table_fingerprint": q_cdc_table_fingerprint,
    "cdc_rescale_final_state": q_cdc_rescale_final_state,
    "cdc_secondary_scan": q_cdc_secondary_scan,
    "cdc_secondary_range_scan": q_cdc_secondary_range_scan,
    "cdc_delete_where": q_cdc_delete_where,
    "plan_watermark_ranges": q_plan_watermark_ranges,
    "plan_time_watermark_daily": q_time_partition_daily,
    "plan_time_watermark_hourly": q_time_partition_hourly,
    "converter_projection_filter": q_converter_projection_filter,
    "converter_string_splitter": q_converter_string_splitter,
    "converter_from_json": q_converter_from_json,
    "converter_csv_roundtrip": q_converter_csv_roundtrip,
    "writer_time_partitioner": q_writer_time_partitioner,
    "quality_row_policies": q_quality_row_policies,
    "fork_branch_counts": q_fork_branch_counts,
    "rollup_hourly": q_rollup_hourly,
    "events_sessionize": q_events_sessionize,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_cluster_assign": q_dedup_cluster_assign,
    "dedup_corpus_keep": q_dedup_corpus_keep,
    "embedding_neardup": q_embedding_neardup,
    "similarity_topk": q_similarity_topk,
    "similarity_lsh_topk": q_similarity_lsh_topk,
    "similarity_ivf_topk": q_similarity_ivf_topk,
    "text_token_stats": q_text_token_stats,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "text_quality_score": q_text_quality_score,
    "text_repetition": q_text_repetition,
    "text_pii_scrub": q_text_pii_scrub,
    "text_contamination": q_text_contamination,
    "dataset_mix_sample": q_dataset_mix_sample,
    "pack_sequences": q_pack_sequences,
    "media_metadata": q_media_metadata,
    "media_frame_sample": q_media_frame_sample,
    "media_features": q_media_features,
}


def oracle_sqls() -> dict[str, str]:
    return {
        "cdc_lww_final_state": SQL_CDC_LWW,
        "cdc_lww_salted": SQL_CDC_LWW,  # same semantics, salted path
        "cdc_patch_final_state": SQL_CDC_PATCH,
        # same final state as the monotone full replay — that equality under
        # an out-of-order incremental fold IS the property under test
        "cdc_patch_cell_final_state": SQL_CDC_PATCH,
        # full-replay equality under snapshot-at-W + suffix-only merge IS
        # the handoff property under test
        "cdc_bootstrap_handoff": SQL_CDC_BOOTSTRAP,
        "cdc_point_lookup": SQL_CDC_POINT_LOOKUP,
        "events_asof_join": SQL_ASOF_JOIN,
        "cdc_changelog": SQL_CDC_CHANGELOG,
        "cdc_changelog_mor": SQL_CDC_CHANGELOG,  # same semantics, MOR path
        "cdc_time_travel": SQL_CDC_TIME_TRAVEL,
        "cdc_point_lookup_mor": SQL_CDC_POINT_LOOKUP,  # same keys, MOR path
        # downstream replay of shipped changelogs must equal the upstream
        # full-replay visible state — that equality IS the sync property
        "cdc_sync_downstream": SQL_CDC_VISIBLE_STATE,
        # the incrementally-maintained view (bootstrap + preimage
        # retractions) must equal a from-scratch GROUP BY over the final
        # visible state — that equality IS the IVM property
        "cdc_agg_view": SQL_CDC_AGG_VIEW,
        # a clone must read back as the upstream's full-replay visible
        # state — that equality IS the replication property
        "cdc_clone_roundtrip": SQL_CDC_VISIBLE_STATE,
        "cdc_wap_publish": SQL_CDC_VISIBLE_STATE,
        "cdc_table_fingerprint": SQL_CDC_FINGERPRINT,
        # mid-stream bucket rescale must leave the final state identical
        # to the plain full replay — that invariance IS the property
        "cdc_rescale_final_state": SQL_CDC_VISIBLE_STATE,
        "cdc_secondary_scan": SQL_CDC_SECONDARY_SCAN,
        "cdc_secondary_range_scan": SQL_CDC_SECONDARY_RANGE_SCAN,
        "cdc_delete_where": SQL_CDC_DELETE_WHERE,
        "plan_watermark_ranges": SQL_PLAN_WATERMARK,
        "plan_time_watermark_daily": SQL_TIME_PARTITION_DAILY,
        "plan_time_watermark_hourly": SQL_TIME_PARTITION_HOURLY,
        "converter_projection_filter": SQL_CONVERTER_PROJ,
        "converter_string_splitter": SQL_STRING_SPLITTER,
        "converter_from_json": SQL_FROM_JSON,
        "converter_csv_roundtrip": SQL_CSV_ROUNDTRIP,
        "writer_time_partitioner": SQL_TIME_PARTITIONER,
        "quality_row_policies": SQL_QUALITY,
        "fork_branch_counts": SQL_FORK,
        "rollup_hourly": SQL_ROLLUP,
        "events_sessionize": SQL_SESSIONIZE,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
        "dedup_minhash_lsh": _duck_minhash_sql(),
        "dedup_simhash": SQL_SIMHASH,
        "dedup_cluster_assign": _duck_cluster_sql(),
        "dedup_corpus_keep": _duck_corpus_keep_sql(),
        "embedding_neardup": SQL_EMB_NEARDUP,
        "similarity_topk": SQL_SIM_TOPK,
        "similarity_lsh_topk": _duck_lsh_topk_sql(),
        "similarity_ivf_topk": _duck_ivf_topk_sql(),
        "text_token_stats": SQL_TOKEN_STATS,
        "text_langid": _duck_langid_sql(),
        "text_fingerprint": SQL_FINGERPRINT,
        "text_quality_score": _duck_quality_sql(),
        "text_repetition": SQL_TEXT_REPETITION,
        "text_pii_scrub": SQL_TEXT_PII,
        "text_contamination": SQL_TEXT_CONTAMINATION,
        "dataset_mix_sample": SQL_DATASET_MIX,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "media_metadata": SQL_MEDIA_METADATA,
        "media_frame_sample": SQL_MEDIA_FRAMES,
        "media_features": SQL_MEDIA_FEATURES,
    }
