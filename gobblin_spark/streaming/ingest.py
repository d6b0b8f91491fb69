"""Structured Streaming front-end for the CDC engine.

The reference's long-running entry point keeps containers alive and re-runs
the same plan→extract→convert→publish pipeline as new data lands
(gobblin-yarn/src/main/java/gobblin/yarn/GobblinYarnAppLauncher.java; the
standalone Quartz scheduler is the same loop on one node). The Spark-native
equivalent is Structured Streaming over the change-event source with
``foreachBatch`` applying the engine's idempotent LWW MERGE:

- source: ``readStream`` on the event directory (files appear in seq order;
  on a real deployment this is the Kafka source with identical downstream
  code — foreachBatch receives a plain DataFrame either way)
- exactly-once: Spark's streaming checkpoint guarantees each epoch is
  replayed at-least-once after a crash; the engine's commit log keyed by
  ``stream-{epoch_id}`` makes the apply idempotent, upgrading the pipeline
  to exactly-once — the same verify-then-skip protocol as the batch loop
  (≙ CommitSequence WAL replay, AbstractJobLauncher.java:229-233)
- ``availableNow`` trigger = the reference's "micro-batch by scheduler"
  cadence: drain everything currently available, then stop; a processing-
  time trigger turns the same job into a continuous tail.

Late/out-of-order data needs no event-time watermark here: LWW-by-seq is
order-insensitive, so completeness markers are unnecessary (Gobblin
"watermarks" are checkpoint offsets, not Flink-style event-time watermarks
— gobblin-api/.../Watermark.java:18-20).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gobblin_spark.engine import (
    KEYS,
    check_choice,
    default_registry,
    evolve_target_to,
    target_schema_for,
)
from gobblin_spark.lakehouse import LakeTable, merge_lww
from gobblin_spark.operators.converters import SchemaEvolutionConverter
from gobblin_spark.state.store import StateStore, WorkUnitState


def stream_ingest(
    spark: SparkSession,
    events_path: str,
    table_root: str,
    state_root: str,
    checkpoint_dir: str,
    registry=None,
    available_now: bool = True,
    processing_interval: str | None = None,
    salt_buckets: int = 0,
    n_buckets: int = 32,
    max_files_per_trigger: int | None = None,
    merge_dialect: str = "row",
    stats_cols: list[str] | None = None,
):
    """Run the streaming ingest; returns the StreamingQuery.

    With ``available_now`` the query drains the currently-available input and
    terminates (call ``q.awaitTermination()``); otherwise it tails forever at
    ``processing_interval``.
    """
    registry = registry or default_registry()
    check_choice("merge_dialect", merge_dialect, ("row", "cell"))
    if LakeTable.exists(table_root):
        table = LakeTable(spark, table_root)
        table.snapshot().merge_dialect  # a retired dialect fails here
    else:
        table = LakeTable.create(
            spark, table_root,
            target_schema_for(registry, 1, merge_dialect), KEYS,
            n_buckets=n_buckets,
            properties={"registry_version": 1,
                        "merge_dialect": merge_dialect},
            stats_cols=stats_cols,
        )
    store = StateStore(state_root)
    static_schema = spark.read.parquet(events_path).schema

    reader = spark.readStream.schema(static_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(events_path)

    def apply_epoch(batch: DataFrame, epoch_id: int) -> None:
        batch_id = f"stream-{epoch_id}"
        if store.is_committed(batch_id):  # replayed epoch after crash
            return
        data = batch.filter(F.col("op").isin("I", "U", "D"))
        agg = data.agg(
            F.count(F.lit(1)), F.min("seq"), F.max("seq"),
            F.max("schema_version"),
        ).collect()[0]
        n, lo, hi, sv_max = agg[0], agg[1], agg[2], agg[3]
        if not n:
            return
        cur_v = int(table.snapshot().properties.get("registry_version", 1))
        if sv_max and int(sv_max) > cur_v:
            evolve_target_to(table, registry, int(sv_max))
        target_v = int(table.snapshot().properties.get("registry_version", 1))
        conformed = SchemaEvolutionConverter(
            registry=registry,
            version_col="schema_version",
            target_version=target_v,
            passthrough=["seq", "op", "event_group"],
        ).convert(data)
        snap = merge_lww(
            table, conformed, KEYS, seq_col="seq", op_col="op",
            salt_buckets=salt_buckets, properties={"batch_id": batch_id},
        )
        store.commit_batch(
            batch_id,
            [WorkUnitState(
                workunit_id=batch_id, batch_id=batch_id, event_group=-1,
                low_seq=int(lo) - 1, high_seq=int(hi), state="SUCCESSFUL",
                actual_high_seq=int(hi), rows_read=int(n), rows_written=int(n),
            )],
            snap.version,
            metrics={"rows_read": int(n), "epoch_id": epoch_id},
        )

    writer = (
        stream.writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_interval:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()


def kafka_stream_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    value_schema_ddl: str | None = None,
):
    """The Kafka-fronted variant of the same pipeline: builds the readStream
    with the reference's source knobs mapped onto Spark's Kafka options —
    topic list (≙ topic.whitelist), starting offsets (≙
    kafka.offset.reset), per-trigger record cap (maxOffsetsPerTrigger ≙ the
    fork's KAFKA_MAX_WORKUNIT_RECORD_COUNT). The returned DataFrame feeds
    the identical ``foreachBatch`` apply as the file source — downstream
    code never sees the difference.

    Requires the spark-sql-kafka connector (absent in this environment:
    .load() raises the standard missing-data-source error; add
    --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>).
    value_schema_ddl parses the JSON value payload into columns when given.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger",
                               str(max_offsets_per_trigger))
    stream = reader.load()
    if value_schema_ddl:
        stream = stream.select(
            F.from_json(F.col("value").cast("string"),
                        value_schema_ddl).alias("__r")
        ).select("__r.*")
    return stream
