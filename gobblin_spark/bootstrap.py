"""Initial-snapshot bootstrap: full source-table load + CDC handoff.

≙ the reference's SNAPSHOT→APPEND extract lifecycle — a QueryBasedSource
job first runs a full dump (Extract.TableType SNAPSHOT_ONLY,
gobblin-core/src/main/java/gobblin/source/extractor/extract/QueryBasedSource.java)
and subsequent runs pull only rows past the recorded high watermark
(APPEND_ONLY + watermark resume) — and Debezium-style initial snapshot →
binlog handoff: load a consistent snapshot of the source table taken at
change-stream position W, then tail only events with seq > W.

Why a dedicated path instead of replaying history as change events: at
10^10 accumulated events the stream's prefix is many times the live table
(every key's dead versions), while the snapshot is exactly the live rows.
The load is ONE bucketed write — no merge fold, no reduce shuffle beyond
the bucket clustering itself (``fanout`` removes even that) — because a
consistent snapshot has unique keys by construction, so there is nothing
to resolve. The handoff then makes the LWW algebra exact: snapshot rows
carry ``__seq = W`` and the planner admits only ``seq > W``, so any event
the snapshot already reflects can never win a race against it, and any
later event beats it — byte-identical to having replayed all of history.

Exactly-once across the two commit points (table snapshot, then state-store
commit log — same order as the engine: data first, log second):

- crash before the table commit: nothing visible, rerun rewrites;
- crash between table commit and log publish: the table snapshot records
  ``bootstrap_id``, so a rerun skips the data write (a second write would
  DUPLICATE live rows — unlike the engine's merge batches, a raw load is
  not self-resolving) and only publishes the log;
- rerun after full success: ``store.is_committed`` short-circuits.
"""

from __future__ import annotations

from typing import Any, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gobblin_spark.engine import KEYS, default_registry, target_schema_for
from gobblin_spark.lakehouse import LakeTable
from gobblin_spark.lakehouse.merge import (
    META_COLS,
    SEQ_COL,
    batch_to_stored,
    stored_schema,
)
from gobblin_spark.state.store import StateStore, WorkUnitState


class BootstrapError(RuntimeError):
    pass


def bootstrap_snapshot(
    spark: SparkSession,
    snapshot_df: DataFrame,
    table_root: str,
    state_root: str,
    *,
    watermark: int,
    groups: Sequence[int],
    n_buckets: int = 32,
    merge_dialect: str = "row",
    distribution: str = "cluster",
    registry=None,
    verify_unique: bool = False,
    keys: Sequence[str] | None = None,
    schema=None,
    fs=None,
    adopt_existing: bool = False,
) -> dict[str, Any]:
    """Load ``snapshot_df`` (the source table as of change position
    ``watermark``) into a fresh target table and commit per-group
    watermarks so incremental ingest resumes at ``seq > watermark``.

    groups: the change stream's event-group ids (≙ Kafka partition list —
    a deployment constant; the CLI can derive it from the events source).
    verify_unique: one counting aggregate asserting the snapshot has no
    duplicate keys (consistency check on the upstream dump; opt-in because
    it is a full extra scan at bootstrap scale).
    keys/schema: default to the engine's repo-table contract (KEYS +
    registry schema v1); pass both to bootstrap any other keyed table
    (schema = payload fields WITHOUT the system columns, which are added
    per dialect).
    adopt_existing: adopt a pre-existing table's files as the snapshot
    image at ``watermark`` (commit only the handoff watermarks; no data
    written). Without it, bootstrapping into a non-empty table raises.
    """
    registry = registry or default_registry()
    keys = list(keys) if keys else KEYS
    store = StateStore(state_root, fs=fs)
    bid = f"bootstrap-{int(watermark)}"

    if store.is_committed(bid):
        table = LakeTable(spark, table_root, fs=fs)
        return {"bootstrap_id": bid, "already_bootstrapped": True,
                "rows_loaded": 0, "watermark": int(watermark),
                "snapshot_version": table.snapshot().version}
    if store.committed_batches():
        raise BootstrapError(
            "state store already holds committed incremental batches — "
            "bootstrap must run before any ingest (it would regress "
            "watermarks and duplicate live rows)")

    if LakeTable.exists(table_root, fs=fs):
        table = LakeTable(spark, table_root, fs=fs)
        merge_dialect = table.snapshot().merge_dialect
    else:
        full = (stored_schema(schema, merge_dialect) if schema is not None
                else target_schema_for(registry, 1, merge_dialect))
        table = LakeTable.create(
            spark, table_root, full,
            keys, n_buckets=n_buckets,
            properties={"registry_version": 1,
                        "merge_dialect": merge_dialect},
            fs=fs,
        )

    snap = table.snapshot()
    already_written = any(
        table.snapshot(v).properties.get("bootstrap_id") == bid
        for v in table.versions()
    )
    if not already_written and snap.files:
        # A pre-existing table with data files but no record of THIS
        # bootstrap means the files came from somewhere else (another
        # bootstrap, direct writes, a retained table under a fresh state
        # root). Loading the snapshot on top would duplicate live rows —
        # a raw load is not self-resolving like a merge. adopt_existing
        # declares the existing files ARE the snapshot at `watermark`:
        # skip the data write, publish only the handoff watermarks.
        if not adopt_existing:
            raise BootstrapError(
                f"table at {table_root} already holds {len(snap.files)} "
                "data files with no record of this bootstrap — loading the "
                "snapshot would duplicate live rows. Pass "
                "adopt_existing=True to adopt the existing files as the "
                "snapshot image at this watermark (no data written), or "
                "bootstrap into a fresh table root.")
        snap = table.commit(
            keep_files=snap.files,
            add_files=[],
            properties={"bootstrap_id": bid, "batch_id": bid,
                        "bootstrap_watermark": int(watermark),
                        "bootstrap_adopted": True},
            expected_version=snap.version,
        )
        already_written = True
    rows_loaded = 0
    if not already_written:
        payload = [f.name for f in snap.schema.fields
                   if f.name not in META_COLS]
        missing = [c for c in payload if c not in snapshot_df.columns]
        if missing:
            raise BootstrapError(
                f"snapshot is missing target payload columns {missing} "
                f"(have {snapshot_df.columns})")
        if verify_unique:
            dups = (snapshot_df.groupBy(*keys).count()
                    .filter(F.col("count") > 1).count())
            if dups:
                raise BootstrapError(
                    f"snapshot is not a consistent table image: {dups} "
                    f"duplicate keys")
        ev = snapshot_df.select(
            *payload,
            F.lit(int(watermark)).cast("long").alias("seq"),
            F.lit("I").alias("op"),
        )
        stored = batch_to_stored(ev, payload, "seq", "op", merge_dialect)
        files = table.write_data_files(stored, seq_col=SEQ_COL,
                                       distribution=distribution,
                                       sort_cols=list(keys))
        rows_loaded = sum(f.rows for f in files)
        snap = table.commit(
            keep_files=snap.files,
            add_files=files,
            properties={"bootstrap_id": bid, "batch_id": bid,
                        "bootstrap_watermark": int(watermark)},
            expected_version=snap.version,
        )
    else:
        snap = table.snapshot()

    # low_seq == high_seq == watermark: a ZERO-width lineage window. Resume
    # semantics are identical (the watermark map records high_seq either
    # way), but a (-1, W] window would (a) poison observed_seq_density with
    # rows_read=0 over width W — the planner would widen its admission
    # window by max_window_factor right after handoff — and (b) make the
    # pending-batch crash-retry path replan the ENTIRE (-1, W] history if a
    # crash lands between begin_batch and commit_batch.
    units = [
        WorkUnitState(
            workunit_id=f"{bid}-g{int(g)}",
            batch_id=bid,
            event_group=int(g),
            low_seq=int(watermark),
            high_seq=int(watermark),
            rows_read=0,
            rows_written=0,
        )
        for g in sorted(set(int(g) for g in groups))
    ]
    if not units:
        raise BootstrapError("groups must be non-empty — the handoff "
                             "watermark is committed per event group")
    store.begin_batch(bid, units)
    store.commit_batch(
        bid, units, snapshot_version=snap.version,
        metrics={"rows_loaded": rows_loaded,
                 "bootstrap_watermark": int(watermark),
                 "kind": "bootstrap"},
    )
    return {"bootstrap_id": bid, "already_bootstrapped": False,
            "rows_loaded": rows_loaded, "watermark": int(watermark),
            "snapshot_version": snap.version}
