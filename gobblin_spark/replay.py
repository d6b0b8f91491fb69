"""Dead-letter replay: re-merge quarantined err-file rows after a fix.

≙ the reference's ERR_FILE quality type (RowLevelPolicy.java:30-43 — rows
diverted to an error sink instead of the target) closed into a loop: the
reference leaves reprocessing of err files to the operator; here it is a
first-class job (the DLQ-replay step every production CDC pipeline grows).

Semantics — replay at the ORIGINAL seq, never a fresh one:
the goal is convergence to the state a full replay of all history would
produce had the rows never been quarantined. Re-merging at their original
seq preserves exactly that LWW algebra (a newer event that already applied
still wins; the quarantined row lands only where it would have). Requeueing
at a fresh seq (the Kafka-DLQ habit) would instead let a stale row beat
newer data.

The one exception is forced by tombstone GC: compaction drops delete
tombstones at or below ``gc_horizon_seq`` on the argument that planner
admission guarantees nothing at or below the watermark can still arrive.
Quarantined rows are precisely a violation of that guarantee. A row with
``seq <= gc_horizon_seq`` whose key still has ANY stored row (live or
tombstone) is safe — LWW resolves it. A row whose key is wholly ABSENT
from the table is ambiguous: either its key's history was entirely
quarantined (replay would be correct) or a deleting tombstone was GC'd
(replay would resurrect the key). Those rows are blocked — kept
quarantined and reported — unless ``force=True`` accepts the resurrection
risk. The key-presence probe is one bucket-pruned, column-pruned read of
only the candidate keys' buckets.

Exactly-once across the three steps (merge, quarantine rewrite, commit
log): the commit log is checked first (rerun after success = no-op); the
merge is idempotent under replay (LWW); the quarantine partition is
rewritten to only the still-failed/blocked rows BEFORE the log publishes,
so a crash at any point re-runs a smaller, converging replay.

Quarantine rewrite protocol (all metadata I/O through CommitFs, so DLQ
replay works on object stores too): the remainder is staged to a sibling
prefix, then a SWAP MARKER (one atomic ``write_replace``) declares the
staging authoritative, then the old partition keys are deleted and the
staged keys promoted. The invariant every crash window preserves is
*visible partition ⊇ still-quarantined rows* — a superset re-replays
harmlessly (re-merging is LWW-idempotent, policy re-checks re-filter),
while a subset would silently lose DLQ rows. Without the marker, a crash
mid-delete of the old partition leaves exactly such a subset.
"""

from __future__ import annotations

import os
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from gobblin_spark.engine import KEYS, default_registry
from gobblin_spark.lakehouse import LakeTable, merge_lww
from gobblin_spark.operators.converters import SchemaEvolutionConverter
from gobblin_spark.operators.quality import RowLevelPolicyChecker
from gobblin_spark.state.store import StateStore


def infer_registry_version(registry, cols: list[str]) -> int:
    """Highest registry version whose payload columns are all present —
    err partitions hold rows already conformed to their batch's target
    version, so the column set identifies it."""
    have = set(cols)
    for v in sorted(registry.versions, reverse=True):
        if {f.name for f in registry.schema(v).fields} <= have:
            return v
    raise ValueError(
        f"err rows with columns {cols} match no registry version")


_SWAP_PREFIX = "run_id="


def _promote(fs, staging: str, part: str) -> None:
    """Copy every staged key into the partition prefix (same relative
    names, overwrite) — idempotent, so a crashed promotion just re-runs.
    Quarantine partitions are small (err rows), so a read+put per key is
    fine; on LocalFs this is still O(remainder), not O(table)."""
    for src in list(fs.walk_files(staging)):
        rel = os.path.relpath(src, staging)
        dst = os.path.join(part, rel)
        fs.makedirs(os.path.dirname(dst))
        fs.write_replace(fs.read(src), dst)


def replay_errors(
    spark: SparkSession,
    err_path: str,
    table_root: str,
    state_root: str,
    *,
    registry=None,
    policies=None,
    run_ids: list[str] | None = None,
    force: bool = False,
    fs=None,
) -> dict[str, Any]:
    """Re-merge quarantined rows for each ``run_id=<id>`` partition under
    ``err_path``. policies: the CURRENT row policies to re-check against
    (rows that still fail stay quarantined); force=True merges everything
    past the GC-horizon guard regardless of policies."""
    registry = registry or default_registry()
    store = StateStore(state_root, fs=fs)
    table = LakeTable(spark, table_root, fs=fs)
    fs = store.fs
    snap = table.snapshot()
    snap.merge_dialect  # a retired dialect fails before any replay
    horizon = int(snap.properties.get("gc_horizon_seq", -1))
    target_v = int(snap.properties.get("registry_version", 1))

    if run_ids is None:
        # discover rids from BOTH live partitions and swap artifacts: a
        # crash after the partition's keys were deleted but before the
        # marker cleared leaves ONLY the marker (+ staging) behind — a
        # partition-only listing would never revisit that rid and its
        # staged remainder would be lost from discovery forever
        found: set[str] = set()
        for n in fs.listdir(err_path):
            if n.startswith("run_id="):
                found.add(n.split("=", 1)[1])
            elif n.startswith("." + _SWAP_PREFIX):
                found.add(n[len("." + _SWAP_PREFIX):]
                          .rsplit(".__replay", 1)[0])
        run_ids = sorted(found)

    out: dict[str, Any] = {"replayed": {}, "still_quarantined": {},
                           "blocked_below_gc_horizon": {}, "skipped": []}
    for rid in run_ids:
        bid = f"errreplay-{rid}"
        if store.is_committed(bid):
            out["skipped"].append(rid)
            continue
        part = os.path.join(err_path, f"run_id={rid}")
        # dot-prefixed siblings: hidden from Spark's directory listings
        # (a reader of the whole err dir must never see half a swap) and
        # from the partition-name discovery above
        staging = os.path.join(err_path, f".{_SWAP_PREFIX}{rid}.__replay_tmp")
        marker = os.path.join(err_path, f".{_SWAP_PREFIX}{rid}.__replay_swap")
        if fs.exists(marker):
            # a prior attempt staged the remainder and atomically declared
            # it authoritative, then crashed somewhere in the swap — the
            # partition may be an arbitrary subset. Finish the swap:
            # re-promote the staged keys (idempotent overwrite; absent
            # staging with marker 'staged' means promotion fully completed
            # and only the marker removal crashed), then clear the marker.
            if fs.read(marker) == b"staged":
                if fs.exists(staging):
                    _promote(fs, staging, part)
                    fs.remove_tree(staging)
            else:  # b"empty": everything landed; the partition must drain
                fs.remove_tree(part)
            fs.remove(marker)
        if not fs.exists(part):
            # partition fully consumed by a prior attempt that crashed
            # before the log commit — the merge already landed (idempotent);
            # just record the commit so reruns stop here
            store.commit_batch(bid, [], snapshot_version=table.current_version(),
                               metrics={"kind": "err_replay", "rows_read": 0,
                                        "rows_merged": 0, "wall_ms": 0})
            out["replayed"][rid] = 0
            out["still_quarantined"][rid] = 0
            out["blocked_below_gc_horizon"][rid] = 0
            continue
        df = spark.read.parquet(part)

        # conform quarantine-era rows to the table's CURRENT schema (the
        # table may have evolved since the batch that quarantined them)
        from_v = infer_registry_version(registry, df.columns)
        if from_v != target_v:
            evo = SchemaEvolutionConverter(
                registry=registry,
                version_col="__errv",
                target_version=target_v,
                passthrough=["seq", "op", "event_group"],
                versions=[from_v],
            )
            df = evo.convert(df.withColumn("__errv", F.lit(from_v)))

        old = df.filter(F.col("seq") <= horizon)
        candidate = df.filter(F.col("seq") > horizon)
        blocked = df.limit(0)
        if horizon >= 0 and not force and old.limit(1).count():
            # sub-horizon rows: safe iff the key still has ANY stored row
            # (LWW then resolves); an absent key may be a GC'd delete
            stored_keys = table.read(
                buckets=table.buckets_of(old.select(*KEYS))
            ).select(*KEYS).distinct()
            blocked = old.join(stored_keys, on=list(KEYS), how="left_anti")
            candidate = candidate.unionByName(
                old.join(stored_keys, on=list(KEYS), how="left_semi"))
        elif force:
            candidate = df
        if force or not policies:
            passed, failed = candidate, candidate.limit(0)
        else:
            res = RowLevelPolicyChecker(policies, err_path=None).execute(
                candidate, run_id=rid)
            passed, failed = res.passed, res.failed

        stats = passed.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.min("seq").alias("lo"), F.max("seq").alias("hi")).first()
        n_pass = int(stats["n"])
        if n_pass:
            merge_lww(table, passed, KEYS,
                      properties={"batch_id": bid})

        # rewrite the quarantine partition down to what did NOT land —
        # staged to a sibling prefix BEFORE the original is touched, made
        # authoritative by ONE atomic marker write, and all BEFORE the log
        # commit: every crash window leaves the visible partition a
        # SUPERSET of the still-quarantined rows (converging — re-merge is
        # LWW-idempotent), never a subset (which would lose DLQ rows)
        n_blocked = int(blocked.count())
        keep = failed.unionByName(blocked)
        n_keep = keep.count()
        if n_keep:
            keep.write.mode("overwrite").parquet(staging)
        elif fs.exists(staging):
            fs.remove_tree(staging)  # stale staging from a pre-marker crash
        fs.write_replace(b"staged" if n_keep else b"empty", marker)
        fs.remove_tree(part)
        if n_keep:
            _promote(fs, staging, part)
            fs.remove_tree(staging)
        fs.remove(marker)

        # Commit the log ONLY when the partition fully drained: idempotency
        # of a partial replay comes from the partition rewrite itself (a
        # rerun re-reads only what did not land; re-merging is LWW-safe
        # anyway), and an uncommitted rid stays retryable under relaxed
        # policies or --force. No work units and no RUNNING checkpoint: an
        # err replay must never contribute watermarks (a synthetic group
        # entry would drag the planner's global low) nor appear as a
        # pending batch the planner would try to re-plan.
        if n_keep == 0:
            store.commit_batch(
                bid, [], snapshot_version=table.current_version(),
                metrics={"kind": "err_replay", "rows_read": n_pass,
                         "rows_merged": n_pass,
                         "seq_range": ([int(stats["lo"]), int(stats["hi"])]
                                       if n_pass else None),
                         "wall_ms": 0},
            )
        out["replayed"][rid] = n_pass
        out["still_quarantined"][rid] = n_keep - n_blocked
        out["blocked_below_gc_horizon"][rid] = n_blocked
    return out
