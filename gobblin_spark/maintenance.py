"""Catalog-scoped maintenance sweep: one command applies each registered
table's stored retention/compaction/rescale policy.

≙ the reference's retention job family (gobblin-data-management
retention: policy-driven dataset cleaners run as a scheduled job over
every dataset under a root) — here the "datasets" are the catalog's
registered LakeTables and the policy lives ON the registration entry as
``maintain.*`` properties, so one scheduled ``run_job.py maintain
--catalog ROOT`` keeps a whole lake healthy without per-table operator
scripts.

Policy keys (all optional, stored as catalog entry properties — strings,
as CLI ``--prop k=v`` writes them):

- ``maintain.compact_delta_ratio``: fold MOR deltas when outstanding
  delta rows / reduced base rows reaches this ratio (manifest math; an
  all-delta table always folds). Mirrors the engine's adaptive trigger.
- ``maintain.rescale_bytes_per_bucket``: grow the bucket spec
  (metadata-only) when average bytes per bucket exceeds this —
  ``plan_rescale_factor`` math, ceiling-clamped.
- ``maintain.expire_keep_last``: expire all but the newest N snapshot
  manifests (tag-pinned versions always kept).
- ``maintain.vacuum``: 'true' → delete unreferenced data files.

Order per table: compact → rescale → expire → vacuum (compaction first so
expire+vacuum can reclaim the pre-fold files in the same sweep; rescale
after compact so the spec decision sees post-fold sizes).

Crash-safety / resume: every per-table action is idempotent (compaction
triggers re-evaluate, expire/vacuum skip work already done), so a crashed
sweep can always simply rerun. With ``sweep_id`` set, the sweep
additionally publishes a per-table completion marker under
``<catalog>/maintenance/<sweep_id>/`` (publish_if_absent — exactly-once
even against a concurrent duplicate sweep) and a rerun with the same id
SKIPS completed tables — the resume semantics a scheduler wants when a
sweep over thousands of tables dies at table 700. A table whose
maintenance raises does not stop the sweep: its error goes into the
report, it gets no marker, and the sweep ends with ``SweepFailed``
(the ``maintain`` CLI exits 1).

Scale shape: the sweep itself is driver-side manifest math per table; the
only cluster work is the compactions it decides to run, each O(that
table's unreduced buckets). Tables are processed sequentially — at lake
scale you shard sweeps by catalog prefix, not by parallelizing one driver.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from typing import Any

from gobblin_spark.catalog import Catalog
from gobblin_spark.fsio import CommitConflict, CommitFs
from gobblin_spark.lakehouse import LakeTable
from gobblin_spark.lakehouse.table import plan_rescale_factor

PREFIX = "maintain."


def parse_policy(properties: dict[str, Any]) -> dict[str, Any]:
    """Typed view of the ``maintain.*`` entry properties. Unknown
    maintain.* keys raise — a typo'd policy silently doing nothing is how
    retention quietly stops happening."""
    out: dict[str, Any] = {}
    for k, v in (properties or {}).items():
        if not k.startswith(PREFIX):
            continue
        key = k[len(PREFIX):]
        if key == "compact_delta_ratio":
            out[key] = float(v)
        elif key == "rescale_bytes_per_bucket":
            out[key] = int(v)
        elif key == "expire_keep_last":
            out[key] = int(v)
        elif key == "vacuum":
            out[key] = str(v).strip().lower() in ("true", "1", "yes")
        else:
            raise ValueError(f"unknown maintenance policy key {k!r}")
    return out


def maintain_table(spark, table_root: str,
                   policy: dict[str, Any], fs=None) -> dict[str, Any]:
    """Apply one table's policy; returns the actions actually taken.
    Every step is manifest-math-gated, so a healthy table is a no-op."""
    from gobblin_spark.lakehouse.merge import compact

    table = LakeTable(spark, table_root, fs=fs)
    actions: dict[str, Any] = {}

    ratio = policy.get("compact_delta_ratio")
    if ratio is not None:
        snap = table.snapshot()
        delta_rows = sum(f.rows for f in snap.files if not f.reduced)
        base_rows = sum(f.rows for f in snap.files if f.reduced)
        if delta_rows > 0 and (
                base_rows == 0 or delta_rows / base_rows >= ratio):
            snap = compact(table, properties={"compacted_by": "maintain"})
            actions["compacted"] = {"delta_rows_folded": delta_rows,
                                    "snapshot_version": snap.version}

    target = policy.get("rescale_bytes_per_bucket")
    if target:
        snap = table.snapshot()
        factor = plan_rescale_factor(
            snap.n_buckets, sum(f.bytes for f in snap.files), target)
        if factor > 1:
            snap = table.rescale_buckets(snap.n_buckets * factor)
            actions["rescaled"] = {"n_buckets": snap.n_buckets}

    keep = policy.get("expire_keep_last")
    if keep:
        expired = table.expire_snapshots(keep_last=keep)
        if expired:
            actions["snapshots_expired"] = expired

    if policy.get("vacuum"):
        removed = table.vacuum()
        if removed:
            actions["files_removed"] = removed

    return actions


class SweepFailed(RuntimeError):
    """Some tables' maintenance raised. The sweep still ran every other
    table; ``report`` holds each table's outcome, a failed one as
    ``{"error": "<type>: <message>"}``."""

    def __init__(self, report: dict[str, Any]):
        failed = [n for n, r in report["tables"].items() if "error" in r]
        super().__init__(f"maintenance failed for tables {failed}")
        self.report = report


def sweep_catalog(spark, catalog_root: str, sweep_id: str | None = None,
                  fs: CommitFs | None = None) -> dict[str, Any]:
    """Run every registered table's policy and return the report. With
    ``sweep_id``, tables completed by an earlier run of the SAME sweep are
    skipped (crash resume / concurrent-duplicate dedup via
    publish_if_absent markers). A table whose maintenance raises is
    recorded as failed — it gets no marker, so a resumed sweep retries
    it — and the sweep goes on to the next table; at the end SweepFailed
    carries the report."""
    cat = Catalog(catalog_root, fs=fs)
    cfs = cat.fs
    marker_dir = (os.path.join(catalog_root, "maintenance", sweep_id)
                  if sweep_id else None)
    if marker_dir:
        cfs.makedirs(marker_dir)
    report: dict[str, Any] = {"catalog": catalog_root, "sweep_id": sweep_id,
                              "tables": {}}
    for e in cat.list():
        marker = (os.path.join(marker_dir, f"{e.name}.json")
                  if marker_dir else None)
        try:
            outcome = _sweep_table(spark, e, cfs, marker, fs)
        except Exception as exc:  # isolate the table, sweep on
            traceback.print_exc()
            outcome = {"error": f"{type(exc).__name__}: {exc}"}
        report["tables"][e.name] = outcome
    if any("error" in r for r in report["tables"].values()):
        raise SweepFailed(report)
    return report


def _sweep_table(spark, e, cfs: CommitFs, marker: str | None,
                 fs: CommitFs | None) -> dict[str, Any]:
    """One catalog entry's sweep outcome."""
    policy = parse_policy(e.properties)
    if not policy:
        return {"skipped": "no maintain.* policy"}
    if marker and cfs.exists(marker):
        return {"skipped": "already swept"}
    if not LakeTable.exists(e.table_root, fs=fs):
        return {"skipped": "no table at root"}
    actions = maintain_table(spark, e.table_root, policy, fs=fs)
    if marker:
        try:
            cfs.publish_if_absent(
                json.dumps({"name": e.name, "actions": actions,
                            "completed_ms": int(time.time() * 1000)}
                           ).encode(), marker)
        except CommitConflict:
            pass  # concurrent duplicate sweep finished it first
    return {"actions": actions}
