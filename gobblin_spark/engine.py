"""The CDC engine: plan → extract → convert → quality → MERGE → commit.

The Spark-native equivalent of the reference's job lifecycle
(gobblin-runtime/src/main/java/gobblin/runtime/AbstractJobLauncher.java:205
launchJob; JobContext.commit JobContext.java:346-366), collapsed to its
essential loop:

  1. recover: any checkpointed-but-uncommitted batch is re-planned with the
     SAME ranges and re-applied — blind, because the MERGE is idempotent
     (≙ executeUnfinishedCommitSequences, AbstractJobLauncher.java:229-233,
     367-378)
  2. plan: work units = per-group (low, high] seq ranges from the committed
     watermarks (≙ Source.getWorkunits)
  3. extract: ONE DataFrame filter from the plan predicate — deterministic,
     so task retries and whole-batch replays read identical data
     (≙ KafkaExtractor watermark-bounded refetch)
  4. schema evolution: if the batch contains events written with a newer
     registry version than the target table, evolve the target FIRST
     (metadata-only commit), then conform all rows to the latest schema
  5. convert + row quality gates
  6. LWW MERGE into the lakehouse target (COW: salted two-stage if the
     rollup flagged hot keys; MOR: an unreduced delta append)
  7. commit: checkpoint rows + atomic commit-log publish; task-level
     row-count policies gate the commit (≙ TaskPublisher.canPublish)

Crash anywhere before step 7's commit-log link ⇒ next run re-applies the
batch; the MERGE converges to the same state and `commit_batch` returns
False if the log row already exists (verify-then-skip).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gobblin_spark.lakehouse import LakeTable, merge_lww
from gobblin_spark.lakehouse.table import plan_rescale_factor
from gobblin_spark.lakehouse.merge import (
    compact,
    merge_lww_mor,
    read_current,
    stored_schema,
)
from gobblin_spark.operators.converters import (
    ConverterChain,
    SchemaEvolutionConverter,
    SchemaRegistry,
)
from gobblin_spark.operators.quality import (
    PolicyViolation,
    RowLevelPolicy,
    RowLevelPolicyChecker,
    RowCountRangePolicy,  # noqa: F401 — re-exported for engine users
)
from gobblin_spark.plans.planner import BatchPlan, Planner
from gobblin_spark.state.store import StateStore

KEYS = ["repo", "path"]

# Registry fixture (FIXTURES.md §F3): v1 base, v2 add, v3 widen, v4 rename.
SCHEMA_V1 = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
    ]
)


def check_choice(name: str, value: Any, allowed: tuple) -> None:
    """A named error for a bad enum argument — unlike ``assert``, it
    survives ``python -O``."""
    if value not in allowed:
        raise ValueError(f"{name}={value!r}: expected one of {allowed}")


def default_registry(path: str | None = None) -> SchemaRegistry:
    reg = SchemaRegistry(path)
    if reg.versions:
        return reg
    reg.register(1, SCHEMA_V1)
    v2 = StructType(SCHEMA_V1.fields + [StructField("size_bytes", IntegerType())])
    reg.register(2, v2, [{"op": "add", "col": "size_bytes", "type": "int"}])
    v3 = StructType(SCHEMA_V1.fields + [StructField("size_bytes", LongType())])
    reg.register(3, v3, [{"op": "widen", "col": "size_bytes", "type": "long"}])
    v4 = StructType(
        [
            StructField("repo", StringType()),
            StructField("path", StringType()),
            StructField("commit", StringType()),
            StructField("language", StringType()),
            StructField("content", StringType()),
            StructField("size_bytes", LongType()),
        ]
    )
    reg.register(4, v4, [{"op": "rename", "old": "lang", "new": "language"}])
    return reg


def target_schema_for(registry: SchemaRegistry, version: int,
                      dialect: str = "row") -> StructType:
    return stored_schema(registry.schema(version), dialect)


def evolve_target_to(table: "LakeTable", registry: SchemaRegistry,
                     version: int) -> None:
    """Metadata-only schema evolution of a target table, one registry step
    at a time so the lineage (schema_log) matches the registry ops
    (≙ the reference's per-schema-version Hive tables,
    StunlockPartitionedHiveDataPublisher.java:58-72 — done the lakehouse
    way: one table, evolving in place)."""
    snap = table.snapshot()
    cur = int(snap.properties.get("registry_version", 1))
    while cur < version:
        nxt = cur + 1
        log = []
        for op in registry.ops_between(cur, nxt):
            if op["op"] == "rename":
                log.append({"v": nxt, "op": "rename", "old": op["old"],
                            "new": op["new"]})
            else:
                log.append({"v": nxt, "op": op["op"], "col": op["col"],
                            "type": op.get("type")})
        snap = table.commit(
            keep_files=snap.files,
            add_files=[],
            schema=target_schema_for(registry, nxt, snap.merge_dialect),
            schema_version=nxt,
            schema_log_append=log,
            properties={"registry_version": nxt},
            expected_version=snap.version,
        )
        cur = nxt


@dataclass
class BatchResult:
    batch_id: str
    committed: bool
    already_committed: bool
    rows_read: int
    rows_merged: int
    snapshot_version: int | None
    wall_ms: int
    hot_repos: list[str] = field(default_factory=list)
    empty: bool = False
    phase_ms: dict[str, int] = field(default_factory=dict)


# merge_mode='auto' (CdcEngine._resolve_merge_mode) takes COW once a
# batch's planned rows reach this share of the table's stored rows
AUTO_COW_RATIO = 0.5


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        events: DataFrame | Callable[[], DataFrame],
        table_root: str,
        state_root: str,
        registry: SchemaRegistry | None = None,
        max_records_per_batch: int = 2_000_000,
        max_records_per_unit: int = 250_000,
        target_bins: int | None = None,
        salt_buckets: int = 8,
        n_buckets: int = 32,
        converters: ConverterChain | None = None,
        row_policies: list[RowLevelPolicy] | None = None,
        err_path: str | None = None,
        merge_mode: str = "cow",
        merge_dialect: str = "row",
        compact_every: int | None = 8,
        compact_delta_ratio: float | None = 0.25,
        compact_bucket_ratio: float | None = None,
        compact_max_rows_per_file: int | None = None,
        task_policies: list | None = None,
        limiter=None,
        log_keep_last: int | None = 64,
        fs=None,
        stats_cols: list[str] | None = None,
        auto_rescale_bytes: int | None = None,
        branch: str | None = None,
    ):
        """merge_mode: 'cow' rewrites affected buckets per batch (zero read
        amplification); 'mor' appends delta files per batch and compacts
        every ``compact_every`` batches (O(batch) apply — the 100 TB path,
        mirroring the reference's ingest-then-compact split); 'auto'
        chooses per batch from manifest math alone (no scan): COW when the
        batch's estimated rows reach ``AUTO_COW_RATIO`` of the table's
        stored rows (batch ≈ table: the rewrite is within a small factor
        of the work MOR's compaction would do later anyway, and COW has
        zero read amplification), MOR otherwise (batch ≪ table: O(batch)
        append beats rewriting every touched bucket — BENCH/mor_regime.json
        measured 4.4× at an 80× table/batch ratio). Both paths commit
        LWW-identical state, so the choice is cost-only and can flip
        per batch. A MOR apply writes the batch unreduced, one delta file
        per touched bucket (``merge_lww_mor``); ``salt_buckets`` applies
        only to COW's merge of the repos a batch's rollup flags as hot
        (``hot_repos`` in the commit log, recorded in every mode).

        merge_dialect: 'row' (whole-row LWW) or 'cell' (patch semantics:
        a null payload column in an update means "unchanged"; each stored
        column carries its own write seq and the max delete seq is
        retained — Cassandra-style cell timestamps, making the fold
        order-independent so it is safe for batch, streaming epochs, DLQ
        replay, and any non-monotone replay; costs one map<string,bigint>
        per stored row). Stored on the table at create; an existing
        table's dialect wins over this argument.

        branch: write-audit-publish — ingest into this zero-copy branch of
        an EXISTING table (auto-created at main's current version on first
        use); main is untouched until LakeTable.fast_forward publishes the
        audited branch head. Use a dedicated state_root per branch:
        watermarks describe the chain they were committed against."""
        self.spark = spark
        self._events = events
        self.registry = registry or default_registry()
        # fs: a CommitFs for ALL commit-protocol I/O (state store + table
        # manifests) — swap in ObjectStoreFs/an S3 impl to run the engine
        # off POSIX without touching job code
        self.store = StateStore(state_root, fs=fs)
        if target_bins is None:
            target_bins = spark.sparkContext.defaultParallelism
        self.planner = Planner(
            self.store,
            max_records_per_batch=max_records_per_batch,
            max_records_per_unit=max_records_per_unit,
            target_bins=target_bins,
            limiter=limiter,
        )
        self.salt_buckets = salt_buckets
        self.converters = converters
        self.row_policies = row_policies or []
        self.err_path = err_path
        check_choice("merge_mode", merge_mode, ("cow", "mor", "auto"))
        check_choice("merge_dialect", merge_dialect, ("row", "cell"))
        self.merge_mode = merge_mode
        # commit-log retention: fold history into a rollup so planning cost
        # stays O(log_keep_last) however long the stream runs (None = never)
        self.log_keep_last = log_keep_last
        # Compaction triggers (MOR), OR'd — ≙ MRCompactor.java:147-157,
        # which recompacts a partition when late-records/total exceeds a
        # threshold rather than on a fixed schedule:
        # - compact_delta_ratio: compact when outstanding delta rows /
        #   reduced base rows >= ratio (the adaptive, workload-shaped
        #   trigger: heavy late/out-of-band delivery compacts early, quiet
        #   streams never pay a rewrite). None disables.
        # - compact_every: fixed batch-count fallback cap. None disables.
        self.compact_every = compact_every
        self.compact_delta_ratio = compact_delta_ratio
        self.compact_bucket_ratio = compact_bucket_ratio
        self.compact_max_rows_per_file = compact_max_rows_per_file
        self._batches_since_compact = 0
        # task-level publish gates: each has .check(rows_read) -> bool
        # (≙ RowCountPolicy/RowCountRangePolicy gating TaskPublisher.canPublish)
        self.task_policies = task_policies or []
        self.auto_rescale_bytes = auto_rescale_bytes
        if branch:
            # write-audit-publish: ingest lands on the branch chain; main
            # is untouched until fast_forward. The branch must fork from
            # an existing table (a branch of nothing has no fork point),
            # and is auto-created at main's current version on first use.
            # Use a DEDICATED state_root per branch: watermarks describe
            # the chain they were committed against.
            if not LakeTable.exists(table_root, fs=fs):
                raise FileNotFoundError(
                    f"branch={branch!r} needs an existing table at "
                    f"{table_root} to fork from")
            main = LakeTable(spark, table_root, fs=fs)
            if branch not in main.branches():
                try:
                    main.create_branch(branch)
                except FileExistsError:
                    pass  # a concurrent ingest created it: attach to it
            self.table = main.branch(branch)
        elif LakeTable.exists(table_root, fs=fs):
            self.table = LakeTable(spark, table_root, fs=fs)
        else:
            self.table = LakeTable.create(
                spark,
                table_root,
                target_schema_for(self.registry, 1, merge_dialect),
                KEYS,
                n_buckets=n_buckets,
                properties={"registry_version": 1,
                            "merge_dialect": merge_dialect},
                key_cols=KEYS,
                fs=fs,
                stats_cols=stats_cols,
            )
        # a table in a retired dialect fails here, not mid-batch
        self.table.snapshot().merge_dialect

    # ------------------------------------------------------------------ api
    def events(self) -> DataFrame:
        return self._events() if callable(self._events) else self._events

    def current_state(self) -> DataFrame:
        return read_current(self.table)

    # ---------------------------------------------------------------- batch
    def run_batch(self) -> BatchResult:
        t0 = time.time()
        phase_ms: dict[str, int] = {}

        def mark(name: str, since: float) -> float:
            now = time.time()
            phase_ms[name] = phase_ms.get(name, 0) + int((now - since) * 1000)
            return now

        plan = self.planner.plan_batch(self.events())
        tp = mark("plan", t0)
        if plan.empty:
            return BatchResult("", True, False, 0, 0, None, 0, empty=True)
        batch_id = plan.batch_id

        # verify-then-skip: crash happened after commit-log publish?
        if self.store.is_committed(batch_id):
            return BatchResult(batch_id, True, True, 0, 0,
                               self.table.current_version(),
                               int((time.time() - t0) * 1000))

        states = plan.to_states()
        self.store.begin_batch(batch_id, states)

        # Extract: one deterministic predicate from the plan. NOT cached:
        # the batch is read exactly twice (metadata rollup, merge apply) and
        # both re-scans are pruned columnar parquet reads — measured cheaper
        # than building a row cache of the full payload (cache encode of the
        # content column cost more than both scans together).
        pred = Planner.batch_predicate(plan.units)
        batch = self.events().filter(pred)
        data = batch.filter(F.expr("op IN ('I','U','D')"))
        # Plan-driven partitioning: the WFD bins decide the extract's
        # physical layout so downstream per-row stages (converter chains,
        # row-quality predicates) see cost-balanced partitions even under
        # heavy group skew. Only worth a shuffle when there is real per-row
        # work to balance — with no converters/policies the scan's
        # file-split parallelism is already size-balanced and the merge
        # shuffles on key anyway.
        if len(plan.bins) > 1 and (
                self.converters is not None or self.row_policies):
            data = (
                data.withColumn(
                    "__bin", Planner.bin_assignment_expr(plan.bins))
                .repartitionByRange(len(plan.bins), F.col("__bin"))
                .drop("__bin")
            )

        # Batch metadata (row count + schema versions + hot repos). The MOR
        # fast path needs NONE of it up front: schema stats rode the
        # planning scan, the exact row count comes from an Observation on
        # the apply job itself, and an unreduced delta append has no reducer
        # skew to salt. The explicit rollup pass runs only when something really
        # must know counts/hot-keys BEFORE mutating the table: COW (salted
        # two-stage merge plans its shuffle around hot keys), task-level
        # publish gates, or a retry re-plan (no planning scan → no stats).
        mode = self._resolve_merge_mode(plan)
        run_rollup = (
            mode == "cow"
            or bool(self.task_policies)
            or plan.sv_max is None
        )
        if run_rollup:
            # rollup('repo') yields per-repo rows AND the grand-total row in
            # one shuffle; only rows over the hot threshold (vs the plan's
            # size estimate) plus the total row come back to the driver.
            thr = self.planner.hot_key_threshold * max(
                1, plan.total_est_records)
            stats = (
                data.rollup("repo")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.max("schema_version").alias("sv_max"),
                    F.collect_set("schema_version").alias("svs"),
                    # grouping()=1 marks the rollup grand-total row — a
                    # genuine NULL-repo data group has grouping()=0, so the
                    # total is unambiguous even with NULL keys in the data.
                    F.grouping("repo").alias("__istotal"),
                )
                .filter((F.col("__istotal") == 1) | (F.col("cnt") > thr))
                .collect()
            )
            # (an all-marker batch — op='S' only — aggregates to no rows)
            total = next((r for r in stats if r["__istotal"] == 1), None)
            if total is None:
                n_rows, sv_max, versions = 0, 1, [1]
            else:
                n_rows, sv_max = int(total["cnt"]), int(total["sv_max"] or 1)
                versions = sorted(int(v) for v in (total["svs"] or [1]))
            hot = [
                r["repo"]
                for r in sorted(
                    (r for r in stats
                     if r["__istotal"] == 0 and r["repo"] is not None),
                    key=lambda r: -r["cnt"],
                )[:64]
            ]
        else:
            n_rows = None  # resolved by the apply-job Observation below
            sv_max = plan.sv_max
            versions = plan.schema_versions or [1]
            hot = []
        tp = mark("meta", tp)

        # Schema-change events: evolve target + registry BEFORE data apply.
        # sv_max over the DATA rows is sufficient — an op='S' marker always
        # flips schema_version on every subsequent data row, so evolution
        # happens in the first batch that actually carries new-version rows
        # (evolve-before-apply either way).
        cur_v = int(self.table.snapshot().properties.get("registry_version", 1))
        if sv_max > cur_v:
            evolve_target_to(self.table, self.registry, sv_max)

        # Convert: conform mixed-version rows to the latest target schema,
        # then any user converter chain.
        target_v = int(self.table.snapshot().properties.get("registry_version", 1))
        evo = SchemaEvolutionConverter(
            registry=self.registry,
            version_col="schema_version",
            target_version=target_v,
            passthrough=["seq", "op", "event_group"],
            versions=versions,
        )
        converted = evo.convert(data)
        if self.converters is not None:
            converted = self.converters.convert(converted)

        # Row-quality gates (failures → err file, never the target).
        checker = RowLevelPolicyChecker(self.row_policies, self.err_path)
        quality = checker.execute(converted, run_id=batch_id)
        good = quality.passed
        # passed-row count comes from the checker's single aggregate — no
        # separate count() scan of the batch
        rows_read = (quality.passed_count
                     if quality.passed_count is not None else n_rows)

        # Publish gate BEFORE any table mutation (≙ TaskPublisher.canPublish,
        # POLICY_TESTS_FAIL blocks publish): a failing gate leaves the batch
        # checkpointed-but-uncommitted, so its exact ranges are re-planned
        # next run (watermark backoff) instead of silently lost.
        failed_gates = [
            type(p).__name__ for p in self.task_policies if not p.check(rows_read)
        ]
        if failed_gates:
            for u in states:
                u.state = "FAILED"
            self.store.update_batch(batch_id, states, status="FAILED")
            raise PolicyViolation(
                f"task policies blocked publish of batch {batch_id}: "
                f"{failed_gates} (rows_read={rows_read})"
            )

        # MOR fast path (rows_read is None): the applied-row count comes
        # from the delta's parquet footers via the manifest — no extra scan
        # and no extra job. (An all-filtered batch commits an empty delta;
        # harmless: LWW over nothing, folded by the next compaction.)
        snapshot_version = None
        rows_merged = 0
        if rows_read is None or rows_read:
            if mode == "cow":
                # Skew: hot repos (flagged in the rollup above) take the
                # salted two-stage reduce. MOR appends the batch without a
                # reduce, so there is nothing to salt.
                hot_df = (good.select(*KEYS).filter(F.col("repo").isin(hot))
                          .distinct() if hot else None)
                snap = merge_lww(
                    self.table, good, KEYS, seq_col="seq", op_col="op",
                    salt_buckets=self.salt_buckets if hot else 0,
                    hot_keys=hot_df,
                    properties={"batch_id": batch_id},
                )
            else:
                snap = merge_lww_mor(
                    self.table, good, KEYS, seq_col="seq", op_col="op",
                    properties={"batch_id": batch_id},
                )
            snapshot_version = snap.version
            if rows_read is None:
                rows_read = int(snap.properties.get("batch_rows", 0))
            rows_merged = rows_read
            tp = mark("merge_apply", tp)
            if mode == "cow":
                snap = self._maybe_auto_rescale(snap)
                snapshot_version = snap.version
                if (self.merge_mode == "auto"
                        and int(snap.properties.get("mor_deltas", 0)) > 0
                        and self._should_compact(snap)):
                    # auto flipped to COW while earlier MOR batches left
                    # deltas in buckets this batch didn't touch — fold
                    # them on the same triggers a MOR batch would, so
                    # read amplification stays bounded whatever sequence
                    # of modes the chooser picks
                    snap = compact(
                        self.table,
                        properties={"compacted_after": batch_id},
                        max_rows_per_file=self.compact_max_rows_per_file,
                    )
                    snapshot_version = snap.version
                    self._batches_since_compact = 0
                    tp = mark("compact", tp)
            if mode == "mor":
                self._batches_since_compact += 1
                should_full = self._should_compact(snap)
                if not should_full and (
                        hot_set := self._hot_bucket_set(snap)):
                    # incremental pass: fold ONLY the hot buckets; the
                    # batch counter keeps running so the full pass (with
                    # its tombstone-GC ride-along for cold buckets) still
                    # happens at the count cap
                    snap = compact(
                        self.table,
                        buckets=hot_set,
                        properties={"compacted_after": batch_id,
                                    "compacted_buckets": sorted(hot_set)},
                        max_rows_per_file=self.compact_max_rows_per_file,
                    )
                    snapshot_version = snap.version
                    tp = mark("compact", tp)
                elif should_full:
                    # Tombstone GC rides the compaction rewrite: seq is
                    # DELIVERY order and planning only ever admits seq >
                    # committed watermark, so no event at or below the
                    # pre-batch low watermark can still arrive — those
                    # tombstones are dropped by the same pass that folds
                    # the deltas (a separate GC pass would read and
                    # rewrite the whole live table a second time).
                    horizon = self.store.global_low_watermark()
                    snap = compact(
                        self.table,
                        properties={"compacted_after": batch_id},
                        gc_horizon_seq=horizon if horizon >= 0 else None,
                        max_rows_per_file=self.compact_max_rows_per_file,
                    )
                    snap = self._maybe_auto_rescale(snap)
                    snapshot_version = snap.version
                    self._batches_since_compact = 0
                    tp = mark("compact", tp)

        wall = int((time.time() - t0) * 1000)
        per_unit_wall = wall // max(1, len(states))
        for u in states:
            u.state = "SUCCESSFUL"
            u.actual_high_seq = u.high_seq
            u.rows_read = rows_read // max(1, len(states))
            u.rows_written = rows_merged // max(1, len(states))
            u.wall_ms = per_unit_wall
        committed = self.store.commit_batch(
            batch_id,
            states,
            snapshot_version,
            metrics={
                "rows_read": rows_read,
                "rows_merged": rows_merged,
                "merge_mode": mode,
                "hot_repos": hot,
                "quality_violations": quality.counts,
                "wall_ms": wall,
                "phase_ms": phase_ms,
            },
        )
        if self.planner.limiter is not None:
            self.planner.limiter.consume(rows_read)
        if self.log_keep_last:
            self.store.maybe_checkpoint_log(self.log_keep_last)
        mark("commit", tp)
        return BatchResult(
            batch_id=batch_id,
            committed=True,
            already_committed=not committed,
            rows_read=rows_read,
            rows_merged=rows_merged,
            snapshot_version=snapshot_version,
            wall_ms=wall,
            hot_repos=hot,
            phase_ms=phase_ms,
        )

    def _resolve_merge_mode(self, plan) -> str:
        """Per-batch COW/MOR choice for ``merge_mode='auto'`` — manifest
        math only, no scan: COW when the batch's planned size reaches
        ``AUTO_COW_RATIO`` of the table's stored rows (bootstrap and
        batch≈table regimes: the rewrite costs little more than the
        compaction MOR defers, with zero read amplification), MOR when the
        batch is a sliver of the table (the 100 TB steady state: O(batch)
        append, BENCH/mor_regime.json). Static modes pass through."""
        if self.merge_mode != "auto":
            return self.merge_mode
        snap = self.table.snapshot()
        table_rows = sum(f.rows for f in snap.files if f.rows)
        if table_rows == 0:
            return "cow"
        batch_est = plan.total_est_records or 0
        return ("cow"
                if batch_est >= AUTO_COW_RATIO * table_rows
                else "mor")

    def _maybe_auto_rescale(self, snap):
        """Operational auto-tuning: when the average data volume per bucket
        crosses ``auto_rescale_bytes``, grow the bucket spec (metadata-only
        O(1) commit; rescale_buckets) by the power-of-two factor that
        brings it back under. Checked after COW applies and after full
        compactions — O(files) driver math on the manifest, no scan. This
        is how a table that grows 100× keeps merge/compaction parallelism
        and file sizes bounded without an operator watching it."""
        if not self.auto_rescale_bytes:
            return snap
        factor = plan_rescale_factor(
            snap.n_buckets, sum(f.bytes for f in snap.files),
            self.auto_rescale_bytes)
        if factor <= 1:
            return snap
        return self.table.rescale_buckets(snap.n_buckets * factor)

    def _should_compact(self, snap) -> bool:
        """Adaptive compaction decision from manifest metadata only (O(files)
        driver math, no scan): outstanding-delta ratio OR batch-count cap."""
        if self.compact_delta_ratio is not None:
            delta_rows = sum(f.rows for f in snap.files if not f.reduced)
            base_rows = sum(f.rows for f in snap.files if f.reduced)
            # ratio is late-data pressure against an ESTABLISHED base; a
            # bootstrapping table (no reduced files yet) compacts via the
            # count cap, not a division against zero
            if base_rows > 0 and delta_rows > 0 and (
                    delta_rows / base_rows >= self.compact_delta_ratio):
                return True
        if self.compact_every is not None and \
                self._batches_since_compact >= self.compact_every:
            return True
        return False

    def _hot_bucket_set(self, snap) -> set[int] | None:
        """Per-bucket temperature refinement: when the TABLE-wide triggers
        are quiet but individual buckets crossed the delta-ratio (skewed
        writes: one tenant churning), compact only those — O(hot bucket)
        per cycle, cold buckets untouched. None = no incremental pass."""
        if self.compact_bucket_ratio is None:
            return None
        from gobblin_spark.lakehouse.merge import hot_buckets

        hot = hot_buckets(snap, self.compact_bucket_ratio)
        return hot or None

    def run_until_caught_up(self, max_batches: int = 1000) -> list[BatchResult]:
        """Loop run_batch until the planner admits nothing. With a limiter
        configured, an empty plan can also mean the admission budget is
        exhausted (count/time budgets: intended terminal state; rate
        budgets: callers re-invoke on their schedule — watermarks are
        intact either way)."""
        out: list[BatchResult] = []
        for _ in range(max_batches):
            r = self.run_batch()
            if r.empty:
                break
            out.append(r)
        return out
