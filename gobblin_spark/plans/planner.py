"""Work-unit planning: watermarks → key-range work units → bin packing.

The Spark reimagining of the reference's planning layer:

- offset-range planning ≙ KafkaSource.getWorkunits
  (gobblin-core/.../extract/kafka/KafkaSource.java:129-161,291-396): per
  stream partition (event_group), plan (low, high] seq ranges from the last
  committed watermark to the available high, with a per-batch admission cap
  (≙ fork-added KAFKA_MAX_WORKUNIT_RECORD_COUNT, KafkaSource.java:379-394)
- retry carry-over ≙ AbstractSource.getPreviousWorkUnitsForRetry
  (gobblin-core/.../extract/AbstractSource.java:124): uncommitted ranges are
  re-emitted before new ones
- worst-fit-decreasing bin packing ≙ KafkaWorkUnitPacker.java:256-288 /
  KafkaSingleLevelWorkUnitPacker.java:46-67, with load = size × log(#units)
  (KafkaWorkUnitPacker.java:151-158)
- size estimation from committed history ≙
  KafkaAvgRecordTimeBasedWorkUnitSizeEstimator.java:51,66
- hot-key flagging for the salted two-stage merge ≙ the bi-level packer's
  documented skew tradeoff (KafkaBiLevelWorkUnitPacker.java:42-47)

Everything here is DRIVER-side metadata math over O(#groups) rows — the
planning scan aggregates the event table with predicate pushdown (only
seq > min(watermark) is read) and collects one row per group, never data.
"""

from __future__ import annotations

import math
import uuid
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gobblin_spark.state.store import StateStore, WorkUnitState


@dataclass
class WorkUnit:
    workunit_id: str
    event_group: int
    low_seq: int  # exclusive
    high_seq: int  # inclusive
    est_records: int
    est_cost: float  # estimated ms
    retry_of: str | None = None
    # True for a zero-record watermark-advance unit: the group has NO events
    # in the bounded planning window, so its watermark is committed forward
    # without any extract work. Keeps the global low watermark moving past
    # quiet groups — without these, the O(cap) window scan would freeze at
    # the quietest group's watermark and planning would stall with backlog
    # beyond the window.
    advance: bool = False


@dataclass
class BatchPlan:
    batch_id: str
    units: list[WorkUnit]
    bins: list[list[WorkUnit]] = field(default_factory=list)
    hot_repos: list[str] = field(default_factory=list)
    total_est_records: int = 0
    # schema-version stats harvested from the SAME planning scan (may
    # slightly overshoot the admitted range — the window upper bound is
    # ≥ batch_high — which only ever evolves the target EARLY, never late).
    # None = unknown (retry re-plans have no scan); callers fall back to a
    # batch-scan rollup.
    sv_max: int | None = None
    schema_versions: list[int] = field(default_factory=list)

    @property
    def empty(self) -> bool:
        return not self.units

    def to_states(self) -> list[WorkUnitState]:
        return [
            WorkUnitState(
                workunit_id=u.workunit_id,
                batch_id=self.batch_id,
                event_group=u.event_group,
                low_seq=u.low_seq,
                high_seq=u.high_seq,
            )
            for u in self.units
        ]


def wfd_load(size: float, n_units: int) -> float:
    """Bin load contribution: size × log2(#units+2)
    (≙ KafkaWorkUnitPacker.java:151-158 — many small units cost overhead)."""
    return size * math.log2(n_units + 2)


def bin_pack_wfd(units: list[WorkUnit], n_bins: int) -> list[list[WorkUnit]]:
    """Worst-fit-decreasing: sort by estimated cost desc, always place into
    the least-loaded bin (≙ KafkaWorkUnitPacker.java:256-288)."""
    bins: list[list[WorkUnit]] = [[] for _ in range(max(1, n_bins))]
    loads = [0.0] * len(bins)
    for u in sorted(units, key=lambda x: -x.est_cost):
        i = loads.index(min(loads))
        bins[i].append(u)
        loads[i] = wfd_load(
            sum(x.est_cost for x in bins[i]), len(bins[i])
        )
    return [b for b in bins if b]


class Planner:
    """Plans one batch of work units over an ordered change-event source."""

    def __init__(
        self,
        store: StateStore,
        max_records_per_batch: int = 2_000_000,
        max_records_per_unit: int = 250_000,
        target_bins: int = 32,
        hot_key_threshold: float = 0.10,
        limiter=None,
        max_window_factor: int = 64,
    ):
        self.store = store
        self.max_records_per_batch = max_records_per_batch
        self.max_records_per_unit = max_records_per_unit
        self.target_bins = target_bins
        self.hot_key_threshold = hot_key_threshold
        # Density-adaptive admission: the record cap is converted to a seq
        # window by dividing by the consumer's OBSERVED rows-per-seq density
        # from committed history (store.observed_seq_density). A consumer
        # owning 1/S of the event groups (sharded deployment) sees density
        # ~1/S and gets an S×-wider window — batches stay cap-sized instead
        # of splintering into S× more batches of cap/S rows, whose fixed
        # per-batch cost would dominate at scale. max_window_factor bounds
        # the widening (worst-case admission overshoot if density jumps
        # back to 1 on a stale estimate: one oversized batch, self-corrects
        # next commit — same staleness property as the reference's
        # history-based size estimators).
        self.max_window_factor = max_window_factor
        # admission control (≙ LimitingExtractorDecorator): trims the batch
        # cap to limiter.available(); the engine reports consumption after
        # commit
        self.limiter = limiter

    def _batch_cap(self) -> int:
        cap = self.max_records_per_batch
        if self.limiter is not None:
            cap = min(cap, self.limiter.available())
        return cap

    # ------------------------------------------------------------- planning
    def plan_batch(self, events: DataFrame) -> BatchPlan:
        """Plan the next batch: (low, high] per event_group.

        One aggregation over only-new events (seq pushdown) collecting
        O(#groups) rows. The admission cap trims the GLOBAL high so a batch
        never exceeds max_records_per_batch (events/batch sizing is the
        explicit analog of maxOffsetsPerTrigger / the fork's work-unit record
        cap).
        """
        batch_id = uuid.uuid4().hex[:16]

        # 0. Unfinished prior batch? Re-plan those exact ranges first
        # (watermark backoff: their high was never committed).
        pending = self.store.pending_batches()
        if pending:
            prev = pending[0]
            units = [
                WorkUnit(
                    workunit_id=f"{batch_id}-g{u.event_group}-r",
                    event_group=u.event_group,
                    low_seq=u.low_seq,
                    high_seq=u.high_seq,
                    est_records=max(1, u.high_seq - u.low_seq),
                    est_cost=float(max(1, u.high_seq - u.low_seq)),
                    retry_of=u.workunit_id,
                )
                for u in prev["units"]
            ]
            plan = BatchPlan(batch_id=prev["batch_id"], units=units)
            plan.bins = bin_pack_wfd(units, self.target_bins)
            plan.total_est_records = sum(u.est_records for u in units)
            return plan

        watermarks = self.store.last_committed_watermarks()
        global_low = min(watermarks.values()) if watermarks else -1
        cap = self._batch_cap()
        if cap <= 0:
            # limiter exhausted: admit nothing this cycle
            return BatchPlan(batch_id=batch_id, units=[])

        # 1. What's newly available per group? Pushdown BOTH bounds — the
        # planning scan is O(window) with parquet min/max pruning, not
        # O(all remaining events). Matters at 10^10 backlog.
        # The window is the record cap divided by the consumer's observed
        # rows-per-seq density (1.0 until the first commit): a consumer that
        # owns a subset of event groups still fills its batches to the cap.
        # expr strings, not Column chains: py4j round-trips per operator are
        # per-batch serial driver time (see batch_predicate)
        # ... but never when a limiter trimmed the cap: the batch cap is a
        # sizing TARGET (overshoot self-corrects), a limiter budget is a
        # QUOTA — widening could admit cap/density seqs holding > budget
        # rows. A limited cycle uses the un-widened window (worst case:
        # under-filled batches while throttled).
        density = self.store.observed_seq_density()
        limited = cap < self.max_records_per_batch
        if density and density > 0 and not limited:
            window = min(cap * self.max_window_factor,
                         max(cap, int(cap / density)))
        else:
            window = cap
        fresh = events.filter(
            F.expr(f"seq > {int(global_low)}"
                   f" AND seq <= {int(global_low + window)}")
        )
        sv = ("schema_version" if "schema_version" in events.columns
              else "1")
        stats_rows = (
            fresh.groupBy("event_group")
            .agg(
                F.expr("min(seq) AS min_seq"),
                F.expr("max(seq) AS max_seq"),
                F.expr("count(1) AS cnt"),
                # schema stats piggyback on the planning scan so the engine
                # needs no separate metadata pass over the batch
                F.expr(f"max({sv}) AS sv_max"),
                F.expr(f"collect_set({sv}) AS svs"),
            )
            .collect()
        )
        if not stats_rows:
            return BatchPlan(batch_id=batch_id, units=[])
        plan_sv_max = max(int(r["sv_max"] or 1) for r in stats_rows)
        plan_versions = sorted(
            {int(v) for r in stats_rows for v in (r["svs"] or [1])}
        ) or [1]

        # 2. Global admission cap: trim high to low + window (a seq span ≈
        # window × density records — cap-sized by construction).
        # A group with no committed watermark starts at global_low, not -1:
        # the scan has covered everything <= global_low in earlier windows,
        # so a first-seen group provably has no events there (it would have
        # been present in those windows' stats and committed).
        lows = {
            int(r["event_group"]): max(
                watermarks.get(int(r["event_group"]), -1), global_low
            )
            for r in stats_rows
        }
        avail_high = max(int(r["max_seq"]) for r in stats_rows)
        batch_low = min(lows.values())
        batch_high = min(avail_high, batch_low + window)

        cost_stats = self.store.group_cost_stats()
        units: list[WorkUnit] = []

        # Quiet-group watermark advance: a group with a committed watermark
        # but NO events in the scanned (global_low, global_low+cap] window
        # (stopped producing, or its next event lies beyond the window) must
        # still advance, or global_low freezes and the window never moves.
        # Safe because seq is globally dense and the whole window was
        # scanned: an absent group provably has no events <= batch_high
        # above its watermark, so committing it to batch_high loses nothing.
        present = {int(r["event_group"]) for r in stats_rows}
        for g, wm in watermarks.items():
            if g in present or wm >= batch_high:
                continue
            units.append(
                WorkUnit(
                    workunit_id=f"{batch_id}-g{g}-adv",
                    event_group=g,
                    low_seq=wm,
                    high_seq=batch_high,
                    est_records=0,
                    est_cost=0.0,
                    advance=True,
                )
            )

        for r in stats_rows:
            g = int(r["event_group"])
            lo = lows[g]
            hi = batch_high
            if hi <= lo:
                continue
            # per-group record estimate: the count was measured over the
            # FULL fresh range; scale by the fraction the admission cap kept
            span = hi - lo
            full_span = max(1, int(r["max_seq"]) - lo)
            frac = min(1.0, span / full_span)
            est = min(math.ceil(int(r["cnt"]) * frac), span)
            ms_per_rec = cost_stats.get(g, {}).get("avg_ms_per_record", 1.0)
            # 3. Split oversized group ranges (≙ SimpleWatermark.getIntervals,
            # gobblin-core/.../watermark/SimpleWatermark.java:48-105).
            n_splits = max(1, math.ceil(est / self.max_records_per_unit))
            step = math.ceil(span / n_splits)
            s_lo = lo
            i = 0
            while s_lo < hi:
                s_hi = min(hi, s_lo + step)
                sub_est = max(1, est // n_splits)
                units.append(
                    WorkUnit(
                        workunit_id=f"{batch_id}-g{g}-{i}",
                        event_group=g,
                        low_seq=s_lo,
                        high_seq=s_hi,
                        est_records=sub_est,
                        est_cost=sub_est * ms_per_rec,
                    )
                )
                s_lo = s_hi
                i += 1

        plan = BatchPlan(batch_id=batch_id, units=units,
                         sv_max=plan_sv_max, schema_versions=plan_versions)
        plan.bins = bin_pack_wfd(units, self.target_bins)
        plan.total_est_records = sum(u.est_records for u in units)
        return plan

    @staticmethod
    def bin_assignment_expr(bins: list[list[WorkUnit]]):
        """Map each extracted row to its planned bin: a CASE chain over the
        units' (event_group, (low, high]) ranges. This is how the WFD bins
        reach execution — ``repartitionByRange(n_bins, bin)`` gives each bin
        its own task, so a skewed group (split into many units spread across
        bins by cost) no longer serializes the convert/quality stages
        (≙ KafkaWorkUnitPacker assigning work units to MR mappers,
        KafkaWorkUnitPacker.java:256-288)."""
        # One sql string -> one F.expr call (py4j round-trips per WHEN arm
        # are serial driver cost at every cluster size; see batch_predicate)
        arms = []
        for bi, b in enumerate(bins):
            for u in b:
                if u.advance:
                    continue
                arms.append(
                    f"WHEN event_group = {int(u.event_group)}"
                    f" AND seq > {int(u.low_seq)}"
                    f" AND seq <= {int(u.high_seq)} THEN {bi}"
                )
        if not arms:
            return F.lit(0)
        return F.expr("CASE " + " ".join(arms) + " ELSE 0 END")

    @staticmethod
    def batch_predicate(units: list[WorkUnit]):
        """The deterministic extract filter for a batch: OR of per-group
        (low, high] ranges — re-execution-safe because the predicate is a
        pure function of the plan (≙ KafkaExtractor skip-below-watermark
        refetch dedup, KafkaExtractor.java:145-147)."""
        by_group: dict[int, list[WorkUnit]] = {}
        for u in units:
            if u.advance:
                continue  # zero-record watermark advance: nothing to read
            by_group.setdefault(u.event_group, []).append(u)
        # Built as ONE sql string -> ONE F.expr call. A Column built
        # unit-by-unit costs a py4j round-trip per operator — measured
        # ~3.8 s of pure driver time for 32 groups on this box, a serial
        # (Amdahl) cost every batch pays at every cluster size. The parsed
        # expression tree is identical for Catalyst.
        terms = []
        for g, us in sorted(by_group.items()):
            lo = min(u.low_seq for u in us)
            hi = max(u.high_seq for u in us)
            terms.append(
                f"(event_group = {int(g)} AND seq > {int(lo)}"
                f" AND seq <= {int(hi)})"
            )
        return F.expr(" OR ".join(terms)) if terms else F.lit(False)
