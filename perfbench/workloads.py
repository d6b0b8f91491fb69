"""The benchmark workloads and their correctness checks.

Every workload runs closed-loop: the next operation starts only when the
previous one returned. Inputs come from ``generate_change_events(seed=…)``
and are materialized to parquet before set-up starts, so generation
(``gen_s``) stays out of ``setup_s``; the engine's own seeding and the
warm-up stay in it.

The change stream is one generated round of events over a bounded key
space, replayed ``rounds`` times with each replay's ``seq`` shifted past
the previous one: every round re-applies the same per-key change history,
so the backlog is as long as the timed window needs without paying the
generator for every event.

All checks run outside the timed window. Each mismatch counts as a failed
operation.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass
from typing import Callable

import pyspark.sql.functions as F

from gobblin_spark.engine import CdcEngine
from gobblin_spark.lakehouse import merge
from gobblin_spark.lakehouse.merge import read_current
from gobblin_spark.sources import generate_change_events
from gobblin_spark.sources.change_events import expected_final_state

KEYS = ["repo", "path"]
PAYLOAD = ["commit", "lang", "content"]
STATE_COLS = KEYS + PAYLOAD


# serve_reads: outstanding MOR delta commits, and the share of absent keys
# among the sampled lookup keys
SERVE_DELTAS = 3
ABSENT_FRAC = 0.2


@dataclass(frozen=True)
class Size:
    n_repos: int
    paths_per_repo: int
    round_events: int      # events per generated round
    n_buckets: int
    mor_batch: int         # MOR delta batch, at most ~1/20 of the table
    compact_every: int     # tail_mor: one compaction per this many batches
    warm_mor_cycles: int   # tail_mor warm-up, in compaction cycles
    lookups_per_cycle: int  # serve_reads: lookups per round of changes
    warm_serve_cycles: int
    sample_keys: int
    max_rate: float        # events/s the fixture is sized for (headroom)


# The seed round leaves about 7 600 live rows, so a 300-event batch is
# about 1/25 of the table and five of them about 1/5: the engine's default
# delta-ratio trigger (0.25) would not fire before ``compact_every`` does.
FULL = Size(n_repos=40, paths_per_repo=250, round_events=20_000,
            n_buckets=8, mor_batch=300, compact_every=5, warm_mor_cycles=3,
            lookups_per_cycle=12, warm_serve_cycles=2, sample_keys=400,
            max_rate=1_500)
TINY = Size(n_repos=5, paths_per_repo=40, round_events=1_000,
            n_buckets=4, mor_batch=20, compact_every=2, warm_mor_cycles=1,
            lookups_per_cycle=4, warm_serve_cycles=1, sample_keys=40,
            max_rate=200)
SIZES = {"full": FULL, "tiny": TINY}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    size: Size
    tracer: object | None = None   # a LayerTracer in the traced run
    tamper: Callable[[str], None] | None = None  # test hook, before checks


class Ledger:
    """Counts attempted and failed operations and keeps the first errors."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what and len(self.errors) < 20:
                self.errors.append(what)


# ------------------------------------------------------------------ inputs
def make_events(ctx: Ctx, rounds: int):
    """Generate one round from the seed and materialize ``rounds`` replays
    of it, sorted by seq so the planner's seq pushdown prunes files."""
    s = ctx.size
    spark = ctx.spark
    t0 = time.perf_counter()
    round_path = os.path.join(ctx.work, "round")
    generate_change_events(
        spark, s.round_events, n_repos=s.n_repos,
        paths_per_repo=s.paths_per_repo, seed=ctx.seed, ooo_window=200,
        n_groups=4, content_tokens=24,
    ).write.parquet(round_path)
    one = spark.read.parquet(round_path)
    generate_s = time.perf_counter() - t0
    span = int(one.agg(F.max("seq")).first()[0]) + 1
    path = os.path.join(ctx.work, "events")
    (one.crossJoin(spark.range(rounds).withColumnRenamed("id", "__r"))
        .withColumn("seq", F.col("seq") + F.col("__r") * F.lit(span))
        .drop("__r")
        .repartitionByRange(4 * rounds, "seq")
        .sortWithinPartitions("seq")
        .write.parquet(path))
    spark.catalog.clearCache()
    return spark.read.parquet(path), one, {
        "generate_s": generate_s, "rounds": rounds,
        "replay_s": time.perf_counter() - t0 - generate_s}


def rounds_needed(size: Size, setup_events: int, seconds: float) -> int:
    need = setup_events + size.max_rate * seconds
    return int(need // size.round_events) + 2


def new_engine(ctx: Ctx, events, mode: str, batch: int,
               compact_every: int | None = None) -> CdcEngine:
    return CdcEngine(
        ctx.spark, events,
        table_root=os.path.join(ctx.work, "table"),
        state_root=os.path.join(ctx.work, "state"),
        max_records_per_batch=batch, n_buckets=ctx.size.n_buckets,
        merge_mode=mode, compact_every=compact_every,
        compact_delta_ratio=None,
    )


def tree_files(*roots: str) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def created_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(sz for p, sz in after.items() if p not in before)


def median_ms(values: list[float]) -> float | None:
    return statistics.median(values) * 1000 if values else None



# --------------------------------------------------------------- checks
def admitted(events, store):
    wm = store.last_committed_watermarks()
    cond = F.lit(False)
    for g, hi in wm.items():
        cond = cond | ((F.col("event_group") == g) & (F.col("seq") <= hi))
    return events.filter(cond)


def digest(df) -> tuple[int, str, str]:
    """Order-independent hash of a visible state: row count plus two
    independent sums of per-row hashes."""
    r = df.select(*STATE_COLS).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*STATE_COLS).cast("decimal(38,0)")).alias("x"),
        F.sum(F.hash(*STATE_COLS).cast("decimal(38,0)")).alias("m"),
    ).first()
    return int(r["n"]), str(r["x"]), str(r["m"])


def check_state(eng: CdcEngine, events, led: Ledger) -> dict:
    try:
        want = digest(expected_final_state(admitted(events, eng.store)))
        got = digest(read_current(eng.table))
        ok = want == got
        led.op(ok, f"visible state {got} != expected {want}")
        return {"rows": got[0], "match": ok}
    except Exception as exc:  # a broken table must fail the check, not the run
        led.op(False, f"state check raised {type(exc).__name__}: {exc}"[:300])
        return {"match": False}


def check_changes(table, v: int, led: Ledger) -> dict:
    """table_changes(v, v+1) against a read_current diff of v and v+1.

    Inserts, deletes and payload changes must match key for key, and each
    reported row must carry the new visible payload. An 'update' whose
    payload equals the old row is legitimate: a duplicate re-delivery
    moves the winning event without changing the visible row."""
    try:
        old = read_current(table, v).select(
            *KEYS, *[F.col(c).alias(f"o_{c}") for c in PAYLOAD],
            F.lit(True).alias("o_live"))
        new = read_current(table, v + 1).select(
            *KEYS, *[F.col(c).alias(f"n_{c}") for c in PAYLOAD],
            F.lit(True).alias("n_live"))
        tc = merge.table_changes(table, v, v + 1).select(
            *KEYS, *[F.col(c).alias(f"t_{c}") for c in PAYLOAD],
            F.col("_change_type").alias("t_type"))
        j = old.join(new, KEYS, "full_outer").join(tc, KEYS, "full_outer")
        o_live = F.coalesce(F.col("o_live"), F.lit(False))
        n_live = F.coalesce(F.col("n_live"), F.lit(False))
        differs = F.lit(False)
        same_as_new = F.lit(True)
        for c in PAYLOAD:
            differs = differs | ~F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
            same_as_new = same_as_new & F.col(f"t_{c}").eqNullSafe(
                F.col(f"n_{c}"))
        changed = (o_live != n_live) | (o_live & n_live & differs)
        t = F.col("t_type")
        bad = (
            (changed & t.isNull())
            | ((t == "insert") & ~(n_live & ~o_live))
            | ((t == "delete") & ~(o_live & ~n_live))
            | ((t == "update") & ~(o_live & n_live))
            | (t.isin("insert", "update") & ~same_as_new)
        )
        r = j.agg(
            F.sum(F.when(bad, 1).otherwise(0)).alias("bad"),
            F.sum(F.when(changed, 1).otherwise(0)).alias("diff"),
            F.sum(F.when(t.isNotNull(), 1).otherwise(0)).alias("reported"),
        ).first()
        bad_n = int(r["bad"] or 0)
        led.op(bad_n == 0, f"table_changes v{v}: {bad_n} rows disagree "
               "with the read_current diff")
        return {"from_version": v, "reported": int(r["reported"] or 0),
                "read_current_diff": int(r["diff"] or 0), "bad": bad_n}
    except Exception as exc:
        led.op(False, f"changes check raised {type(exc).__name__}: {exc}"[:300])
        return {"from_version": v, "bad": None}


# ---------------------------------------------------------------- window
def run_cycle(cycle: Callable, tracer) -> dict:
    if tracer is not None:
        tracer.install()
    try:
        t0 = time.perf_counter()
        out = cycle(tracer)
        out["wall_s"] = time.perf_counter() - t0
    finally:
        if tracer is not None:
            tracer.uninstall()
    return out


def merge_cycles(cycles: list[dict]) -> dict:
    out = {"cycles": len(cycles)}
    for c in cycles:
        for k, v in c.items():
            out[k] = out.get(k, [] if isinstance(v, list) else 0) + v
    out["work_per_s"] = out["work"] / out["wall_s"]
    return out


def run_window(ctx: Ctx, cycle: Callable) -> dict:
    """Closed-loop whole cycles until ``ctx.seconds`` have passed. The
    traced run alternates untraced and traced cycles (at least one of
    each), so the tracing overhead is measured in the same process on
    interleaved cycles rather than on two ends of a warm-up trend."""
    plain, traced = [], []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ctx.seconds or (
            ctx.tracer is not None and not traced):
        use = ctx.tracer if len(plain) > len(traced) else None
        (traced if use is not None else plain).append(run_cycle(cycle, use))
    out = {"untraced": merge_cycles(plain)}
    if traced:
        out["traced"] = merge_cycles(traced)
        out["trace_overhead_frac"] = (out["untraced"]["work_per_s"]
                                      / out["traced"]["work_per_s"] - 1)
    return out


def trend(values: list[float]) -> float | None:
    """Median of the second half over the median of the first half: below
    1 means the window was still getting faster."""
    h = len(values) // 2
    if h == 0:
        return None
    return statistics.median(values[h:]) / statistics.median(values[:h])


# ---------------------------------------------------------------- ingest
def tail_mor(ctx: Ctx) -> dict:
    s = ctx.size
    led = Ledger()
    # a cycle ends on the compaction, so every window holds whole
    # compaction cycles and the same share of compaction work
    per_cycle = s.compact_every
    warm = s.warm_mor_cycles * per_cycle
    setup_events = s.round_events + warm * s.mor_batch
    tg = time.perf_counter()
    events, _, gen = make_events(
        ctx, rounds_needed(s, setup_events, ctx.seconds))
    gen["gen_s"] = time.perf_counter() - tg

    t_setup = time.perf_counter()
    # seed: the first round lands as one COW batch
    new_engine(ctx, events, "cow", s.round_events).run_batch()
    seed_s = time.perf_counter() - t_setup
    eng = new_engine(ctx, events, "mor", s.mor_batch, s.compact_every)

    def cycle(tracer) -> dict:
        lat, plain, heavy, phases, n = [], [], [], [], 0
        for _ in range(per_cycle):
            tb = time.perf_counter()
            r = eng.run_batch()
            if r.empty:
                raise RuntimeError("backlog exhausted: size the fixture "
                                   "for a higher max_rate")
            lat.append(time.perf_counter() - tb)
            (heavy if "compact" in r.phase_ms else plain).append(lat[-1])
            phases.append(r.phase_ms)
            n += r.rows_read
            led.op(True)
        return {"work": n, "batch_s": lat, "plain_batch_s": plain,
                "compaction_batch_s": heavy, "phase_ms": phases}

    warm_cycles = [run_cycle(cycle, None) for _ in range(s.warm_mor_cycles)]
    setup_s = time.perf_counter() - t_setup

    roots = (eng.table.root, eng.store.root)
    before = tree_files(*roots)
    res = run_window(ctx, cycle)
    after = tree_files(*roots)
    if ctx.tamper is not None:
        ctx.tamper(eng.table.root)
    state = check_state(eng, events, led)

    timed = res["untraced"]
    window_events = timed["work"] + res.get("traced", {}).get("work", 0)
    wbpe = created_bytes(before, after) / max(1, window_events)
    return {
        "ledger": led, "gen": gen, "engine_setup_s": setup_s,
        "seed_s": seed_s, "warmup": merge_cycles(warm_cycles),
        "window": res, "checks": {"state": state},
        "e2e": {"work_per_s": timed["work_per_s"],
                "op_p50_ms": median_ms(timed["plain_batch_s"]),
                "heavy_op_p50_ms": median_ms(timed["compaction_batch_s"]),
                "write_bytes_per_event": wbpe},
        "named": {"events_per_s": timed["work_per_s"],
                  "batch_p50_s": statistics.median(timed["batch_s"]),
                  "batch_count": len(timed["batch_s"]),
                  "batch_trend": trend(timed["batch_s"]),
                  "compaction_batch_p50_s":
                      median_ms(timed["compaction_batch_s"]) / 1000
                      if timed["compaction_batch_s"] else None,
                  "write_bytes_per_event": wbpe},
    }


# ----------------------------------------------------------------- serve
def serve_reads(ctx: Ctx) -> dict:
    s = ctx.size
    led = Ledger()
    tg = time.perf_counter()
    events, one, gen = make_events(ctx, 2)
    gen["gen_s"] = time.perf_counter() - tg

    t_setup = time.perf_counter()
    new_engine(ctx, events, "cow", s.round_events).run_batch()
    seed_s = time.perf_counter() - t_setup
    eng = new_engine(ctx, events, "mor", s.mor_batch)
    roots = (eng.table.root, eng.store.root)
    before = tree_files(*roots)
    versions, delta_events = [], 0
    for _ in range(SERVE_DELTAS):
        r = eng.run_batch()
        versions.append(r.snapshot_version)
        delta_events += r.rows_read
    wbpe = created_bytes(before, tree_files(*roots)) / max(1, delta_events)
    table = eng.table

    # seeded key sample: hits from the key space plus a share of absent keys
    ranked = (one.select(*KEYS).distinct()
              .orderBy(F.xxhash64(*KEYS, F.lit(ctx.seed))))
    hits = [tuple(r) for r in ranked.limit(s.sample_keys).collect()]
    n_absent = int(len(hits) * ABSENT_FRAC)
    keys = hits + [(f"repo_absent_{i:04d}", f"src/none{i}.txt")
                   for i in range(n_absent)]
    random.Random(ctx.seed).shuffle(keys)
    answers: list[tuple[tuple, list]] = []
    pos = {"key": 0}

    def lookup_op(key):
        return merge.point_lookup(table, dict(zip(KEYS, key))).collect()

    def changes_op(v):
        return merge.table_changes(table, v, v + 1).count()

    def cycle(tracer) -> dict:
        """``lookups_per_cycle`` point lookups, then a changelog round: one
        read of each pair of consecutive delta commits. The pairs' diffs
        differ in cost, so a round, not a single read, is the unit timed."""
        lk, ch = lookup_op, changes_op
        if tracer is not None:
            lk = tracer.wrap("lookup", lookup_op)
            ch = tracer.wrap("changes", changes_op)
        lookups, changes, n = [], [], 0
        for _ in range(s.lookups_per_cycle):
            key = keys[pos["key"] % len(keys)]
            pos["key"] += 1
            tb = time.perf_counter()
            try:
                rows = lk(key)
            except Exception as exc:
                led.op(False, f"point_lookup raised {exc!r}"[:300])
                continue
            lookups.append(time.perf_counter() - tb)
            answers.append((key, [r.asDict() for r in rows]))
            n += 1
        t_round = time.perf_counter()
        for v in versions[:-1]:
            tb = time.perf_counter()
            try:
                ch(v)
            except Exception as exc:
                led.op(False, f"table_changes raised {exc!r}"[:300])
                continue
            changes.append(time.perf_counter() - tb)
            led.op(True)
            n += 1
        return {"work": n, "lookup_s": lookups, "changes_s": changes,
                "changes_round_s": [time.perf_counter() - t_round]}

    warm_cycles = [run_cycle(cycle, None)
                   for _ in range(s.warm_serve_cycles)]
    setup_s = time.perf_counter() - t_setup

    res = run_window(ctx, cycle)
    if ctx.tamper is not None:
        ctx.tamper(table.root)

    # every recorded lookup against the oracle's row (or no row)
    checks = {}
    try:
        probe = sorted({k for k, _ in answers})
        want_rows = (expected_final_state(admitted(events, eng.store))
                     .join(ctx.spark.createDataFrame(probe, KEYS), KEYS)
                     .select(*STATE_COLS).collect())
        want = {(r["repo"], r["path"]): r.asDict() for r in want_rows}
        wrong = 0
        for key, rows in answers:
            exp = want.get(key)
            got = [{c: row.get(c) for c in STATE_COLS} for row in rows]
            ok = got == ([exp] if exp is not None else [])
            wrong += not ok
            led.op(ok, f"point_lookup{key} returned {got}, expected {exp}")
        checks["lookups"] = {"checked": len(answers), "wrong": wrong}
    except Exception as exc:
        led.op(False, f"lookup check raised {type(exc).__name__}: {exc}"[:300])
    checks["changes"] = check_changes(table, versions[0], led)

    timed = res["untraced"]
    lookups = timed["lookup_s"]
    return {
        "ledger": led, "gen": gen, "engine_setup_s": setup_s,
        "seed_s": seed_s, "warmup": merge_cycles(warm_cycles),
        "window": res, "checks": checks,
        "e2e": {"work_per_s": timed["work_per_s"],
                "op_p50_ms": statistics.median(lookups) * 1000,
                "heavy_op_p50_ms": median_ms(timed["changes_round_s"]),
                "write_bytes_per_event": wbpe},
        "named": {"lookup_p50_ms": statistics.median(lookups) * 1000,
                  "lookup_count": len(lookups),
                  "lookup_trend": trend(lookups),
                  "changes_p50_s": (statistics.median(timed["changes_s"])
                                    if timed["changes_s"] else None),
                  "changes_count": len(timed["changes_s"]),
                  "delta_write_bytes_per_event": wbpe},
    }


WORKLOADS = {"tail_mor": tail_mor, "serve_reads": serve_reads}
