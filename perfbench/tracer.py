"""Outside-in layer ledger for the traced benchmark run.

The tracer wraps the engine's public layer functions from the benchmark
side (no engine code changes) and, per layer, records span counts and
self time plus the Spark stage metrics of every job the layer launched.

Attribution comes from Spark stage boundaries, not Python timers: scan,
convert, quality and write fuse into one stage, so a Python timer around
a lazy call cannot split them. Each span sets ``spark.jobGroup.id`` to
its own id on entry and restores the outer value on exit, so every job
is charged to the innermost open span. At the exit of each top-level
span the tracer waits for the listener bus to drain and reads the new
jobs and their stages from the application status store, so the store's
1000-entry retention never drops a stage.

Every figure is reported per traced cycle, a fixed amount of work (a
compaction cycle of batches, or a round of lookups and changelog reads),
so the ledger does not grow with the number of cycles a window happens to
hold, and lower is better for every layer figure.
"""

from __future__ import annotations

import inspect
import time
from typing import Any, Callable

SPAN_KINDS = ("calls", "self_s")
SPARK_KINDS = ("spark_jobs", "exec_cpu_s", "gc_s", "input_bytes",
               "shuffle_bytes", "output_bytes", "spill_bytes")
KINDS = SPAN_KINDS + SPARK_KINDS

LAYERS = ("engine", "plan", "merge", "compact", "write", "commit", "state",
          "fs", "snapshot", "pointread", "lookup", "changes")

# (layer-specific kind, unit)
EXTRA_KINDS = {
    "fs.bytes": "B/cycle",
    "commit.files_added": "count/cycle",
    "pointread.fallback_frac": "ratio",
    "pointread.files_opened_per_op": "count/op",
}
RUN_KINDS = {"untraced_s": "s/cycle", "trace_overhead_frac": "ratio"}

_UNITS = {"calls": "count/cycle", "self_s": "s/cycle",
          "spark_jobs": "count/cycle", "exec_cpu_s": "s/cycle",
          "gc_s": "s/cycle", "input_bytes": "B/cycle",
          "shuffle_bytes": "B/cycle", "output_bytes": "B/cycle",
          "spill_bytes": "B/cycle"}

_GROUP_PROP = "spark.jobGroup.id"
_FS_METHODS = ("publish_if_absent", "write_replace", "read", "exists",
               "listdir", "walk_files", "mtime_ms", "remove", "remove_tree",
               "makedirs", "prune_empty_dirs")


def metric_names() -> dict[str, str]:
    """Every per-layer metric name the traced run prints, with its unit."""
    out = {f"{layer}.{kind}": _UNITS[kind]
           for layer in LAYERS for kind in KINDS}
    out.update(EXTRA_KINDS)
    out.update(RUN_KINDS)
    return out


class LayerTracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.totals = {layer: dict.fromkeys(KINDS, 0.0) for layer in LAYERS}
        self.fs_bytes = 0
        self.files_added = 0
        self.fallbacks = 0
        self.files_opened = 0
        self._stack: list[list[float]] = []  # per open span: [child seconds]
        self._open_layers: list[str] = []
        self._group_layer: dict[str, str] = {}
        self._seen_job = -1
        self._seen_stages: set[int] = set()
        self._n = 0
        self._undo: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------ spans
    def wrap(self, layer: str, fn: Callable, on_exit=None) -> Callable:
        def traced(*args, **kwargs):
            self._n += 1
            gid = f"perfbench-{self._n}"
            self._group_layer[gid] = layer
            outer = self.sc.getLocalProperty(_GROUP_PROP)
            self.sc.setLocalProperty(_GROUP_PROP, gid)
            frame = [0.0]
            self._stack.append(frame)
            self._open_layers.append(layer)
            t0 = time.perf_counter()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                dt = time.perf_counter() - t0
                self._stack.pop()
                self._open_layers.pop()
                self.sc.setLocalProperty(_GROUP_PROP, outer)
                tot = self.totals[layer]
                tot["calls"] += 1
                tot["self_s"] += dt - frame[0]
                if on_exit is not None:
                    on_exit(args, kwargs, result)
                if self._stack:
                    self._stack[-1][0] += dt
                else:
                    self.drain()

        traced.__wrapped__ = fn
        return traced

    def _patch(self, owner: Any, name: str, layer: str, on_exit=None) -> None:
        orig = owner.__dict__[name] if isinstance(owner, type) else \
            getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, self.wrap(layer, orig, on_exit))

    # ----------------------------------------------------------- install
    def install(self) -> None:
        """Patch each traced name where the engine looks it up."""
        import pyarrow.parquet as pq

        self._seen_job = self._last_job_id()  # skip untraced jobs

        from gobblin_spark import engine, fsio
        from gobblin_spark.lakehouse import merge, pointread, table
        from gobblin_spark.plans import planner
        from gobblin_spark.state import store

        self._patch(engine.CdcEngine, "run_batch", "engine")
        self._patch(planner.Planner, "plan_batch", "plan")
        for mod in (engine, merge):
            self._patch(mod, "merge_lww", "merge")
            self._patch(mod, "merge_lww_mor", "merge")
            self._patch(mod, "compact", "compact")
        self._patch(table.LakeTable, "write_data_files", "write")
        self._patch(table.LakeTable, "commit", "commit")
        self._patch(table.LakeTable, "snapshot", "snapshot")
        for name in ("begin_batch", "commit_batch", "maybe_checkpoint_log"):
            self._patch(store.StateStore, name, "state")
        for name in _FS_METHODS:
            self._patch(fsio.LocalFs, name, "fs", self._count_fs_bytes)
        self._patch(pointread, "point_lookup_local", "pointread",
                    self._count_fallback)

        # LakeTable.commit accepts any iterable of added files: materialize
        # it once so the count does not consume a generator.
        commit = table.LakeTable.commit
        sig = inspect.signature(commit.__wrapped__)

        def commit_counting(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            bound.arguments["add_files"] = list(bound.arguments["add_files"])
            self.files_added += len(bound.arguments["add_files"])
            return commit(*bound.args, **bound.kwargs)

        table.LakeTable.commit = commit_counting

        tracer = self
        base_pf = pq.ParquetFile

        class CountingParquetFile(base_pf):
            def __init__(self, *args, **kwargs):
                if "pointread" in tracer._open_layers:
                    tracer.files_opened += 1
                super().__init__(*args, **kwargs)

        self._undo.append((pq, "ParquetFile", base_pf))
        pq.ParquetFile = CountingParquetFile

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def _count_fs_bytes(self, args, kwargs, result) -> None:
        if isinstance(result, (bytes, bytearray)):
            self.fs_bytes += len(result)
        elif len(args) > 1 and isinstance(args[1], (bytes, bytearray)):
            self.fs_bytes += len(args[1])

    def _count_fallback(self, args, kwargs, result) -> None:
        from gobblin_spark.lakehouse.pointread import FALLBACK

        if result is FALLBACK:
            self.fallbacks += 1

    # ------------------------------------------------------ status store
    def _last_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def drain(self) -> None:
        """Charge every job finished since the last drain to the layer of
        its job group. Jobs outside any span stay unattributed."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        newest = self._seen_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = int(job.jobId())
            if jid <= self._seen_job:
                break
            newest = max(newest, jid)
            group = job.jobGroup()
            layer = self._group_layer.get(
                group.get() if group.isDefined() else None)
            if layer is None:
                continue
            tot = self.totals[layer]
            tot["spark_jobs"] += 1
            stages = job.stageIds()
            for s in range(stages.size()):
                sid = int(stages.apply(s))
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                self._charge_stage(tot, sid)
        self._seen_job = newest
        self._group_layer.clear()

    def _charge_stage(self, tot: dict, sid: int) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted and already evicted
            return
        tot["exec_cpu_s"] += st.executorCpuTime() / 1e9
        tot["gc_s"] += st.jvmGcTime() / 1e3
        tot["input_bytes"] += st.inputBytes()
        tot["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        tot["output_bytes"] += st.outputBytes()
        tot["spill_bytes"] += st.memoryBytesSpilled()

    # ----------------------------------------------------------- report
    def metrics(self, window_s: float, cycles: int,
                overhead_frac: float) -> dict:
        """The ledger of ``cycles`` traced cycles that took ``window_s``,
        each total divided by the cycle count."""
        units = metric_names()
        out: dict[str, float] = {}
        for layer in LAYERS:
            for kind in KINDS:
                out[f"{layer}.{kind}"] = self.totals[layer][kind] / cycles
        n_point = self.totals["pointread"]["calls"]
        out["fs.bytes"] = self.fs_bytes / cycles
        out["commit.files_added"] = self.files_added / cycles
        out["pointread.fallback_frac"] = (self.fallbacks / n_point
                                          if n_point else 0.0)
        out["pointread.files_opened_per_op"] = (self.files_opened / n_point
                                                if n_point else 0.0)
        covered = sum(self.totals[layer]["self_s"] for layer in LAYERS)
        out["untraced_s"] = max(0.0, window_s - covered) / cycles
        out["trace_overhead_frac"] = overhead_frac
        return {k: {"value": v, "unit": units[k]} for k, v in out.items()}
