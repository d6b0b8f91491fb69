"""Benchmark entry point: one workload in a fresh process on local[nproc].

    python3 perfbench/run.py --workload {tail_mor,serve_reads} \
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer ledger with
``--trace 1``. The full run record (set-up parts, every per-batch and
per-operation latency, host probes, check results) is written to
``.perfbench/runs/`` and its path printed on the line before.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "3g"   # fits a 15 GB host with no swap next to other tenants
THREADS = len(os.sched_getaffinity(0))

E2E_UNITS = {"setup_s": "s", "work_per_s": "1/s", "op_p50_ms": "ms",
             "heavy_op_p50_ms": "ms", "write_bytes_per_event": "B"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["tail_mor", "serve_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    return ap.parse_args(argv)


def pin_runtime(work: str) -> None:
    """Heap, scratch and temp dirs, set before bench.py's defaults apply."""
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["GOBBLIN_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # no hsperfdata files under /tmp from the launcher or driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_spark(work: str):
    from gobblin_spark.session import get_spark

    spark = get_spark(
        "perfbench", parallelism=THREADS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gobblin_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print("perfbench: run from a checkout of the engine "
              "(gobblin_spark/ and bench.py not found)", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench",
                        f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_runtime(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from bench import host_supply_probe

    import workloads
    from tracer import LayerTracer

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "size": args.size, "heap": HEAP, "threads": THREADS}
    spark = None
    try:
        record["probe_start"] = host_supply_probe(n_cores=1, seconds=0.4)
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        record["shuffle_partitions"] = int(
            spark.conf.get("spark.sql.shuffle.partitions"))
        ctx = workloads.Ctx(spark=spark, work=work, seed=args.seed,
                            seconds=args.seconds,
                            size=workloads.SIZES[args.size])
        if args.trace:
            ctx.tracer = LayerTracer(spark)
        out = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["probe_end"] = host_supply_probe(n_cores=1, seconds=0.4)

    led = out.pop("ledger")
    e2e = dict(out.pop("e2e"))
    e2e["setup_s"] = session_s + out["engine_setup_s"]
    record.update(out)
    record["session_s"] = session_s
    record["setup_s"] = e2e["setup_s"]
    record["named"]["failed_frac"] = led.failed / max(1, led.attempted)
    record["errors"] = led.errors

    if args.trace:
        win = out["window"]
        metrics = ctx.tracer.metrics(win["traced"]["wall_s"],
                                     win["traced"]["cycles"],
                                     win["trace_overhead_frac"])
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    record["metrics"] = metrics

    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(
        runs, f"{args.workload}-s{args.seed}-t{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"perfbench record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": led.failed == 0,
                      "attempted": led.attempted, "failed": led.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
