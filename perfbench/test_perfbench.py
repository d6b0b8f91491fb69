"""The benchmark's own tests: a tiny-size smoke run per gated workload and
mode, and a negative test that breaks a table and expects the correctness
check to fail.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import tracer  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
GATED = [w["name"] for w in SPEC["workloads"]]


def test_spec_matches_tracer_and_runner():
    from run import E2E_UNITS

    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == \
        tracer.metric_names()
    assert len(SPEC["per_layer"]) <= 128
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", GATED)
def test_tiny_run_prints_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name


@pytest.fixture(scope="module")
def spark():
    from gobblin_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    s = get_spark("perfbench-tests", parallelism=2, shuffle_partitions=4)
    yield s
    s.stop()


def _delete_one_data_file(table_root: str) -> None:
    from gobblin_spark.lakehouse import LakeTable

    snap = LakeTable(None, table_root).snapshot()
    os.remove(os.path.join(table_root, snap.files[0].path))


@pytest.mark.parametrize("workload", GATED)
def test_deleted_data_file_fails_the_check(workload, spark, tmp_path):
    ctx = workloads.Ctx(spark=spark, work=str(tmp_path), seed=5,
                        seconds=0.5, size=workloads.TINY,
                        tamper=_delete_one_data_file)
    out = workloads.WORKLOADS[workload](ctx)
    led = out["ledger"]
    assert led.failed > 0 and led.failed / led.attempted > 0
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", GATED[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
