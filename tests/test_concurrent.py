"""Concurrent-writer conflict retry: a standalone compactor racing an
ingest writer (≙ the reference running compaction as a SEPARATE job
family — gobblin-compaction/.../MRCompactor.java — so compactor-vs-ingest
is the production shape, serialized there by a job-level lock; here it's
Iceberg-style optimistic validate-and-retry).

Contract under test: when a commit loses the optimistic race, the rewrite
work is rebased — buckets whose input file sets the winner didn't touch
re-commit METADATA-ONLY; invalidated buckets re-fold from the winning
snapshot — and BOTH writers land, with the final visible state equal to
serial execution and no orphaned files."""

import os

import pyspark.sql.functions as F

from gobblin_spark.engine import CdcEngine
from gobblin_spark.lakehouse import LakeTable
from gobblin_spark.lakehouse.merge import (
    compact,
    gc_tombstones,
    merge_lww_mor,
    read_current,
)
from gobblin_spark.sources import generate_change_events

from tests.oracle import assert_matches_oracle
from tests.test_merge import COMPACT_PATHS

KEYS = ["repo", "path"]


def _events(spark, d, n=3000):
    generate_change_events(
        spark, n, n_repos=16, paths_per_repo=50,
        dup_frac=0.05, delete_frac=0.08, ooo_window=150,
    ).write.parquet(d + "/events")
    return spark.read.parquet(d + "/events")


def _data(ev):
    return ev.filter(F.col("op").isin("I", "U", "D")).drop("version")


def _mor_table(spark, d, ev, hi):
    """Build a MOR table with outstanding deltas from events seq <= hi."""
    eng = CdcEngine(spark, ev.filter(F.col("seq") <= hi), d + "/t",
                    d + "/s", max_records_per_batch=700, n_buckets=8,
                    merge_mode="mor", compact_every=None,
                    compact_delta_ratio=None)
    eng.run_until_caught_up()
    t = eng.table
    assert int(t.snapshot().properties.get("mor_deltas", 0)) >= 1
    return t


def _race_commit(t, inject, counter):
    """Instance-patch t.commit so the FIRST attempt loses to ``inject()``
    — the deterministic version of an ingest commit landing between the
    compactor's snapshot read and its commit."""
    real = LakeTable.commit

    def racing(*a, **kw):
        counter["attempts"] += 1
        if counter["attempts"] == 1:
            inject()
        return real(t, *a, **kw)

    t.commit = racing


def test_compact_retries_after_losing_to_ingest(spark, tmp_table_dir):
    """Compactor reads snapshot v, an ingest delta commit lands v+1, the
    compactor's commit conflicts: buckets untouched by the ingest rebase
    metadata-only, the ingest's buckets re-fold, and the final state is
    sha-equal to serial execution (ingest fully visible, zero dups) — on
    both compaction paths."""
    for path, on_path in COMPACT_PATHS.items():
        d = os.path.join(tmp_table_dir, path)
        ev = _events(spark, d)
        hi = 2000
        t = _mor_table(spark, d, ev, hi)
        v_before = t.current_version()

        late = _data(ev).filter(F.col("seq") > hi)
        assert late.count() > 0
        t2 = LakeTable(spark, d + "/t")  # the concurrent ingest writer
        counter = {"attempts": 0}
        _race_commit(
            t, lambda: merge_lww_mor(t2, late, KEYS, seq_col="seq"), counter)

        with on_path():
            snap = compact(t)
        assert snap.properties["compact_path"] == path
        assert counter["attempts"] >= 2, "first commit must have conflicted"
        assert int(snap.properties.get("mor_deltas", 0)) == 0
        # BOTH writers landed: the ingest's version and ≥1 compaction commit
        assert t.current_version() > v_before + 1

        got = read_current(LakeTable(spark, d + "/t"))
        assert_matches_oracle(got, _data(ev))  # == serial execution
        # one row per key physically (fully folded)
        raw = LakeTable(spark, d + "/t").read()
        assert raw.count() == raw.select(*KEYS).distinct().count()
        # discarded conflicting rewrites leave no orphans behind
        assert LakeTable(spark, d + "/t").vacuum() == 0


def test_compact_rebases_metadata_only_when_inputs_untouched(
        spark, tmp_table_dir):
    """The winner is a commit that touches NO compacted bucket's inputs
    (a metadata-only property commit): every rewritten bucket must land
    via the metadata-only rebase — exactly one data rewrite, no re-fold —
    on both compaction paths."""
    for path, on_path in COMPACT_PATHS.items():
        d = os.path.join(tmp_table_dir, path)
        ev = _events(spark, d, n=2000)
        t = _mor_table(spark, d, ev, 2**62)

        # data rewrites by either writer: Spark's and the driver-side one
        writes = {"n": 0}

        def counting(write):
            def counted(*a, **kw):
                writes["n"] += 1
                return write(*a, **kw)
            return counted

        t.write_data_files = counting(t.write_data_files)
        t.write_local_files = counting(t.write_local_files)

        t2 = LakeTable(spark, d + "/t")
        counter = {"attempts": 0}

        def metadata_winner():
            s = t2.snapshot()
            t2.commit(keep_files=s.files, add_files=[],
                      properties={"note": "winner"},
                      expected_version=s.version)

        _race_commit(t, metadata_winner, counter)
        v0 = t.current_version()
        with on_path():
            snap = compact(t)
        assert counter["attempts"] >= 2
        assert writes["n"] == 1, "untouched inputs must NOT be re-folded"
        assert int(snap.properties.get("mor_deltas", 0)) == 0
        assert snap.properties.get("note") == "winner"  # rebased ON TOP
        # the rebased rewrite is the one commit that records the path; the
        # winner and the pass that then clears the delta flag record none
        traces = [t.snapshot(v).properties.get("compact_path")
                  for v in range(v0 + 1, snap.version + 1)]
        assert [p for p in traces if p] == [path]
        assert_matches_oracle(read_current(LakeTable(spark, d + "/t")),
                              _data(ev))
        assert LakeTable(spark, d + "/t").vacuum() == 0


def test_gc_tombstones_retries_after_concurrent_commit(
        spark, tmp_table_dir):
    """gc_tombstones losing its commit race to a metadata commit rebases
    and still physically drops the horizon'd tombstones."""
    d = tmp_table_dir
    ev = _events(spark, d, n=2000)
    t = _mor_table(spark, d, ev, 2**62)
    compact(t)
    t = LakeTable(spark, d + "/t")
    horizon = int(_data(ev).agg(F.max("seq")).first()[0])
    raw_tombs = t.read().filter(F.col("__deleted")).count()
    assert raw_tombs > 0

    t2 = LakeTable(spark, d + "/t")
    counter = {"attempts": 0}

    def metadata_winner():
        s = t2.snapshot()
        t2.commit(keep_files=s.files, add_files=[],
                  properties={"note": "gc-winner"},
                  expected_version=s.version)

    _race_commit(t, metadata_winner, counter)
    snap = gc_tombstones(t, horizon)
    assert counter["attempts"] >= 2
    assert snap.properties.get("note") == "gc-winner"
    t = LakeTable(spark, d + "/t")
    assert t.read().filter(F.col("__deleted")).count() == 0
    assert_matches_oracle(read_current(t), _data(ev))
    assert t.vacuum() == 0


_COMPACTOR_SRC = '''
import json, os, sys, time
sys.path.insert(0, {repo!r})
from gobblin_spark.session import get_spark
from gobblin_spark.lakehouse import LakeTable
from gobblin_spark.lakehouse.merge import compact

root, barrier = sys.argv[1], sys.argv[2]
spark = get_spark("compactor", parallelism=4, shuffle_partitions=8,
                  extra_conf={{"spark.ui.enabled": "false"}})
t = LakeTable(spark, root)
real = LakeTable.commit
state = {{"first": True}}

def gated(*a, **kw):
    # hold the FIRST commit until the racing ingest process has landed —
    # guarantees the conflict without depending on process timing
    if state["first"]:
        state["first"] = False
        open(os.path.join(barrier, "compactor_planned"), "w").close()
        deadline = time.time() + 120
        while not os.path.exists(os.path.join(barrier, "ingest_done")):
            if time.time() > deadline:
                raise TimeoutError("ingest never landed")
            time.sleep(0.1)
    return real(t, *a, **kw)

t.commit = gated
snap = compact(t)
print(json.dumps({{"ok": True, "version": snap.version,
                   "mor_deltas": int(snap.properties.get("mor_deltas", 0))}}))
'''

_INGEST_SRC = '''
import json, os, sys, time
sys.path.insert(0, {repo!r})
from gobblin_spark.session import get_spark
from gobblin_spark.engine import CdcEngine

root, state_root, events, barrier = sys.argv[1:5]
spark = get_spark("ingest", parallelism=4, shuffle_partitions=8,
                  extra_conf={{"spark.ui.enabled": "false"}})
deadline = time.time() + 120
while not os.path.exists(os.path.join(barrier, "compactor_planned")):
    if time.time() > deadline:
        raise TimeoutError("compactor never planned")
    time.sleep(0.1)
eng = CdcEngine(spark, spark.read.parquet(events), root, state_root,
                max_records_per_batch=10**9, n_buckets=8, merge_mode="mor",
                compact_every=None, compact_delta_ratio=None)
res = eng.run_until_caught_up()  # list of per-batch results
open(os.path.join(barrier, "ingest_done"), "w").close()
print(json.dumps({{"ok": True, "batches": len(res)}}))
'''


def test_two_process_compactor_vs_ingest_race(spark, tmp_table_dir):
    """REAL subprocesses (each its own Spark JVM): a standalone compactor
    and an ingest writer race on the same table root. A file barrier
    forces the worst interleaving — compactor folds snapshot v, ingest
    commits v+1, compactor's commit conflicts. Both processes must exit 0,
    both commits must land, and the final state is sha-equal to a serial
    run of ingest-then-compact."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    d = tmp_table_dir
    ev = _events(spark, d, n=3000)
    hi = 2000
    _mor_table(spark, d, ev, hi)  # deltas outstanding at seq <= hi
    barrier = os.path.join(d, "barrier")
    os.makedirs(barrier)
    comp_py = os.path.join(d, "compactor_worker.py")
    ing_py = os.path.join(d, "ingest_worker.py")
    with open(comp_py, "w") as f:
        f.write(_COMPACTOR_SRC.format(repo=repo))
    with open(ing_py, "w") as f:
        f.write(_INGEST_SRC.format(repo=repo))

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    p_comp = subprocess.Popen(
        [_sys.executable, comp_py, d + "/t", barrier],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env, text=True)
    p_ing = subprocess.Popen(
        [_sys.executable, ing_py, d + "/t", d + "/s",
         d + "/events", barrier],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env, text=True)
    out_i, err_i = p_ing.communicate(timeout=300)
    out_c, err_c = p_comp.communicate(timeout=300)
    assert p_ing.returncode == 0, err_i[-2000:]
    assert p_comp.returncode == 0, err_c[-2000:]
    import json as _json
    res_i = _json.loads([l for l in out_i.splitlines()
                         if l.startswith("{")][-1])
    res_c = _json.loads([l for l in out_c.splitlines()
                         if l.startswith("{")][-1])
    assert res_i["ok"] and res_i["batches"] >= 1  # ingest landed its tail
    assert res_c["ok"] and res_c["mor_deltas"] == 0  # compactor fully folded

    t = LakeTable(spark, d + "/t")
    # serial-equivalent final state: LWW over ALL events, one row per key
    assert_matches_oracle(read_current(t), _data(ev))
    raw = t.read()
    assert raw.count() == raw.select(*KEYS).distinct().count()
    assert t.vacuum() == 0


def test_cli_compact_standalone(spark, tmp_table_dir, capsys):
    """`run_job.py compact` — the standalone compactor job surface the
    two-process race runs through (≙ launching MRCompactor as its own
    job)."""
    import json as _json

    from gobblin_spark.cli import main

    d = tmp_table_dir
    ev = _events(spark, d, n=2000)
    rc = main(["ingest", "--events", d + "/events", "--table", d + "/t",
               "--state", d + "/s", "--merge-mode", "mor",
               "--max-records-per-batch", "700"])
    assert rc == 0
    capsys.readouterr()
    t = LakeTable(spark, d + "/t")
    # re-deliver a slice as a fresh delta so the standalone compactor has
    # outstanding work regardless of the ingest's own compaction cadence
    merge_lww_mor(t, _data(ev).filter(F.col("seq") > 1500), KEYS,
                  seq_col="seq")
    assert int(t.snapshot().properties.get("mor_deltas", 0)) >= 1

    rc = main(["compact", "--table", d + "/t"])
    assert rc == 0
    out = _json.loads([l for l in capsys.readouterr().out.splitlines()
                       if l.startswith("{")][-1])
    t = LakeTable(spark, d + "/t")
    assert out["snapshot_version"] == t.current_version()
    assert int(t.snapshot().properties.get("mor_deltas", 0)) == 0
    assert_matches_oracle(read_current(t), _data(ev))
