"""Dead-letter replay of err-file quarantined rows (≙ closing the loop on
RowLevelPolicy.Type.ERR_FILE, RowLevelPolicy.java:30-43 — the reference
diverts failures to an err sink and leaves reprocessing to the operator).

Contract: replay at the ORIGINAL seq converges the table to exactly the
state a full replay of history would have produced had nothing been
quarantined; rows whose key is wholly absent from a GC'd table are blocked
(a deleting tombstone may have been collected — replaying could resurrect
the key) unless forced."""

import json
import os

import pyspark.sql.functions as F

from gobblin_spark.engine import CdcEngine
from gobblin_spark.lakehouse import LakeTable
from gobblin_spark.lakehouse.merge import read_current
from gobblin_spark.operators.quality import PolicyType, RowLevelPolicy
from gobblin_spark.replay import replay_errors
from gobblin_spark.sources.change_events import generate_change_events

from tests.oracle import assert_matches_oracle

# quarantine ~half the data rows by a deterministic hash of the payload;
# deletes (null commit) pass through so tombstones still apply
def flaky():
    return RowLevelPolicy(
        "flaky_half",
        F.col("commit").isNull()
        | (F.pmod(F.xxhash64("commit"), F.lit(2)) == 0),
        PolicyType.ERR_FILE,
    )


def _fixture(spark, d, n=3000):
    generate_change_events(
        spark, n, n_repos=15, paths_per_repo=50,
        dup_frac=0.05, delete_frac=0.08, ooo_window=150,
    ).write.parquet(d + "/events")
    return spark.read.parquet(d + "/events")


def _data(ev):
    return ev.filter(F.col("op").isin("I", "U", "D"))


def test_replay_restores_full_replay_state(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = _fixture(spark, d)
    eng = CdcEngine(spark, ev, d + "/t", d + "/s",
                    max_records_per_batch=1000, n_buckets=8,
                    row_policies=[flaky()], err_path=d + "/err")
    eng.run_until_caught_up()

    rids = [n for n in os.listdir(d + "/err") if n.startswith("run_id=")]
    assert rids, "policy must have quarantined rows"
    n_table_before = read_current(eng.table).count()

    res = replay_errors(spark, d + "/err", d + "/t", d + "/s")
    assert sum(res["replayed"].values()) > 0
    assert sum(res["still_quarantined"].values()) == 0
    assert sum(res["blocked_below_gc_horizon"].values()) == 0
    # quarantine fully drained
    assert not [n for n in os.listdir(d + "/err") if n.startswith("run_id=")]

    got = read_current(LakeTable(spark, d + "/t"))
    assert got.count() > n_table_before
    assert_matches_oracle(got, _data(ev))

    # exactly-once: rerun replays nothing, table untouched
    v = LakeTable(spark, d + "/t").current_version()
    res2 = replay_errors(spark, d + "/err", d + "/t", d + "/s",
                         run_ids=[r.split("=", 1)[1] for r in rids])
    assert sorted(res2["skipped"]) == sorted(r.split("=", 1)[1] for r in rids)
    assert LakeTable(spark, d + "/t").current_version() == v


def test_replay_still_failing_rows_stay_quarantined(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = _fixture(spark, d, n=1500)
    eng = CdcEngine(spark, ev, d + "/t", d + "/s",
                    max_records_per_batch=800, n_buckets=8,
                    row_policies=[flaky()], err_path=d + "/err")
    eng.run_until_caught_up()
    before = {n: spark.read.parquet(os.path.join(d + "/err", n)).count()
              for n in os.listdir(d + "/err") if n.startswith("run_id=")}

    # same policy still active: nothing passes, partitions survive intact
    res = replay_errors(spark, d + "/err", d + "/t", d + "/s",
                        policies=[flaky()])
    assert sum(res["replayed"].values()) == 0
    after = {n: spark.read.parquet(os.path.join(d + "/err", n)).count()
             for n in os.listdir(d + "/err") if n.startswith("run_id=")}
    assert after == before
    # a zero-row attempt must NOT have committed its rid: the same runs
    # stay retryable, so relaxing the policies later drains the quarantine
    res2 = replay_errors(spark, d + "/err", d + "/t", d + "/s")
    assert sum(res2["replayed"].values()) == sum(before.values()) - sum(
        res2["blocked_below_gc_horizon"].values())
    assert_matches_oracle(read_current(LakeTable(spark, d + "/t")),
                          _data(ev))


def test_replay_gc_horizon_blocks_only_absent_keys(spark, tmp_table_dir):
    """MOR + compaction + tombstone GC before the replay: sub-horizon rows
    whose key still has stored rows replay fine; rows whose key is wholly
    absent are blocked (possible GC'd delete) and the final state equals
    the oracle over all events MINUS the blocked ones."""
    d = tmp_table_dir
    ev = _fixture(spark, d, n=2000)
    eng = CdcEngine(spark, ev, d + "/t", d + "/s",
                    max_records_per_batch=600, n_buckets=8,
                    merge_mode="mor", compact_every=2,
                    row_policies=[flaky()], err_path=d + "/err")
    eng.run_until_caught_up()
    snap = eng.table.snapshot()
    horizon = int(snap.properties.get("gc_horizon_seq", -1))
    assert horizon > 0, "compaction+GC must have run for this test"

    quarantined = spark.read.parquet(d + "/err")
    res = replay_errors(spark, d + "/err", d + "/t", d + "/s")
    n_blocked = sum(res["blocked_below_gc_horizon"].values())

    # whatever remains quarantined is exactly the blocked set
    left = [os.path.join(d + "/err", n) for n in os.listdir(d + "/err")
            if n.startswith("run_id=")]
    blocked_rows = (spark.read.parquet(*left) if left
                    else quarantined.limit(0))
    assert blocked_rows.count() == n_blocked

    # final state == LWW replay of all events EXCEPT the blocked ones
    surviving = _data(ev).join(
        blocked_rows.select("seq"), on="seq", how="left_anti")
    assert_matches_oracle(read_current(LakeTable(spark, d + "/t")),
                          surviving)

    if n_blocked:
        # forcing drains the rest
        res2 = replay_errors(spark, d + "/err", d + "/t", d + "/s",
                             force=True)
        assert sum(res2["replayed"].values()) == n_blocked
        assert not [n for n in os.listdir(d + "/err")
                    if n.startswith("run_id=")]


def test_replay_cli(spark, tmp_table_dir, capsys):
    from gobblin_spark.cli import main

    d = tmp_table_dir
    ev = _fixture(spark, d, n=1200)
    eng = CdcEngine(spark, ev, d + "/t", d + "/s",
                    max_records_per_batch=700, n_buckets=8,
                    row_policies=[flaky()], err_path=d + "/err")
    eng.run_until_caught_up()
    rc = main(["replay-errors", "--err", d + "/err", "--table", d + "/t",
               "--state", d + "/s"])
    assert rc == 0
    out = json.loads([l for l in capsys.readouterr().out.splitlines()
                      if l.startswith("{")][-1])
    assert sum(out["replayed"].values()) > 0
    assert_matches_oracle(read_current(LakeTable(spark, d + "/t")),
                          _data(ev))


def test_replay_objectstore_swap_crash_recovery(spark, tmp_table_dir,
                                                monkeypatch):
    """DLQ replay runs entirely through CommitFs (here ObjectStoreFs — no
    rename, no directories) and its staged-swap protocol survives a crash
    in the worst window: old partition keys already deleted, staged
    remainder not yet promoted. Without the swap marker the rerun would
    see a SUBSET partition and silently lose DLQ rows; with it the rerun
    restores the remainder and converges."""
    import gobblin_spark.replay as replay_mod
    from gobblin_spark.fsio import ObjectStoreFs

    d = tmp_table_dir
    ev = _fixture(spark, d, n=1500)
    eng = CdcEngine(spark, ev, d + "/t", d + "/s",
                    max_records_per_batch=800, n_buckets=8,
                    row_policies=[flaky()], err_path=d + "/err",
                    fs=ObjectStoreFs())
    eng.run_until_caught_up()

    quarantined = spark.read.parquet(d + "/err")
    n_q = quarantined.count()
    assert n_q > 0
    # relaxed policy: of the quarantined rows (xxhash64(commit)%2 == 1),
    # those with hash%4 == 1 now pass, hash%4 == 3 still fail — both the
    # merge and the staged remainder rewrite happen in one replay
    relaxed = RowLevelPolicy(
        "flaky_quarter",
        F.col("commit").isNull()
        | (F.pmod(F.xxhash64("commit"), F.lit(4)) == 1),
        PolicyType.ERR_FILE,
    )
    n_still = quarantined.filter(
        F.pmod(F.xxhash64("commit"), F.lit(4)) == 3).count()
    assert 0 < n_still < n_q, "fixture must split pass/keep"

    calls = {"n": 0}
    real_promote = replay_mod._promote

    def crash_once(fs, staging, part):
        if calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected crash before promotion")
        return real_promote(fs, staging, part)

    import pytest
    monkeypatch.setattr(replay_mod, "_promote", crash_once)
    with pytest.raises(RuntimeError, match="injected"):
        replay_errors(spark, d + "/err", d + "/t", d + "/s",
                      policies=[relaxed], fs=ObjectStoreFs())
    monkeypatch.setattr(replay_mod, "_promote", real_promote)

    # mid-crash state: at least one partition is gone but its marker +
    # staging survive — the exact subset window the marker exists for
    markers = [n for n in os.listdir(d + "/err")
               if n.endswith(".__replay_swap")]
    assert markers, "crash must land inside a swap"

    # rerun with the same relaxed policy: recovery restores the staged
    # remainder, replays idempotently, still-failing rows stay
    res = replay_errors(spark, d + "/err", d + "/t", d + "/s",
                        policies=[relaxed], fs=ObjectStoreFs())
    left = [os.path.join(d + "/err", n) for n in os.listdir(d + "/err")
            if n.startswith("run_id=")]
    n_left = (spark.read.parquet(*left).count() if left else 0)
    assert n_left == n_still, "no DLQ row lost or duplicated across the crash"
    assert not [n for n in os.listdir(d + "/err")
                if n.endswith(".__replay_swap") or
                n.endswith(".__replay_tmp")]

    # visible state == full replay MINUS the still-quarantined rows
    still = (spark.read.parquet(*left).select("seq") if left
             else quarantined.limit(0).select("seq"))
    surviving = _data(ev).join(still, on="seq", how="left_anti")
    assert_matches_oracle(read_current(
        LakeTable(spark, d + "/t", fs=ObjectStoreFs())), surviving)

    # dropping the policy drains the rest; rerun of recovered rids is a
    # no-op (exactly-once across the crash)
    res2 = replay_errors(spark, d + "/err", d + "/t", d + "/s",
                         fs=ObjectStoreFs())
    assert sum(res2["replayed"].values()) == n_still
    assert_matches_oracle(read_current(
        LakeTable(spark, d + "/t", fs=ObjectStoreFs())), _data(ev))
