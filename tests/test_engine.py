"""End-to-end engine tests: the Spark analog of the reference's e2e job
tests (LocalJobLauncherTest / MRJobLauncherTest via JobLauncherTestHelper
golden counts + COMMITTED states), plus the replay-convergence and
exactly-once crash tests demanded by the north rule.
"""

import os

import duckdb
import pyspark.sql.functions as F
import pytest

from gobblin_spark.engine import CdcEngine, default_registry
from gobblin_spark.sources import generate_change_events

from tests.oracle import assert_frames_equal_by_sha


def make_engine(spark, root, events, **kw):
    kw.setdefault("max_records_per_batch", 600)
    kw.setdefault("max_records_per_unit", 200)
    kw.setdefault("n_buckets", 8)
    return CdcEngine(
        spark,
        events,
        table_root=os.path.join(root, "table"),
        state_root=os.path.join(root, "state"),
        **kw,
    )


def events_fixture(spark, n=2000, **kw):
    kw.setdefault("n_repos", 20)
    kw.setdefault("paths_per_repo", 40)
    kw.setdefault("dup_frac", 0.08)
    kw.setdefault("delete_frac", 0.08)
    kw.setdefault("ooo_window", 150)
    return generate_change_events(spark, n, **kw).cache()


def oracle_final(events_pdf, renamed=False):
    con = duckdb.connect()
    con.register("events_in", events_pdf)
    lang = "lang AS language" if renamed else "lang"
    out = con.execute(
        f"""
        WITH ranked AS (
          SELECT *, row_number() OVER (
              PARTITION BY repo, path ORDER BY seq DESC) AS rn
          FROM events_in WHERE op IN ('I','U','D'))
        SELECT repo, path, commit, {lang}, content
        FROM ranked WHERE rn = 1 AND op <> 'D'
        """
    ).df()
    con.close()
    return out


def test_multi_batch_pipeline_matches_oracle(spark, tmp_table_dir):
    ev = events_fixture(spark, 2000)
    eng = make_engine(spark, tmp_table_dir, ev)
    results = eng.run_until_caught_up()
    assert len(results) >= 3  # the cap forced several batches
    final = eng.current_state().select("repo", "path", "commit", "lang", "content")
    assert_frames_equal_by_sha(final.toPandas(), oracle_final(ev.toPandas()))
    # checkpoint bookkeeping: every batch committed, watermarks advanced
    assert eng.store.pending_batches() == []
    committed = eng.store.committed_batches()
    assert len(committed) == len(results)
    wm = eng.store.last_committed_watermarks()
    assert max(wm.values()) == ev.agg(F.max("seq")).collect()[0][0]
    # lineage rows present with metrics
    assert all(c["lineage"] for c in committed)
    assert all(c["metrics"]["rows_read"] >= 0 for c in committed)


def test_resume_after_interrupted_run(spark, tmp_table_dir):
    """Kill-mid-run: first engine applies 2 batches then 'dies'; a fresh
    engine instance (new process semantics) resumes from committed
    watermarks and converges."""
    ev = events_fixture(spark, 1500)
    eng1 = make_engine(spark, tmp_table_dir, ev)
    eng1.run_batch()
    eng1.run_batch()
    # new instance over same roots — reads state store, not memory
    eng2 = make_engine(spark, tmp_table_dir, ev)
    eng2.run_until_caught_up()
    final = eng2.current_state().select("repo", "path", "commit", "lang", "content")
    assert_frames_equal_by_sha(final.toPandas(), oracle_final(ev.toPandas()))


def test_crash_between_merge_and_commitlog(spark, tmp_table_dir):
    """Exactly-once hard case: data MERGE committed to the table but the
    commit-log publish never happened. Recovery must re-apply idempotently
    (same ranges, same result), not skip and not duplicate."""
    ev = events_fixture(spark, 1200)
    eng = make_engine(spark, tmp_table_dir, ev)
    eng.run_batch()

    # simulate crash: run a batch, then delete its commit-log entry
    r = eng.run_batch()
    log_path = eng.store._log_path(r.batch_id)
    os.unlink(log_path)
    ckpt = eng.store.read_batch(r.batch_id)
    assert ckpt is not None

    eng2 = make_engine(spark, tmp_table_dir, ev)
    # the pending batch must be re-planned FIRST with identical ranges
    plan = eng2.planner.plan_batch(ev)
    assert plan.batch_id == r.batch_id
    assert {(u.event_group, u.low_seq, u.high_seq) for u in plan.units} == {
        (u.event_group, u.low_seq, u.high_seq) for u in ckpt["units"]
    }
    eng2.run_until_caught_up()
    final = eng2.current_state().select("repo", "path", "commit", "lang", "content")
    assert_frames_equal_by_sha(final.toPandas(), oracle_final(ev.toPandas()))


def test_double_replay_identical(spark, tmp_table_dir):
    """Replay convergence: two independent engines fed the same stream
    produce byte-identical visible state (content sha equality)."""
    ev = events_fixture(spark, 1000)
    e1 = make_engine(spark, os.path.join(tmp_table_dir, "a"), ev)
    e1.run_until_caught_up()
    e2 = make_engine(spark, os.path.join(tmp_table_dir, "b"), ev,
                     max_records_per_batch=10_000)  # different batching!
    e2.run_until_caught_up()
    a = e1.current_state().toPandas()
    b = e2.current_state().toPandas()
    assert_frames_equal_by_sha(a, b)


def test_schema_evolution_end_to_end(spark, tmp_table_dir):
    """Events cross v1→v2(add)→v3(widen)→v4(rename) mid-stream; the target
    table evolves and old rows read back through the rename/add/widen."""
    ev = events_fixture(
        spark, 1500, schema_change_seqs={400: 2, 800: 3, 1200: 4}
    )
    eng = make_engine(spark, tmp_table_dir, ev)
    eng.run_until_caught_up()
    final = eng.current_state()
    assert "language" in final.columns and "lang" not in final.columns
    assert dict(final.dtypes)["size_bytes"] == "bigint"
    # value correctness incl. rename vs oracle
    got = final.select("repo", "path", "commit", "language", "content").toPandas()
    assert_frames_equal_by_sha(got, oracle_final(ev.toPandas(), renamed=True))
    # size_bytes: winners with sv>=2 have length(content), else null
    chk = final.filter(
        F.col("size_bytes").isNotNull()
        & (F.col("size_bytes") != F.length("content"))
    )
    assert chk.count() == 0
    # the registry_version property advanced to 4
    assert eng.table.snapshot().properties["registry_version"] == 4


def test_mor_mode_matches_oracle(spark, tmp_table_dir):
    """Merge-on-read apply (append deltas + periodic compaction) must
    converge to the same visible state as COW / the oracle replay — both
    mid-stream (uncompacted deltas resolved at read) and after compaction."""
    ev = events_fixture(spark, 1500)
    eng = make_engine(spark, tmp_table_dir, ev,
                      merge_mode="mor", compact_every=2)
    eng.run_batch()
    # uncompacted read: deltas outstanding, LWW resolved at read time
    mid = eng.current_state().select("repo", "path", "commit", "lang", "content")
    assert mid.count() > 0
    eng.run_until_caught_up()
    final = eng.current_state().select("repo", "path", "commit", "lang", "content")
    assert_frames_equal_by_sha(final.toPandas(), oracle_final(ev.toPandas()))
    # a final explicit compaction leaves the visible state unchanged
    from gobblin_spark.lakehouse.merge import compact

    compact(eng.table)
    after = eng.current_state().select("repo", "path", "commit", "lang", "content")
    assert_frames_equal_by_sha(after.toPandas(), oracle_final(ev.toPandas()))
    # compacted table holds exactly one row per live+tombstone key
    raw = eng.table.read()
    assert raw.count() == raw.select("repo", "path").distinct().count()


def test_task_policy_blocks_publish_then_recovers(spark, tmp_table_dir):
    """A failing task-level gate (≙ TaskPublisher.canPublish) must leave the
    batch uncommitted (ranges re-planned next run), not half-published; a
    permissive engine over the same state then converges normally."""
    import pytest

    from gobblin_spark.operators.quality import PolicyViolation, RowCountPolicy

    ev = events_fixture(spark, 800)
    eng = make_engine(spark, tmp_table_dir, ev,
                      task_policies=[RowCountPolicy(expected=-1)])  # never true
    v0 = eng.table.current_version()
    with pytest.raises(PolicyViolation):
        eng.run_batch()
    assert eng.table.current_version() == v0  # nothing published
    pending = eng.store.pending_batches()
    assert len(pending) == 1 and pending[0]["status"] == "FAILED"

    eng2 = make_engine(spark, tmp_table_dir, ev)  # gate removed
    eng2.run_until_caught_up()
    final = eng2.current_state().select("repo", "path", "commit", "lang", "content")
    assert_frames_equal_by_sha(final.toPandas(), oracle_final(ev.toPandas()))


def test_row_quality_gate_err_file(spark, tmp_table_dir):
    from gobblin_spark.operators.quality import PolicyType, RowLevelPolicy

    ev = events_fixture(spark, 800)
    err = os.path.join(tmp_table_dir, "errs")
    eng = make_engine(
        spark,
        tmp_table_dir,
        ev,
        row_policies=[
            RowLevelPolicy(
                "content_required_unless_delete",
                (F.col("op") == "D") | F.col("content").isNotNull(),
                PolicyType.ERR_FILE,
            ),
            # a policy that actually rejects something: repo_0000 is 'bad'
            RowLevelPolicy(
                "no_repo_0000",
                F.col("repo") != "repo_0000",
                PolicyType.ERR_FILE,
            ),
        ],
        err_path=err,
    )
    eng.run_until_caught_up()
    final = eng.current_state()
    assert final.filter(F.col("repo") == "repo_0000").count() == 0
    assert os.path.exists(err)
    quarantined = spark.read.parquet(err)
    assert quarantined.filter(F.col("repo") == "repo_0000").count() > 0


def test_mor_fanout_distribution_matches_oracle(spark, tmp_table_dir):
    """delta_distribution='fanout' (no-shuffle per-task bucketed delta
    writes, ≙ Iceberg write.distribution-mode=none) converges to the same
    state; every delta file still belongs to exactly one bucket."""
    ev = events_fixture(spark, 1500)
    eng = make_engine(spark, tmp_table_dir, ev,
                      merge_mode="mor", compact_every=3,
                      delta_distribution="fanout")
    eng.run_batch()
    snap = eng.table.snapshot()
    assert all(f.bucket >= 0 for f in snap.files)
    eng.run_until_caught_up()
    final = eng.current_state().select("repo", "path", "commit", "lang",
                                       "content")
    assert_frames_equal_by_sha(final.toPandas(), oracle_final(ev.toPandas()))


def test_adaptive_compaction_delta_ratio_trigger(spark, tmp_table_dir):
    """≙ MRCompactor.java:147-157 late-ratio recompaction: a heavy burst of
    deltas relative to the base triggers compaction EARLY (before any
    batch-count cap), while a quiet stream whose deltas stay tiny never
    pays the rewrite."""
    from gobblin_spark.lakehouse.merge import compact

    ev = events_fixture(spark, 2400)

    # heavy: establish a base (first batch + explicit compact), then let
    # 600-row delta batches hit a ~590-row base — ratio 0.25 trips on
    # every batch with the count cap DISABLED (None)
    heavy = make_engine(
        spark, tmp_table_dir + "/heavy", ev, merge_mode="mor",
        compact_every=None, compact_delta_ratio=0.25,
    )
    heavy.run_batch()
    compact(heavy.table)
    heavy.run_until_caught_up()
    snap = heavy.table.snapshot()
    assert all(f.reduced for f in snap.files)  # no outstanding deltas
    assert int(snap.properties.get("mor_deltas", 1)) == 0

    # quiet: same stream and base-establishing prefix, but the ratio is
    # far above the workload → deltas accumulate, zero engine compactions
    quiet = make_engine(
        spark, tmp_table_dir + "/quiet", ev, merge_mode="mor",
        compact_every=None, compact_delta_ratio=1000.0,
    )
    quiet.run_batch()
    compact(quiet.table)
    quiet.run_until_caught_up()
    snap_q = quiet.table.snapshot()
    assert any(not f.reduced for f in snap_q.files)  # deltas outstanding
    # the engine never compacted (only the explicit base-establishing
    # compact above ran, which sets no compacted_after property)
    assert "compacted_after" not in snap_q.properties

    # both serve the same converged state regardless of compaction policy
    a = {(r["repo"], r["path"], r["commit"])
         for r in heavy.current_state().collect()}
    b = {(r["repo"], r["path"], r["commit"])
         for r in quiet.current_state().collect()}
    assert a == b
    ev.unpersist()


def test_auto_merge_mode_converges_and_picks_both_regimes(
        spark, tmp_table_dir):
    """merge_mode='auto' must (a) choose COW for the bootstrap/batch≈table
    advances and MOR once batches are slivers of the table, purely from
    manifest math, and (b) converge bit-identical to both static modes.
    The mode actually chosen per batch is read back from the commit-log
    metrics — not inferred."""
    import pyspark.sql.functions as F

    from gobblin_spark.lakehouse.merge import table_fingerprint
    from gobblin_spark.sources import generate_change_events
    from gobblin_spark.state.store import StateStore

    d = tmp_table_dir
    generate_change_events(
        spark, 6000, n_repos=10, paths_per_repo=60,
        dup_frac=0.05, delete_frac=0.08, ooo_window=150,
    ).write.parquet(d + "/events")
    ev = spark.read.parquet(d + "/events")

    def run(root, **kw):
        eng = CdcEngine(spark, ev, root + "/t", root + "/s",
                        n_buckets=8, compact_every=3, **kw)
        eng.run_until_caught_up()
        return eng

    # big first batch (bootstrap -> cow), then sliver batches (-> mor)
    auto = run(d + "/auto", merge_mode="auto", max_records_per_batch=500)
    docs = [c for c in StateStore(d + "/auto/s").committed_batches()
            if c.get("kind") != "rollup"]
    docs.sort(key=lambda c: c.get("committed_ms", 0))
    modes = [c["metrics"].get("merge_mode") for c in docs]
    assert modes[0] == "cow", "bootstrap batch must take COW"
    assert "mor" in modes, "sliver batches against the grown table take MOR"

    cow = run(d + "/cow", merge_mode="cow", max_records_per_batch=500)
    mor = run(d + "/mor", merge_mode="mor", max_records_per_batch=500)
    fa = table_fingerprint(auto.table)
    assert fa["fingerprint"] == table_fingerprint(cow.table)["fingerprint"]
    assert fa["fingerprint"] == table_fingerprint(mor.table)["fingerprint"]
    assert fa["rows"] > 0


@pytest.mark.parametrize("name, value", [
    ("merge_mode", "cwo"), ("merge_dialect", "column"),
    ("merge_dialect", "cel"), ("delta_distribution", "hash")])
def test_bad_engine_arguments_are_named_errors(spark, tmp_table_dir,
                                               name, value):
    """A bad enum argument fails up front with a ValueError naming the
    argument — an assert would vanish under ``python -O`` — and before any
    table is created in a dialect no reader accepts."""
    import re

    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.streaming.ingest import stream_ingest

    d = tmp_table_dir
    named = re.escape(f"{name}={value!r}")
    with pytest.raises(ValueError, match=named):
        CdcEngine(spark, lambda: None, d + "/t", d + "/s", **{name: value})
    if name == "merge_dialect":
        with pytest.raises(ValueError, match=named):
            stream_ingest(spark, d + "/ev", d + "/t", d + "/s", d + "/ckpt",
                          merge_dialect=value)
    assert not LakeTable.exists(d + "/t")
