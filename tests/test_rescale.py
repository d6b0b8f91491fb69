"""Bucket-spec evolution (LakeTable.rescale_buckets): metadata-only growth
of the bucket modulus, residue-mapped reads over pre-rescale files, and
progressive migration through normal write/compaction churn — the
operational knob a table growing toward 100 TB needs (≙ Iceberg
partition-spec evolution for bucket[N] transforms)."""

import json

import pyspark.sql.functions as F
import pytest

from gobblin_spark.cli import main as cli_main
from gobblin_spark.lakehouse import LakeTable, merge_lww
from gobblin_spark.lakehouse.merge import (
    compact,
    merge_lww_mor,
    point_lookup,
    read_current,
    table_changes,
    table_fingerprint,
)
from gobblin_spark.lakehouse.table import file_spec_n
from gobblin_spark.sources import generate_change_events

from tests.test_merge import (
    KEYS,
    data_events,
    make_events,
    new_table,
)


def _fp(t):
    f = table_fingerprint(t, algo="xxhash64")
    return (f["rows"], f["fingerprint"])


def test_rescale_refuses_bad_specs(spark, tmp_table_dir):
    t = new_table(spark, tmp_table_dir + "/t")
    with pytest.raises(ValueError, match="multiple"):
        t.rescale_buckets(12)  # not a multiple of 8
    with pytest.raises(ValueError, match="multiple"):
        t.rescale_buckets(4)  # shrink
    with pytest.raises(ValueError, match="multiple"):
        t.rescale_buckets(-8)
    assert t.rescale_buckets(8).version == t.snapshot().version  # no-op


def test_rescale_is_metadata_only_and_state_preserving(spark, tmp_table_dir):
    ev = make_events(spark, 2500)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)
    before = _fp(t)
    v_before = t.current_version()
    files_before = {f.path for f in t.snapshot().files}

    snap = t.rescale_buckets(32)
    assert snap.n_buckets == 32
    assert int(snap.properties["legacy_spec_n"]) == 8
    # metadata-only: same data files, visible state unchanged
    assert {f.path for f in snap.files} == files_before
    assert _fp(t) == before
    # time travel to the pre-rescale version still works
    assert table_fingerprint(t, version=v_before,
                             algo="xxhash64")["fingerprint"] == before[1]


def test_post_rescale_replay_converges_with_no_rescale_twin(
        spark, tmp_table_dir):
    d = tmp_table_dir
    ev = make_events(spark, 3000)
    de = data_events(ev)
    hi = int(de.agg(F.max("seq")).first()[0])
    first = de.filter(F.col("seq") <= hi // 2)
    rest = de.filter(F.col("seq") > hi // 2)

    # twin A: rescale mid-stream (COW merges: old-spec files are consumed
    # residue-mapped and rewritten under the new spec)
    a = new_table(spark, d + "/a")
    merge_lww(a, first, KEYS)
    a.rescale_buckets(16)
    merge_lww(a, rest, KEYS)

    # twin B: never rescaled
    b = new_table(spark, d + "/b")
    merge_lww(b, first, KEYS)
    merge_lww(b, rest, KEYS)

    assert _fp(a) == _fp(b)
    # the second merge's rewrites carry the new spec
    snap = a.snapshot()
    assert any(file_spec_n(f, snap) == 16 for f in snap.files)


def test_mor_deltas_and_compaction_migrate_to_new_spec(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = make_events(spark, 3000)
    de = data_events(ev)
    hi = int(de.agg(F.max("seq")).first()[0])

    t = new_table(spark, d + "/t")
    merge_lww_mor(t, de.filter(F.col("seq") <= hi // 2), KEYS)
    t.rescale_buckets(32)
    merge_lww_mor(t, de.filter(F.col("seq") > hi // 2), KEYS)

    # mixed specs on disk; read_current resolves across them
    snap = t.snapshot()
    specs = {file_spec_n(f, snap) for f in snap.files}
    assert specs == {8, 32}

    twin = new_table(spark, d + "/twin")
    merge_lww(twin, de, KEYS)
    assert _fp(t) == _fp(twin)

    # full compaction folds every mixed bucket group → single spec, on
    # Spark: pre-rescale files regroup keys across buckets
    compact(t)
    snap = t.snapshot()
    assert snap.properties["compact_path"] == "distributed"
    assert snap.properties["compact_reason"] == "spec"
    assert {file_spec_n(f, snap) for f in snap.files} == {32}
    assert int(snap.properties.get("mor_deltas", 0)) == 0
    assert _fp(t) == _fp(twin)


def test_point_lookup_across_rescale(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = make_events(spark, 2000)
    de = data_events(ev)
    t = new_table(spark, d + "/t")
    merge_lww(t, de, KEYS)
    keys = [
        (r["repo"], r["path"])
        for r in read_current(t).select(*KEYS).limit(3).collect()
    ]
    expect = {
        (r["repo"], r["path"]): r["commit"]
        for r in read_current(t).collect()
    }
    v_before = t.current_version()
    t.rescale_buckets(64)
    for repo, path in keys:
        for local in (True, False):
            rows = point_lookup(
                t, {"repo": repo, "path": path}, prefer_local=local
            ).collect()
            assert len(rows) == 1
            assert rows[0]["commit"] == expect[(repo, path)]
            # version pinned from BEFORE the rescale: the bucket id must
            # be derived under THAT snapshot's spec, not the current one
            rows_v = point_lookup(
                t, {"repo": repo, "path": path}, version=v_before,
                prefer_local=local,
            ).collect()
            assert [r.asDict() for r in rows_v] == \
                [r.asDict() for r in rows]


def test_table_changes_across_rescale_boundary(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = make_events(spark, 2500)
    de = data_events(ev)
    hi = int(de.agg(F.max("seq")).first()[0])

    def run(root, rescale):
        t = new_table(spark, root)
        merge_lww(t, de.filter(F.col("seq") <= hi // 2), KEYS)
        v1 = t.current_version()
        if rescale:
            t.rescale_buckets(16)
        merge_lww(t, de.filter(F.col("seq") > hi // 2), KEYS)
        return {
            (r["repo"], r["path"], r["_change_type"], r["commit"])
            for r in table_changes(t, v1).collect()
        }

    assert run(d + "/a", True) == run(d + "/b", False)


def test_rescale_twice_keeps_original_legacy_spec(spark, tmp_table_dir):
    ev = make_events(spark, 1500)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)
    before = _fp(t)
    t.rescale_buckets(16)
    merge_lww_mor(t, data_events(ev).limit(50), KEYS)
    t.rescale_buckets(64)
    snap = t.snapshot()
    assert int(snap.properties["legacy_spec_n"]) == 8
    # three spec generations interpretable at once
    specs = {file_spec_n(f, snap) for f in snap.files}
    assert 8 in specs and 16 in specs
    compact(t)
    snap = t.snapshot()
    assert {file_spec_n(f, snap) for f in snap.files} == {64}
    assert _fp(t)[1] == before[1]  # limit(50) re-applies existing events


def test_rescale_cli(spark, tmp_table_dir, capsys):
    ev = make_events(spark, 1000)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)
    assert cli_main(["rescale", "--table", tmp_table_dir + "/t",
                     "--to-buckets", "32"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["from_buckets"] == 8 and out["to_buckets"] == 32
    assert LakeTable(spark, tmp_table_dir + "/t").snapshot().n_buckets == 32


def test_rescale_retries_through_commit_race(spark, tmp_table_dir):
    """A rescale losing the optimistic race to a concurrent ingest commit
    re-reads the winner and retries (metadata-only, free)."""
    ev = make_events(spark, 1200)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)
    before = _fp(t)

    orig = LakeTable.commit
    calls = {"n": 0}

    def racy(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            # the winner lands between rescale's snapshot() and commit()
            from gobblin_spark.lakehouse.table import ConcurrentCommitError
            raise ConcurrentCommitError("simulated winner")
        return orig(self, *a, **kw)

    LakeTable.commit = racy
    try:
        snap = t.rescale_buckets(32)
    finally:
        LakeTable.commit = orig
    assert snap.n_buckets == 32 and calls["n"] == 2
    assert _fp(t) == before


def test_engine_auto_rescale_grows_buckets(spark, tmp_table_dir):
    """The operational knob end-to-end: a tiny per-bucket byte threshold
    makes the engine rescale mid-run; convergence is unaffected."""
    from gobblin_spark.engine import CdcEngine
    from gobblin_spark.sources import generate_change_events

    d = tmp_table_dir
    generate_change_events(
        spark, 2500, n_repos=10, paths_per_repo=40,
        dup_frac=0.05, delete_frac=0.08, ooo_window=120,
    ).write.parquet(d + "/events")
    ev = spark.read.parquet(d + "/events")

    eng = CdcEngine(spark, ev, d + "/t", d + "/s",
                    max_records_per_batch=800, n_buckets=4,
                    auto_rescale_bytes=8 * 1024)
    eng.run_until_caught_up()
    snap = eng.table.snapshot()
    assert snap.n_buckets > 4, "auto-rescale must have triggered"
    assert snap.n_buckets & (snap.n_buckets - 1) == 0  # power-of-two growth

    twin = CdcEngine(spark, ev, d + "/t2", d + "/s2",
                     max_records_per_batch=100000, n_buckets=4)
    twin.run_until_caught_up()
    assert _fp(eng.table) == _fp(twin.table)


def test_rollback_across_rescale_restores_old_spec(spark, tmp_table_dir):
    """Rolling back to a pre-rescale snapshot restores the old bucket spec
    and file set; reads, point lookups and changelog diffs (whose unit
    modulus no longer divides the post-rescale specs → unpruned-fallback
    path) all stay correct."""
    d = tmp_table_dir
    ev = make_events(spark, 2000)
    de = data_events(ev)
    hi = int(de.agg(F.max("seq")).first()[0])

    t = new_table(spark, d + "/t")
    merge_lww(t, de.filter(F.col("seq") <= hi // 2), KEYS)
    v_pre = t.current_version()
    pre_state = sorted(map(tuple, read_current(t).collect()))
    t.rescale_buckets(16)
    merge_lww(t, de.filter(F.col("seq") > hi // 2), KEYS)
    v_post = t.current_version()

    t.rollback(v_pre)
    snap = t.snapshot()
    assert snap.n_buckets == 8
    assert sorted(map(tuple, read_current(t).collect())) == pre_state

    # point lookup under the restored spec (both paths)
    k = pre_state[0]
    for local in (True, False):
        rows = point_lookup(t, {"repo": k[0], "path": k[1]},
                            prefer_local=local).collect()
        assert len(rows) == 1

    # changelog FROM the post-rescale version TO the rolled-back current:
    # post-rescale file specs (16) don't divide the unit modulus (8) →
    # the diff falls back to unpruned and must equal the semantic diff
    got = {(r["repo"], r["path"], r["_change_type"])
           for r in table_changes(t, v_post).collect()}
    new_live = {(a, b): rest for (a, b, *rest) in pre_state}
    old_live_rows = read_current(t, version=v_post).collect()
    old_live = {(r["repo"], r["path"]): r for r in old_live_rows}
    expect = set()
    for key in set(new_live) | set(old_live):
        if key in new_live and key not in old_live:
            expect.add((key[0], key[1], "insert"))
        elif key in old_live and key not in new_live:
            expect.add((key[0], key[1], "delete"))
    # updates: live in both with different winning seq — derive via seqs
    assert {(a, b, c) for (a, b, c) in got
            if c in ("insert", "delete")} == expect


def test_auto_rescale_clamps_to_spec_ceiling():
    """A non-power-of-two spec near the 1<<16 ceiling must never double
    past it: the growth loop's pre-check alone allowed e.g. 48000→96000.
    Driver-math unit test — no Spark needed."""
    from types import SimpleNamespace

    from gobblin_spark.engine import CdcEngine

    calls = []
    eng = SimpleNamespace(
        auto_rescale_bytes=1024,
        table=SimpleNamespace(
            rescale_buckets=lambda n: calls.append(n) or
            SimpleNamespace(n_buckets=n)),
    )

    # 48000 buckets, avg well over threshold: any doubling overshoots the
    # ceiling → must be a no-op, not a 96000-bucket commit
    snap = SimpleNamespace(n_buckets=48000,
                           files=[SimpleNamespace(bytes=10**9)])
    out = CdcEngine._maybe_auto_rescale(eng, snap)
    assert out is snap and calls == []

    # 20000 buckets: the unclamped loop picks factor 4 (80000 > ceiling);
    # the clamp settles on 2 → 40000, still under 1<<16
    snap = SimpleNamespace(n_buckets=20000,
                           files=[SimpleNamespace(bytes=10**9)])
    out = CdcEngine._maybe_auto_rescale(eng, snap)
    assert calls == [40000] and out.n_buckets == 40000
