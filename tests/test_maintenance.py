"""Catalog-scoped maintenance sweep (gobblin_spark/maintenance.py + the
`maintain` CLI): each registered table's ``maintain.*`` policy applied in
one run — compact MOR deltas, rescale the bucket spec, expire snapshots,
vacuum — with crash-mid-sweep resume via per-table completion markers.
≙ the reference's retention job family (gobblin-data-management
retention/), policy-per-dataset run as one scheduled job."""

import json

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    BooleanType, LongType, StringType, StructField, StructType,
)

from gobblin_spark.catalog import Catalog
from gobblin_spark.cli import main as cli_main
from gobblin_spark.lakehouse import LakeTable, merge_lww
from gobblin_spark.lakehouse.merge import merge_lww_mor, read_current
from gobblin_spark.maintenance import (
    SweepFailed, maintain_table, parse_policy, sweep_catalog,
)

SCHEMA = StructType([
    StructField("k", LongType()),
    StructField("v", StringType()),
    StructField("__seq", LongType()),
    StructField("__deleted", BooleanType()),
])


def _batch(spark, n, start=0, seq0=1):
    rows = [(seq0 + i, "U", start + i, f"v{seq0 + i}") for i in range(n)]
    return spark.createDataFrame(rows, "seq long, op string, k long, v string")


def _mk(spark, root, n_buckets=4):
    return LakeTable.create(spark, root, SCHEMA, ["k"], n_buckets=n_buckets)


def test_policy_parsing_rejects_typos():
    assert parse_policy({}) == {}
    p = parse_policy({"maintain.compact_delta_ratio": "0.25",
                      "maintain.expire_keep_last": "2",
                      "maintain.vacuum": "true",
                      "maintain.rescale_bytes_per_bucket": "1024",
                      "owner": "team-data"})  # non-maintain keys ignored
    assert p == {"compact_delta_ratio": 0.25, "expire_keep_last": 2,
                 "vacuum": True, "rescale_bytes_per_bucket": 1024}
    with pytest.raises(ValueError, match="unknown maintenance policy"):
        parse_policy({"maintain.expire_keeplast": "2"})  # typo must raise


def test_maintain_table_actions_and_idempotence(spark, tmp_table_dir):
    d = tmp_table_dir
    t = _mk(spark, d + "/t")
    merge_lww(t, _batch(spark, 40), ["k"])
    merge_lww_mor(t, _batch(spark, 40, seq0=100), ["k"])  # deltas pending

    policy = {"compact_delta_ratio": 0.25, "expire_keep_last": 1,
              "vacuum": True}
    a1 = maintain_table(spark, d + "/t", policy)
    assert "compacted" in a1 and a1["snapshots_expired"]
    assert a1["files_removed"] > 0
    t2 = LakeTable(spark, d + "/t")
    assert int(t2.snapshot().properties.get("mor_deltas", 0)) == 0
    assert read_current(t2).count() == 40

    # a healthy table is a no-op
    assert maintain_table(spark, d + "/t", policy) == {}


def test_maintain_rescale_policy(spark, tmp_table_dir):
    d = tmp_table_dir
    t = _mk(spark, d + "/t", n_buckets=2)
    merge_lww(t, _batch(spark, 500), ["k"])
    a = maintain_table(spark, d + "/t",
                       {"rescale_bytes_per_bucket": 1024})
    got = a["rescaled"]["n_buckets"]
    assert got > 2 and got % 2 == 0
    assert LakeTable(spark, d + "/t").snapshot().n_buckets == got


def test_cli_sweep_three_tables_with_distinct_policies_and_resume(
        spark, tmp_table_dir, capsys, monkeypatch):
    d = tmp_table_dir
    cat = Catalog(d + "/cat")
    # t1: compaction policy (has pending deltas)
    t1 = _mk(spark, d + "/t1")
    merge_lww(t1, _batch(spark, 30), ["k"])
    merge_lww_mor(t1, _batch(spark, 30, seq0=50), ["k"])
    cat.register("t1", d + "/t1",
                 properties={"maintain.compact_delta_ratio": "0.1"})
    # t2: retention policy (several snapshots to expire + vacuum)
    t2 = _mk(spark, d + "/t2")
    for i in range(3):
        merge_lww(t2, _batch(spark, 20, seq0=1 + 20 * i), ["k"])
    cat.register("t2", d + "/t2",
                 properties={"maintain.expire_keep_last": "1",
                             "maintain.vacuum": "true"})
    # t3: no policy — must be reported skipped, never touched
    t3 = _mk(spark, d + "/t3")
    merge_lww(t3, _batch(spark, 10), ["k"])
    cat.register("t3", d + "/t3")

    # crash mid-sweep: t1 completes, t2 blows up
    import gobblin_spark.maintenance as M

    real = M.maintain_table
    calls = []

    def flaky(spark_, root, policy, fs=None):
        calls.append(root)
        if root.endswith("/t2"):
            raise RuntimeError("crash mid-sweep")
        return real(spark_, root, policy, fs=fs)

    monkeypatch.setattr(M, "maintain_table", flaky)
    with pytest.raises(RuntimeError):
        sweep_catalog(spark, d + "/cat", sweep_id="s1")
    monkeypatch.setattr(M, "maintain_table", real)

    # resume with the SAME sweep id via the CLI: t1 skipped (marker), t2
    # and t3 handled
    assert cli_main(["maintain", "--catalog", d + "/cat",
                     "--sweep-id", "s1"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["t1"] == {"skipped": "already swept"}
    assert rep["tables"]["t2"]["actions"]["snapshots_expired"]
    assert rep["tables"]["t2"]["actions"]["files_removed"] > 0
    assert rep["tables"]["t3"] == {"skipped": "no maintain.* policy"}

    # outcomes: t1 folded (from the pre-crash leg), t2 down to 1 snapshot,
    # t3 untouched
    assert int(LakeTable(spark, d + "/t1").snapshot()
               .properties.get("mor_deltas", 0)) == 0
    assert len(LakeTable(spark, d + "/t2").history()) == 1
    assert len(LakeTable(spark, d + "/t3").history()) == 2
    assert read_current(LakeTable(spark, d + "/t2")).count() == 20

    # a fresh sweep id re-evaluates everything; healthy tables are no-ops
    rep2 = sweep_catalog(spark, d + "/cat", sweep_id="s2")
    assert rep2["tables"]["t1"]["actions"] == {}
    assert rep2["tables"]["t2"]["actions"] == {}


def test_sweep_isolates_a_failing_table(spark, tmp_table_dir, capsys):
    """Table 2 of 3 is broken (its current manifest is unreadable): its
    error lands in the report, tables 1 and 3 are still compacted,
    expired and vacuumed, and the CLI exits non-zero."""
    d = tmp_table_dir
    cat = Catalog(d + "/cat")
    policy = {"maintain.compact_delta_ratio": "0.1",
              "maintain.expire_keep_last": "1", "maintain.vacuum": "true"}
    for name in ("t1", "t2", "t3"):
        t = _mk(spark, f"{d}/{name}")
        merge_lww(t, _batch(spark, 30), ["k"])
        merge_lww_mor(t, _batch(spark, 30, seq0=50), ["k"])
        cat.register(name, f"{d}/{name}", properties=policy)
    broken = LakeTable(spark, d + "/t2")
    with open(broken._manifest_path(broken.current_version()), "w") as fh:
        fh.write("{not json")

    assert cli_main(["maintain", "--catalog", d + "/cat"]) == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["t2"]["error"].startswith("JSONDecodeError")
    for name in ("t1", "t3"):
        actions = rep["tables"][name]["actions"]
        assert set(actions) == {"compacted", "snapshots_expired",
                                "files_removed"}
        t = LakeTable(spark, f"{d}/{name}")
        assert int(t.snapshot().properties.get("mor_deltas", 0)) == 0
        assert len(t.history()) == 1
        assert read_current(t).count() == 30

    # the library call reports the same way
    with pytest.raises(SweepFailed, match="t2") as err:
        sweep_catalog(spark, d + "/cat")
    assert set(err.value.report["tables"]) == {"t1", "t2", "t3"}
    assert "error" in err.value.report["tables"]["t2"]
