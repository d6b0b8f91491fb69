"""Incremental changelog read (table_changes) + snapshot expiration.

table_changes is the CDC-consumer side of the engine: the row-level diff
between two committed snapshots (≙ Iceberg incremental 'changes' read; the
reference's consumers must re-read whole recompacted time partitions
instead, MRCompactor.java:147-157). Expected values are computed by an
independent pure-Python LWW replay of the same events.
"""

import contextlib

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from gobblin_spark.lakehouse import LakeTable, merge, merge_lww, pointread
from gobblin_spark.lakehouse.merge import (
    compact,
    merge_lww_mor,
    read_current,
    table_changes,
)

from tests.test_merge import (
    KEYS,
    TARGET_SCHEMA,
    data_events,
    make_events,
    new_table,
)

COLS = ["seq", "op", "repo", "path", "commit", "lang", "content"]
# typed, for batches whose payload columns may be all NULL
EVENTS = ("seq long, op string, repo string, path string, commit string, "
          "lang string, content string")


@contextlib.contextmanager
def local_bounds(**bounds):
    """table_changes with its driver-local size bounds
    (merge.LOCAL_CHANGES_MAX_ROWS, merge.LOCAL_CHANGES_MAX_SCAN_ROWS) set."""
    prev = {k: getattr(merge, k) for k in bounds}
    for k, v in bounds.items():
        setattr(merge, k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            setattr(merge, k, v)


def distributed(spark):
    """table_changes on its distributed plan: a bound of -1 rows disables
    the driver-local path."""
    return local_bounds(LOCAL_CHANGES_MAX_ROWS=-1)


def change_rows(t, v_from, v_to=None, **kw):
    """table_changes as a sorted list of plain tuples."""
    return sorted((tuple(r) for r in
                   table_changes(t, v_from, v_to, **kw).collect()), key=repr)


def both_paths(spark, t, v_from, v_to=None, **kw):
    """(local rows, distributed rows, jobs the local read launched)."""
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup())
    local = change_rows(t, v_from, v_to, **kw)
    jobs = len(tracker.getJobIdsForGroup()) - before
    with distributed(spark):
        dist = change_rows(t, v_from, v_to, **kw)
    return local, dist, jobs


def _py_lww(rows, max_seq=None):
    """Independent LWW replay: key -> (seq, deleted) with the engine's
    tie-break (seq, op-rank D>U>I)."""
    rank = {"D": 3, "U": 2, "I": 1}
    state = {}
    for r in rows:
        if max_seq is not None and r["seq"] > max_seq:
            continue
        k = (r["repo"], r["path"])
        cur = state.get(k)
        cand = (r["seq"], rank.get(r["op"], 0))
        if cur is None or cand > cur[0]:
            state[k] = (cand, r["op"] == "D")
    return {k: (v[0][0], v[1]) for k, v in state.items()}


def _py_diff(old, new):
    out = {}
    for k, (seq2, del2) in new.items():
        s1 = old.get(k)
        live1 = s1 is not None and not s1[1]
        if not del2 and not live1:
            out[k] = ("insert", seq2)
        elif not del2 and live1 and seq2 != s1[0]:
            out[k] = ("update", seq2)
        elif del2 and live1:
            out[k] = ("delete", seq2)
    for k, (seq1, del1) in old.items():
        if k not in new and not del1:
            out[k] = ("delete", seq1)
    return out


def test_table_changes_basic(spark, tmp_table_dir):
    t = new_table(spark, tmp_table_dir)
    b1 = spark.createDataFrame(
        [
            (1, "I", "r", "a", "c1", "py", "a1"),
            (2, "I", "r", "b", "c1", "py", "b1"),
            (3, "I", "r", "c", "c1", "py", "c1"),
        ],
        COLS,
    )
    merge_lww(t, b1, KEYS)
    v1 = t.current_version()
    b2 = spark.createDataFrame(
        [
            (10, "U", "r", "a", "c2", "py", "a2"),   # update
            (11, "D", "r", "b", None, None, None),   # delete
            (12, "I", "r", "d", "c2", "py", "d1"),   # insert
        ],
        COLS,
    )
    merge_lww(t, b2, KEYS)
    got = {
        (r["repo"], r["path"]): (r["_change_type"], r["__seq"], r["content"])
        for r in table_changes(t, v1).collect()
    }
    assert got == {
        ("r", "a"): ("update", 10, "a2"),
        ("r", "b"): ("delete", 11, "b1"),  # deleted-row image, tombstone seq
        ("r", "d"): ("insert", 12, "d1"),
    }
    # untouched key never appears
    assert ("r", "c") not in got
    # same-version diff is empty
    v2 = t.current_version()
    assert table_changes(t, v2, v2).count() == 0


def test_table_changes_matches_python_replay(spark, tmp_table_dir):
    ev = make_events(spark, 2500, dup_frac=0.1, delete_frac=0.12,
                     ooo_window=300)
    rows = data_events(ev).collect()
    w1 = max(r["seq"] for r in rows) // 2
    t = new_table(spark, tmp_table_dir)
    d = data_events(ev)
    merge_lww(t, d.filter(F.col("seq") <= w1), KEYS)
    v1 = t.current_version()
    merge_lww(t, d.filter(F.col("seq") > w1), KEYS)
    expected = _py_diff(_py_lww(rows, w1), _py_lww(rows))
    got = {
        (r["repo"], r["path"]): (r["_change_type"], r["__seq"])
        for r in table_changes(t, v1).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_table_changes_mor_matches_cow(spark, tmp_table_dir, tmp_path):
    """The diff is LWW-resolved, so outstanding MOR deltas on either end
    give the same answer as the COW path."""
    ev = make_events(spark, 1500, dup_frac=0.1, delete_frac=0.1,
                     ooo_window=200)
    rows = data_events(ev).collect()
    w1 = max(r["seq"] for r in rows) // 2
    d = data_events(ev)

    t = new_table(spark, str(tmp_path / "mor"))
    merge_lww_mor(t, d.filter(F.col("seq") <= w1), KEYS)
    v1 = t.current_version()
    merge_lww_mor(t, d.filter(F.col("seq") > w1), KEYS)  # deltas unfolded
    got = {
        (r["repo"], r["path"]): (r["_change_type"], r["__seq"])
        for r in table_changes(t, v1).collect()
    }
    assert got == _py_diff(_py_lww(rows, w1), _py_lww(rows))
    # compaction between the versions must not change the answer
    compact(t)
    got2 = {
        (r["repo"], r["path"]): (r["_change_type"], r["__seq"])
        for r in table_changes(t, v1).collect()
    }
    assert got2 == got


def test_table_changes_prunes_unchanged_buckets(spark, tmp_table_dir,
                                               monkeypatch):
    """Buckets with identical file sets at both versions are never read:
    the diff is O(changed buckets), not O(table) — on the driver-local
    path and on the distributed plan."""
    ev = make_events(spark, 2000)
    t = new_table(spark, tmp_table_dir)
    merge_lww(t, data_events(ev), KEYS)
    v1 = t.current_version()
    one_key = spark.createDataFrame(
        [(10_000_000, "U", "repo-0001", "src/f_0000.py", "cX", "py", "new")],
        COLS,
    )
    merge_lww(t, one_key, KEYS)
    total_files = len(t.snapshot().files)
    want = {("repo-0001", "src/f_0000.py")}

    # local path: every file the driver-side resolver opens
    local_files = set()
    real_rows = pointread.read_key_rows

    def spy_rows(table, files, keys, wanted):
        local_files.update(f.path for f in files)
        return real_rows(table, files, keys, wanted)

    monkeypatch.setattr(pointread, "read_key_rows", spy_rows)
    changes = table_changes(t, v1).collect()
    assert 0 < len(local_files) < total_files  # pruned
    assert {(r["repo"], r["path"]) for r in changes} == want

    # distributed plan: the file sets each side reads
    seen_files = []
    orig = t.read_file_set

    def spy(files, snap=None):
        seen_files.append(list(files))
        return orig(files, snap)

    t.read_file_set = spy
    with distributed(spark):
        changes = table_changes(t, v1).collect()
    t.read_file_set = orig

    read_files = max(len(fl) for fl in seen_files)
    assert read_files < total_files  # pruned
    assert {(r["repo"], r["path"]) for r in changes} == want


def test_table_changes_reports_new_payload_verbatim(spark, tmp_table_dir):
    """Insert and update rows carry the new row as stored: a column the
    new row holds as NULL is NULL, never a stale value from the old row or
    a tombstone. Delete rows keep their old-image fallback. Both paths."""
    t = new_table(spark, tmp_table_dir)
    merge_lww(t, spark.createDataFrame([
        (1, "I", "r", "a", "c1", "py", "old"),
        (2, "I", "r", "b", "c1", "py", "b1"),
        (3, "D", "r", "b", "c3", "py", "gone"),   # tombstone with payload
        (4, "I", "r", "c", "c1", "py", "c1"),
    ], EVENTS), KEYS)
    v1 = t.current_version()
    merge_lww(t, spark.createDataFrame([
        (10, "U", "r", "a", "c2", "py", None),    # content set to NULL
        (11, "I", "r", "b", "c4", None, None),    # re-insert after the D
        (12, "D", "r", "c", None, None, None),    # delete, empty tombstone
    ], EVENTS), KEYS)
    want = {
        ("r", "a"): ("c2", "py", None, 10, "update"),
        ("r", "b"): ("c4", None, None, 11, "insert"),
        ("r", "c"): ("c1", "py", "c1", 12, "delete"),
    }
    local, dist, _ = both_paths(spark, t, v1)
    assert {r[:2]: r[2:] for r in local} == want
    assert dist == local

    pre = {
        ("r", "a", "update_preimage"): ("c1", "py", "old", 1),
        ("r", "a", "update_postimage"): ("c2", "py", None, 10),
        ("r", "b", "insert"): ("c4", None, None, 11),
        ("r", "c", "delete"): ("c1", "py", "c1", 12),
    }
    local, dist, _ = both_paths(spark, t, v1, emit_preimages=True)
    assert {(*r[:2], r[-1]): r[2:-1] for r in local} == pre
    assert dist == local

    # 'cell': a delete and a partial re-insert inside the diff leave the
    # re-insert's NULL columns NULL (state before the delete is dead)
    from pyspark.sql.types import LongType, MapType, StringType, StructField

    cell = LakeTable.create(
        spark, tmp_table_dir + "/cell", T.StructType(
            list(TARGET_SCHEMA.fields)
            + [StructField("__cells", MapType(StringType(), LongType())),
               StructField("__del_seq", LongType())]),
        KEYS, n_buckets=4, properties={"merge_dialect": "cell"})
    merge_lww(cell, spark.createDataFrame(
        [(1, "I", "r", "a", "c1", "py", "x")], EVENTS), KEYS)
    c1 = cell.current_version()
    merge_lww(cell, spark.createDataFrame([
        (5, "D", "r", "a", None, None, None),
        (6, "I", "r", "a", "c6", None, None),
    ], EVENTS), KEYS)
    for kw in ({}, {"emit_preimages": True}):
        local, dist, _ = both_paths(spark, cell, c1, **kw)
        assert local[-1][:5] == ("r", "a", "c6", None, None)
        assert dist == local


def test_table_changes_small_diff_launches_no_job(spark, tmp_table_dir):
    """A small diff resolves on the driver and reaches Spark as a local
    relation: building and collecting it launches no Spark job."""
    ev = make_events(spark, 1500, dup_frac=0.1, delete_frac=0.1,
                     ooo_window=200)
    d = data_events(ev)
    w1 = d.agg(F.max("seq")).first()[0] // 2
    t = new_table(spark, tmp_table_dir)
    merge_lww(t, d.filter(F.col("seq") <= w1), KEYS)
    v1 = t.current_version()
    merge_lww_mor(t, d.filter(F.col("seq") > w1), KEYS)
    for pre in (False, True):
        local, dist, jobs = both_paths(spark, t, v1, emit_preimages=pre)
        assert jobs == 0, f"table_changes launched {jobs} Spark jobs"
        assert local and local == dist
    # the base files' key scan above its bound: the distributed plan
    # answers, with the same rows
    tracker = spark.sparkContext.statusTracker()
    local = change_rows(t, v1)
    before = len(tracker.getJobIdsForGroup())
    with local_bounds(LOCAL_CHANGES_MAX_SCAN_ROWS=0):
        assert change_rows(t, v1) == local
    assert len(tracker.getJobIdsForGroup()) > before


def test_table_changes_fallbacks_take_distributed_path(spark, tmp_table_dir):
    """Schema drift among the candidate files and a diff above the size
    bound are answered by the distributed plan, with the same rows."""
    seen = []
    t = new_table(spark, tmp_table_dir + "/t")
    orig = t.read_file_set

    def spy(files, snap=None):
        seen.append(len(files))
        return orig(files, snap)

    t.read_file_set = spy
    merge_lww(t, spark.createDataFrame([
        (1, "I", "r", "a", "c1", "py", "a1"),
        (2, "I", "r", "b", "c1", "py", "b1"),
    ], COLS), KEYS)
    v1 = t.current_version()
    merge_lww(t, spark.createDataFrame([
        (3, "U", "r", "a", "c2", "py", "a2"),
        (4, "I", "r", "c", "c1", "py", "c1"),
    ], COLS), KEYS)
    v2 = t.current_version()

    # oversize: a positive gate below the rows of the diff's files (at
    # least the old and the new file holding key a)
    seen.clear()
    local = change_rows(t, v1, v2)
    assert not seen  # the driver-local path answered
    with local_bounds(LOCAL_CHANGES_MAX_ROWS=1):
        assert change_rows(t, v1, v2) == local
    assert seen  # the distributed plan answered
    assert [r[-1] for r in local] == ["update", "insert"]

    # schema drift: a column added after v2, then a write at the new
    # schema version; v2's files are at the old one
    snap = t.snapshot()
    t.commit(
        keep_files=snap.files, add_files=[],
        schema=T.StructType(list(snap.schema.fields)
                            + [T.StructField("stars", T.LongType())]),
        schema_version=snap.schema_version + 1,
        schema_log_append=[{"v": snap.schema_version + 1, "op": "add",
                            "col": "stars"}],
        expected_version=snap.version)
    merge_lww(t, spark.createDataFrame(
        [(5, "U", "r", "b", "c2", "py", "b2", 7)],
        COLS + ["stars"]), KEYS)
    seen.clear()
    rows = change_rows(t, v2)
    assert seen
    assert rows == [("r", "b", "c2", "py", "b2", 7, 5, "update")]


def test_table_changes_bad_range(spark, tmp_table_dir):
    t = new_table(spark, tmp_table_dir)
    b = spark.createDataFrame([(1, "I", "r", "a", "c", "py", "x")], COLS)
    merge_lww(t, b, KEYS)
    with pytest.raises(ValueError):
        table_changes(t, t.current_version(), t.current_version() - 1)
    with pytest.raises(FileNotFoundError):
        table_changes(t, t.current_version() + 5)


def test_expire_snapshots_reclaims_storage(spark, tmp_table_dir):
    ev = make_events(spark, 1500, delete_frac=0.1)
    rows = data_events(ev).collect()
    smax = max(r["seq"] for r in rows)
    t = new_table(spark, tmp_table_dir)
    d = data_events(ev)
    for lo, hi in [(0, smax // 3), (smax // 3, 2 * smax // 3),
                   (2 * smax // 3, smax)]:
        merge_lww(t, d.filter((F.col("seq") > lo) & (F.col("seq") <= hi)),
                  KEYS)
    before = sorted(read_current(t).collect())
    versions = t.versions()
    assert len(versions) == 4  # create + 3 merges

    # nothing reclaimable while every snapshot is retained
    assert t.vacuum() == 0

    expired = t.expire_snapshots(keep_last=2)
    assert expired == versions[:-2]
    assert t.versions() == versions[-2:]
    with pytest.raises(FileNotFoundError):
        t.snapshot(expired[-1])
    reclaimed = t.vacuum()
    assert reclaimed > 0  # pre-image files of the COW rewrites

    # visible state and retained time travel are untouched
    assert sorted(read_current(t).collect()) == before
    assert t.read(version=versions[-2]).count() > 0
    # current state still matches the replay
    expect = {k for k, (s, dele) in _py_lww(rows).items() if not dele}
    got = {(r["repo"], r["path"]) for r in read_current(t).collect()}
    assert got == expect


def test_expire_snapshots_older_than(spark, tmp_table_dir):
    t = new_table(spark, tmp_table_dir)
    b = spark.createDataFrame([(1, "I", "r", "a", "c", "py", "x")], COLS)
    merge_lww(t, b, KEYS)
    # nothing is old enough
    assert t.expire_snapshots(keep_last=1, older_than_ms=0) == []
    # everything but the keep_last window
    far_future = 1 << 62
    assert t.expire_snapshots(keep_last=1, older_than_ms=far_future) == [1]
    assert t.versions() == [2]
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)


def test_rollback_restores_state_and_preserves_history(spark, tmp_table_dir):
    """rollback(v) = Iceberg rollback_to_snapshot: a NEW metadata-only
    commit replicating v's file set + schema; reads equal time travel to v,
    in-between versions stay readable, vacuum keeps the restored files, and
    subsequent merges proceed from the rolled-back state."""
    t = new_table(spark, tmp_table_dir)
    b1 = spark.createDataFrame(
        [
            (1, "I", "r", "a", "c1", "py", "a1"),
            (2, "I", "r", "b", "c1", "py", "b1"),
        ],
        COLS,
    )
    merge_lww(t, b1, KEYS)
    v_good = t.current_version()
    want = {(r["repo"], r["path"], r["content"])
            for r in read_current(t).collect()}

    # a bad batch lands (update + delete) — then roll it back
    b2 = spark.createDataFrame(
        [
            (10, "U", "r", "a", "c2", "py", "a2"),
            (11, "D", "r", "b", None, None, None),
        ],
        COLS,
    )
    merge_lww(t, b2, KEYS)
    v_bad = t.current_version()

    snap = t.rollback(v_good)
    assert snap.version == v_bad + 1
    assert snap.properties["rollback_to"] == v_good
    assert snap.properties["rollback_from"] == v_bad
    got = {(r["repo"], r["path"], r["content"])
           for r in read_current(t).collect()}
    assert got == want
    # the undone version remains time-travelable until expired
    assert ("r", "a", "a2") in {
        (r["repo"], r["path"], r["content"])
        for r in read_current(t, version=v_bad).collect()}
    # vacuum must not reclaim the restored files
    assert t.vacuum() == 0
    assert {(r["repo"], r["path"], r["content"])
            for r in read_current(t).collect()} == want

    # rollback to the current version is a no-op
    assert t.rollback(t.current_version()).version == t.current_version()

    # the table keeps working: a new merge on top of the rolled-back state
    b3 = spark.createDataFrame(
        [(20, "U", "r", "b", "c3", "py", "b3")], COLS)
    merge_lww(t, b3, KEYS)
    got = {(r["repo"], r["path"], r["content"])
           for r in read_current(t).collect()}
    assert got == {("r", "a", "a1"), ("r", "b", "b3")}


def test_rollback_across_schema_evolution(spark, tmp_table_dir):
    """Rolling back past a schema change restores the OLD schema (files and
    schema_log travel together), and rolling forward again re-reads the
    evolved snapshot correctly."""
    t = new_table(spark, tmp_table_dir)
    b1 = spark.createDataFrame(
        [(1, "I", "r", "a", "c1", "py", "a1")], COLS)
    merge_lww(t, b1, KEYS)
    v1 = t.current_version()
    old_cols = set(read_current(t).columns)

    # evolve: add a column via a commit with schema_log_append
    import pyspark.sql.types as T
    snap = t.snapshot()
    new_schema = T.StructType(
        list(snap.schema.fields)
        + [T.StructField("stars", T.LongType(), True)])
    t.commit(
        keep_files=snap.files, add_files=[], schema=new_schema,
        schema_version=snap.schema_version + 1,
        schema_log_append=[{"v": snap.schema_version + 1, "op": "add",
                            "col": "stars"}],
        expected_version=snap.version,
    )
    assert "stars" in read_current(t).columns
    v_evolved = t.current_version()

    t.rollback(v1)
    assert set(read_current(t).columns) == old_cols
    # forward again to the evolved snapshot
    t.rollback(v_evolved)
    assert "stars" in read_current(t).columns
