"""The 'cell' merge dialect: patch semantics with per-column write seqs
(Cassandra-style cell timestamps) + retained max delete seq, making the
stored fold associative/commutative — correct under ANY fold order, which is
what streaming epochs and non-monotone replays need and what a fold that
attributes every column to the row max seq cannot give.

Covers the two corruption modes the dialect closes, engine e2e convergence
(COW + MOR + compaction + restart), explicitly out-of-order COW batches,
out-of-order STREAMING epochs, schema-evolution rename of cell map keys,
and changelog detection of late low-seq cell updates."""

from __future__ import annotations

import os

import pytest

from gobblin_spark.engine import CdcEngine
from gobblin_spark.lakehouse import LakeTable, merge_lww
from gobblin_spark.lakehouse.merge import (
    batch_to_stored,
    cell_reduce_stored,
    compact,
    merge_lww_mor,
    point_lookup,
    read_current,
    table_changes,
)

from tests.test_patch_dialect import EVENT_SCHEMA, patch_oracle, patch_stream

COLS = ["k", "a", "b", "c"]
SCHEMA = "k string, a string, b string, c string, seq long, op string"


def ev(k, seq, op="U", a=None, b=None, c=None):
    return (k, a, b, c, seq, op)


def fold(df, keys=("k",)):
    return cell_reduce_stored(df, list(keys))


def stored(spark, rows, dialect="cell"):
    return batch_to_stored(
        spark.createDataFrame(rows, SCHEMA), COLS, "seq", "op", dialect)


def test_cell_fold_closes_both_column_dialect_corruptions(spark):
    """The two corruptions a fold with one seq per row suffers when folds
    happen out of seq order: (1) stale-cell win: after folding a@3 + b@5
    into one row, a late a@4 must still win a's race (a row-seq fold
    attributes a to seq 5 and keeps the stale value). (2) tombstone loss:
    after a fold where b@7 supersedes D@4, a late pre-delete c@3 must NOT
    resurface (a row-seq fold drops the delete entirely)."""
    early = [ev("k1", 3, a="stale"), ev("k1", 5, b="B5"),
             ev("k2", 2, c="pre"), ev("k2", 4, op="D"), ev("k2", 7, b="B7")]
    late = [ev("k1", 4, a="fresh"), ev("k2", 3, c="PRE2")]

    f = fold(fold(stored(spark, early)).unionByName(stored(spark, late)))
    got = {r["k"]: (r["a"], r["b"], r["c"], r["__del_seq"])
           for r in f.collect()}
    assert got["k1"] == ("fresh", "B5", None, None)
    assert got["k2"] == (None, "B7", None, 4)  # c dead, delete seq retained


def test_cell_fold_associative_any_split(spark):
    """fold(fold(A), B) == fold(A ∪ B) == fold(fold(B), A) for a stream
    with interleaved patches, deletes and rebuilds."""
    rows = [ev("x", 1, a="a1"), ev("x", 4, b="b4"), ev("x", 2, op="D"),
            ev("x", 3, c="c3"), ev("y", 5, a="ya"), ev("y", 6, op="D"),
            ev("z", 7, a="za"), ev("z", 8, a="za2", b="zb")]

    def key(df):
        return {r["k"]: (r["a"], r["b"], r["c"], r["__seq"], r["__deleted"])
                for r in df.collect()}

    whole = key(fold(stored(spark, rows)))
    for split in (3, 5):
        a, b = rows[:split], rows[split:]
        ab = key(fold(fold(stored(spark, a)).unionByName(stored(spark, b))))
        ba = key(fold(fold(stored(spark, b)).unionByName(stored(spark, a))))
        assert ab == whole and ba == whole


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_cell_dialect_engine_convergence(spark, tmp_table_dir, merge_mode):
    """Full engine loop on the adversarial patch stream agrees with the
    pure-Python oracle; restart rediscovers the dialect from the table
    property."""
    rows = patch_stream()
    events = spark.createDataFrame(rows, EVENT_SCHEMA)
    want = patch_oracle(rows)
    root = os.path.join(tmp_table_dir, merge_mode)

    eng = CdcEngine(
        spark, events,
        table_root=os.path.join(root, "table"),
        state_root=os.path.join(root, "state"),
        max_records_per_batch=25, n_buckets=4,
        merge_mode=merge_mode, merge_dialect="cell", compact_every=2,
    )
    eng.run_batch()
    # restart with default dialect arg: table property must win
    eng = CdcEngine(
        spark, events,
        table_root=os.path.join(root, "table"),
        state_root=os.path.join(root, "state"),
        max_records_per_batch=25, n_buckets=4,
        merge_mode=merge_mode, compact_every=2,
    )
    assert eng.table.snapshot().merge_dialect == "cell"
    eng.run_until_caught_up()

    got = {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
           for r in read_current(eng.table).collect()}
    assert got == want
    # visible columns: system cells never leak to readers
    assert "__cells" not in read_current(eng.table).columns

    row = point_lookup(eng.table,
                       {"repo": "repo_0", "path": "src/f0.txt"}).collect()
    assert len(row) == 1 and (row[0]["commit"], row[0]["lang"]) == ("c0_3", "rs")


def test_cell_cow_out_of_order_batches(spark, tmp_table_dir):
    """Direct COW merges applied in REVERSED seq order — a replay the
    engine's monotone batch admission never produces — still converge to
    the full-replay oracle."""
    rows = patch_stream()
    want = patch_oracle(rows)
    from gobblin_spark.engine import default_registry, target_schema_for

    table = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "table"),
        target_schema_for(default_registry(), 1, "cell"),
        ["repo", "path"], n_buckets=4,
        properties={"merge_dialect": "cell"}, key_cols=["repo", "path"])
    events = spark.createDataFrame(rows, EVENT_SCHEMA)
    chunks = [events.filter(f"seq % 3 = {i}") for i in (2, 0, 1)]
    for ch in chunks:  # non-monotone: each chunk spans the whole seq range
        merge_lww(table, ch.drop("event_group", "schema_version",
                                 "version", "size_bytes"),
                  ["repo", "path"], seq_col="seq", op_col="op")
    got = {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
           for r in read_current(table).collect()}
    assert got == want

    # duplicate re-delivery of a whole chunk is a no-op on visible state
    merge_lww(table, chunks[0].drop("event_group", "schema_version",
                                    "version", "size_bytes"),
              ["repo", "path"], seq_col="seq", op_col="op")
    again = {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
             for r in read_current(table).collect()}
    assert again == want


def test_cell_mor_compaction_mid_disorder(spark, tmp_table_dir):
    """MOR deltas land out of order, compaction folds MID-stream, more late
    (lower-seq) deltas land after the fold — state still converges and the
    compacted table keeps one row per key."""
    rows = patch_stream()
    want = patch_oracle(rows)
    from gobblin_spark.engine import default_registry, target_schema_for

    table = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "table"),
        target_schema_for(default_registry(), 1, "cell"),
        ["repo", "path"], n_buckets=4,
        properties={"merge_dialect": "cell"}, key_cols=["repo", "path"])
    events = spark.createDataFrame(rows, EVENT_SCHEMA).drop(
        "event_group", "schema_version", "version", "size_bytes")
    hi = events.filter("seq % 2 = 1")   # later half first
    lo = events.filter("seq % 2 = 0")
    merge_lww_mor(table, hi, ["repo", "path"], seq_col="seq", op_col="op")
    compact(table)                       # fold BEFORE the low seqs arrive
    merge_lww_mor(table, lo, ["repo", "path"], seq_col="seq", op_col="op")
    got = {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
           for r in read_current(table).collect()}
    assert got == want
    compact(table)
    stored_rows = table.read()
    assert stored_rows.count() == (
        stored_rows.select("repo", "path").distinct().count())
    got2 = {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
            for r in read_current(table).collect()}
    assert got2 == want


def test_streaming_cell_dialect_out_of_order_epochs(spark, tmp_table_dir):
    """Streaming ingest with merge_dialect='cell': epoch 1 drains the LATE
    half of the stream, epoch 2 (separate drain, same checkpoint) the EARLY
    half — cross-epoch disorder. Final state equals the full-replay
    oracle."""
    from gobblin_spark.streaming.ingest import stream_ingest

    rows = patch_stream()
    want = patch_oracle(rows)
    ev_dir = os.path.join(tmp_table_dir, "ev")
    table_root = os.path.join(tmp_table_dir, "table")
    state_root = os.path.join(tmp_table_dir, "state")
    ckpt = os.path.join(tmp_table_dir, "ckpt")
    events = spark.createDataFrame(rows, EVENT_SCHEMA)

    events.filter("seq % 2 = 1").coalesce(1).write.parquet(
        ev_dir, mode="append")
    q = stream_ingest(spark, ev_dir, table_root, state_root, ckpt,
                      n_buckets=4, merge_dialect="cell")
    q.awaitTermination()

    events.filter("seq % 2 = 0").coalesce(1).write.parquet(
        ev_dir, mode="append")
    q = stream_ingest(spark, ev_dir, table_root, state_root, ckpt,
                      n_buckets=4, merge_dialect="cell")
    q.awaitTermination()

    table = LakeTable(spark, table_root)
    assert table.snapshot().merge_dialect == "cell"
    got = {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
           for r in read_current(table).collect()}
    assert got == want


def test_cell_map_keys_follow_column_renames(spark, tmp_table_dir):
    """Schema evolution renames a column; cells were written under the OLD
    name. Read-time conformance must rewrite the map keys (transform_keys)
    or the renamed column loses its seq race to any later write."""
    from gobblin_spark.engine import default_registry, target_schema_for

    reg = default_registry()
    table = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "table"),
        target_schema_for(reg, 1, "cell"),
        ["repo", "path"], n_buckets=2,
        properties={"merge_dialect": "cell", "registry_version": 1},
        key_cols=["repo", "path"])
    mk = lambda seq, op, commit, lang, content: (
        seq, 0, op, "r", "p", commit, lang, content, 1, 0, None)
    v1 = spark.createDataFrame(
        [mk(5, "U", None, "python", None), mk(6, "U", "c6", None, None)],
        EVENT_SCHEMA).drop("event_group", "schema_version",
                           "version", "size_bytes")
    merge_lww(table, v1, ["repo", "path"], seq_col="seq", op_col="op")

    # evolve through the registry to v4 (renames lang -> language)
    from gobblin_spark.engine import evolve_target_to
    evolve_target_to(table, reg, 4)

    # late patch UNDER the new name with an OLDER seq than the folded row's
    # max: must lose to the v1-era lang cell (seq 5 > 3)
    late = spark.createDataFrame(
        [("r", "p", None, None, "go", None, None, 3, "U")],
        "repo string, path string, commit string, content string, "
        "language string, size_bytes long, version long, seq long, op string")
    merge_lww(table, late.select("repo", "path", "commit", "language",
                                 "content", "size_bytes", "seq", "op"),
              ["repo", "path"], seq_col="seq", op_col="op")
    row = read_current(table).collect()[0]
    assert row["language"] == "python"   # cell seq 5 beat the late seq 3
    assert row["commit"] == "c6"

    # and a NEWER patch under the new name wins
    newer = late.withColumn("seq", late.seq + 10).withColumn(
        "language", late.language)
    merge_lww(table, newer.select("repo", "path", "commit", "language",
                                  "content", "size_bytes", "seq", "op"),
              ["repo", "path"], seq_col="seq", op_col="op")
    assert read_current(table).collect()[0]["language"] == "go"


def test_cell_table_changes_sees_late_low_seq_update(spark, tmp_table_dir):
    """A late patch with seq BELOW the key's max seq changes a column
    without moving __seq — the changelog must still emit an update (cell
    identity = the cell map, not the row seq)."""
    from gobblin_spark.engine import default_registry, target_schema_for

    table = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "table"),
        target_schema_for(default_registry(), 1, "cell"),
        ["repo", "path"], n_buckets=2,
        properties={"merge_dialect": "cell"}, key_cols=["repo", "path"])
    base = spark.createDataFrame(
        [("r", "p", None, "py", None, None, None, 9, "U")],
        "repo string, path string, commit string, lang string, "
        "content string, size_bytes long, version long, seq long, op string"
    ).select("repo", "path", "commit", "lang", "content", "seq", "op")
    merge_lww(table, base, ["repo", "path"], seq_col="seq", op_col="op")
    v_before = table.current_version()

    late = spark.createDataFrame(
        [("r", "p", "c4", None, None, None, None, 4, "U")],
        "repo string, path string, commit string, lang string, "
        "content string, size_bytes long, version long, seq long, op string"
    ).select("repo", "path", "commit", "lang", "content", "seq", "op")
    merge_lww(table, late, ["repo", "path"], seq_col="seq", op_col="op")

    ch = table_changes(table, v_before).collect()
    assert len(ch) == 1 and ch[0]["_change_type"] == "update"
    assert ch[0]["commit"] == "c4" and ch[0]["lang"] == "py"
