"""Last-writer-wins MERGE apply into a LakeTable (copy-on-write).

Semantics (the one relational heavy-hitter the reference lacks natively and
approximates via MR compaction): per key, the event with the greatest ``seq``
wins — reference: gobblin-compaction/src/main/java/gobblin/compaction/mapreduce/avro/AvroKeyDedupReducer.java:52-55
(keep-last per key), key selection ≙ MRCompactorAvroKeyDedupJobRunner.java:80
(primary-key annotated fields).

Correctness under out-of-order + duplicate delivery ACROSS batches: deletes
are kept as **tombstone rows** (``__deleted = true``) carrying their seq, so
a late update with a smaller seq than an already-applied delete loses the LWW
comparison instead of resurrecting the row. Tombstones are garbage-collected
once the low watermark passes the out-of-order horizon (``gc_tombstones``) —
the reference's analog is late-data recompaction
(gobblin-compaction/.../mapreduce/MRCompactor.java:147-157).

Physical plan (designed for 100 TB):
  1. bucket pruning — only table buckets containing batch keys are read and
     rewritten (k/B of the table for k affected buckets); the bucket set is
     a distinct over a hash expression on the raw batch (no reduce needed).
  2. union(target-subset, normalized batch) → ONE LWW reduce by key.
     No join: a union + aggregate has strictly less shuffle than an outer
     join and the same result. No separate in-batch pre-reduce either:
     max_by is a declarative aggregate, so Spark's partial (map-side)
     aggregation already collapses duplicate keys before the single
     shuffle — a pre-reduce would just add a second shuffle of the batch.
     Optional explicit two-stage salting for flagged hot keys.
  3. atomic snapshot commit (kept files + new files).

Idempotent: re-applying the same batch yields byte-identical visible state
(max-seq is order- and duplicate-insensitive), which is what makes crash
recovery a blind re-run (≙ CommitStep.verify()/execute(),
gobblin-core/src/main/java/gobblin/commit/FsRenameCommitStep.java:38,135).
"""

from __future__ import annotations

from collections import Counter
from typing import Any, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType, LongType, MapType, StringType, StructField, StructType,
)
from pyspark.sql.window import Window

from gobblin_spark.lakehouse.predicate import Predicate, bind
from gobblin_spark.lakehouse.table import (
    ConcurrentCommitError,
    LakeTable,
    Snapshot,
    file_spec_n,
    local_frame,
    mapped_buckets,
)

# System columns stored in the target table.
SEQ_COL = "__seq"
DELETED_COL = "__deleted"
# Cell-dialect extras: per-column write seqs + retained max delete seq.
CELLS_COL = "__cells"
DELSEQ_COL = "__del_seq"
META_COLS = (SEQ_COL, DELETED_COL, CELLS_COL, DELSEQ_COL)


def stored_schema(payload: StructType, dialect: str) -> StructType:
    """The stored row shape: payload columns plus the dialect's system
    columns (``__seq``, ``__deleted``; 'cell' adds ``__cells`` and
    ``__del_seq``)."""
    fields = list(payload.fields) + [StructField(SEQ_COL, LongType()),
                                     StructField(DELETED_COL, BooleanType())]
    if dialect == "cell":
        fields += [StructField(CELLS_COL, MapType(StringType(), LongType())),
                   StructField(DELSEQ_COL, LongType())]
    return StructType(fields)


def lww_reduce(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    salt_buckets: int = 0,
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """Per key, keep the row with max ``seq`` (deterministic tie: row wins by
    (seq, op-rank) so a delete beats a same-seq upsert — duplicates of the
    same event are byte-identical so ties are content-neutral anyway).

    salt_buckets>0 enables an explicit two-stage reduce: stage 1 groups by
    (key, salt) — spreading one hot key over ``salt_buckets`` reducers —
    stage 2 merges the per-salt winners. With ``hot_keys`` given (a DataFrame
    of key columns), only flagged keys take the salted path; the rest use the
    single-stage reduce (skew fix without doubling shuffle for cold keys).
    ≙ the reference's bi-level packing tradeoff
    (gobblin-core/.../packer/KafkaBiLevelWorkUnitPacker.java:42-47).
    """
    # op-rank breaks exact seq ties deterministically (D > U > I > S); after
    # normalization the delete bit lives in __deleted instead of op.
    # SQL strings, one F.expr each: per-operator Column construction is
    # py4j round-trips — serial driver cost on every batch (see
    # Planner.batch_predicate).
    cols = df.columns
    payload_sql = "struct(" + ", ".join(f"`{c}`" for c in cols) + ")"
    if "op" in cols:
        rank_sql = ("CASE WHEN op = 'D' THEN 3 WHEN op = 'U' THEN 2"
                    " WHEN op = 'I' THEN 1 ELSE 0 END")
    elif DELETED_COL in cols:
        rank_sql = f"CASE WHEN `{DELETED_COL}` THEN 3 ELSE 2 END"
    else:
        rank_sql = "0"
    order_sql = f"struct(`{seq_col}` AS s, {rank_sql} AS r)"

    if salt_buckets <= 0:
        return (
            df.groupBy(*keys)
            .agg(F.expr(f"max_by({payload_sql}, {order_sql}) AS __w"))
            .select("__w.*")
        )
    payload = F.expr(payload_sql)
    order = F.expr(order_sql)

    if hot_keys is not None:
        flagged = df.join(F.broadcast(hot_keys.select(*keys).distinct()),
                          on=list(keys), how="leftsemi")
        cold = df.join(F.broadcast(hot_keys.select(*keys).distinct()),
                       on=list(keys), how="leftanti")
        hot_reduced = _two_stage(flagged, keys, payload, order, salt_buckets)
        cold_reduced = (
            cold.groupBy(*keys)
            .agg(F.max_by(payload, order).alias("__w"))
            .select("__w.*")
        )
        # A key can only be in one side, so union needs no final reduce.
        return hot_reduced.unionByName(cold_reduced)
    return _two_stage(df, keys, payload, order, salt_buckets)


def lww_patch_reduce(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    payload_cols: Sequence[str] | None = None,
    op_col: str = "op",
) -> DataFrame:
    """Partial-update (patch) CDC merge: per key, each payload column takes
    its LATEST NON-NULL value by seq — a null column in an update means
    "unchanged", not "set to null" (Debezium/Mongo patch semantics; the
    reference's row-level LWW in AvroKeyDedupReducer has no per-column
    variant — this is the column-granular generalization a patch stream
    needs). A delete clears ALL state: columns from before the key's last
    'D' never resurface, and a key whose last event is the delete vanishes.

    Plan shape: one window (last-delete seq per key) followed by a groupBy
    on the SAME keys — Catalyst reuses the window's hash partitioning for
    the aggregate, so the whole reduce costs a single shuffle; max_by's
    ordering expression is null for rows where the column is null, which
    excludes them from that column's race without a per-column filter pass.
    """
    payload_cols = [c for c in (payload_cols or df.columns)
                    if c not in (*keys, seq_col, op_col)]
    w = Window.partitionBy(*keys)
    last_del = F.max(
        F.when(F.col(op_col) == "D", F.col(seq_col))).over(w)
    live = (
        df.withColumn("__last_del", last_del)
        .filter((F.col(op_col) != "D")
                & (F.col(seq_col) > F.coalesce(F.col("__last_del"),
                                               F.lit(-(1 << 62)))))
    )
    aggs = [F.max(seq_col).alias(seq_col)] + [
        F.max_by(F.col(c),
                 F.when(F.col(c).isNotNull(), F.col(seq_col))).alias(c)
        for c in payload_cols
    ]
    return live.groupBy(*keys).agg(*aggs)


def batch_to_stored(
    batch: DataFrame,
    payload_cols: Sequence[str],
    seq_col: str,
    op_col: str,
    dialect: str,
) -> DataFrame:
    """Normalize a raw change-event batch (payload + seq + op) to the stored
    row shape of a target table: delete → tombstone row, and for the 'cell'
    dialect additionally ``__cells`` (payload column → the seq that wrote it,
    only for columns this event actually set) and ``__del_seq`` (the seq of a
    delete event, else null)."""
    exprs = [f"`{c}`" for c in payload_cols] + [
        f"CAST(`{seq_col}` AS BIGINT) AS `{SEQ_COL}`",
        f"(`{op_col}` = 'D') AS `{DELETED_COL}`",
    ]
    if dialect == "cell":
        pairs = ", ".join(
            f"'{c}', IF(`{op_col}` <> 'D' AND `{c}` IS NOT NULL, "
            f"CAST(`{seq_col}` AS BIGINT), CAST(NULL AS BIGINT))"
            for c in payload_cols
        )
        cells = (f"map_filter(map({pairs}), (k, v) -> v IS NOT NULL)"
                 if pairs else "CAST(map() AS MAP<STRING, BIGINT>)")
        exprs.append(f"{cells} AS `{CELLS_COL}`")
        exprs.append(
            f"IF(`{op_col}` = 'D', CAST(`{seq_col}` AS BIGINT), "
            f"CAST(NULL AS BIGINT)) AS `{DELSEQ_COL}`")
    return batch.selectExpr(*exprs)


def cell_reduce_stored(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Patch resolution over the CELL-dialect stored shape (payload +
    ``__seq`` + ``__deleted`` + ``__cells`` map<col,seq> + ``__del_seq``):
    one output row per key.

    A folded row stands for many events, so its ``__seq`` (the max) says
    nothing about when each surviving column was written. The fold
    therefore carries each column's ORIGINAL write seq in the ``__cells``
    map, and the maximum delete seq in ``__del_seq`` even when the key is
    live (Cassandra-style cell timestamps + tombstone retention). That
    makes the fold **associative and commutative**: fold(fold(A), B) =
    fold(A ∪ B) for any split and any arrival order, so COW merges,
    compaction and STREAMING epochs may fold in any order:

    - a late a@4 after a@3 and b@7 were folded still wins a's race: a's
      cell seq stays 3, not the row's 7;
    - a late pre-delete c@3 after D@4 was superseded by b@7 stays dead:
      ``__del_seq`` = 4 is retained on the live row and kills any cell
      ≤ 4.

    Per-column race: latest cell by cell seq, cells ≤ the key's max delete
    seq excluded. Key liveness: any non-tombstone row with ``__seq`` greater
    than the max delete seq (an all-null patch still counts, mirroring
    ``lww_patch_reduce``). Plan shape: one window (max delete seq per key) +
    one aggregate on the same keys reusing the window's partitioning — a
    single shuffle, same as ``lww_reduce``. Retained ``__del_seq``
    on live keys costs 8 bytes/key and is nulled only by tombstone GC
    semantics (events older than the horizon are out of contract)."""
    payload_cols = [c for c in df.columns if c not in (*keys, *META_COLS)]
    w = Window.partitionBy(*keys)
    neg = F.lit(-(1 << 62))
    df2 = df.withColumn(
        "__last_del", F.coalesce(F.max(F.col(DELSEQ_COL)).over(w), neg))

    def cell_seq(c: str):
        s = F.element_at(F.col(CELLS_COL), F.lit(c))
        return F.when(s > F.col("__last_del"), s)

    aggs = [
        F.max(
            F.when((~F.col(DELETED_COL))
                   & (F.col(SEQ_COL) > F.col("__last_del")),
                   F.col(SEQ_COL))
        ).alias("__live_seq"),
        F.max(F.col(DELSEQ_COL)).alias("__del_max"),
    ]
    for c in payload_cols:
        aggs.append(F.max_by(F.col(c), cell_seq(c)).alias(c))
        aggs.append(F.max(cell_seq(c)).alias(f"__cs_{c}"))
    agg = df2.groupBy(*keys).agg(*aggs)
    dead = F.col("__live_seq").isNull()
    if payload_cols:
        cells_out = F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in payload_cols]),
                F.array(*[F.col(f"__cs_{c}") for c in payload_cols]),
            ),
            lambda k, v: v.isNotNull(),
        )
    else:
        cells_out = F.expr("CAST(map() AS MAP<STRING, BIGINT>)")

    def out_col(c: str):
        if c in keys:
            return F.col(c)
        if c == SEQ_COL:
            return F.coalesce(
                F.col("__live_seq"), F.col("__del_max")).alias(SEQ_COL)
        if c == DELETED_COL:
            return dead.alias(DELETED_COL)
        if c == CELLS_COL:
            return F.when(~dead, cells_out).otherwise(
                F.expr("CAST(map() AS MAP<STRING, BIGINT>)")
            ).alias(CELLS_COL)
        if c == DELSEQ_COL:
            return F.col("__del_max").alias(DELSEQ_COL)
        return F.when(~dead, F.col(c)).alias(c)

    return agg.select(*[out_col(c) for c in df.columns])


def stored_reduce(
    snap: Snapshot,
    df: DataFrame,
    keys: Sequence[str],
    salt_buckets: int = 0,
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """Dialect-routed LWW resolution over stored rows. Salting applies only
    to the row dialect: the cell fold is a single declarative aggregate
    whose per-column races a two-stage row fold would break."""
    if snap.merge_dialect == "cell":
        return cell_reduce_stored(df, keys)
    return lww_reduce(df, keys, SEQ_COL,
                      salt_buckets=salt_buckets, hot_keys=hot_keys)


def _two_stage(df: DataFrame, keys, payload, order, salt_buckets: int) -> DataFrame:
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns if c not in keys]),
                  F.lit(salt_buckets)).alias("__salt")
    stage1 = (
        df.withColumn("__salt", salt)
        .groupBy(*[F.col(k) for k in keys], F.col("__salt"))
        .agg(F.max_by(payload, order).alias("__w"), F.max(order).alias("__o"))
    )
    order2 = F.col("__o")
    return (
        stage1.groupBy(*[F.col(k) for k in keys])
        .agg(F.max_by(F.col("__w"), order2).alias("__w"))
        .select("__w.*")
    )


def merge_lww(
    table: LakeTable,
    batch: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    salt_buckets: int = 0,
    hot_keys: DataFrame | None = None,
    properties: dict[str, Any] | None = None,
    expected_version: int | None = None,
) -> Snapshot:
    """MERGE a change-event batch into the table, last-writer-wins by seq.

    batch columns: keys + [seq_col, op_col] + payload columns matching the
    table schema minus system columns. op ∈ {I, U, D}.
    """
    snap = table.snapshot()
    if expected_version is None:
        expected_version = snap.version
    if snap.key_cols and set(keys) != set(snap.merge_keys):
        raise ValueError(
            f"merge keys {list(keys)} != table keys {snap.merge_keys}"
        )
    payload_cols = [
        f.name for f in snap.schema.fields if f.name not in META_COLS
    ]

    # 1. Normalize batch rows to the target row shape (delete → tombstone;
    # cell dialect adds per-column write seqs + delete seq).
    batch_rows = batch_to_stored(
        batch, payload_cols, seq_col, op_col, snap.merge_dialect)

    # 2. Bucket pruning: which table buckets do batch keys hash into?
    # (distinct over a hash expr on the raw batch — no reduce, O(B) result)
    # Residue-mapped across bucket-spec evolution: a pre-rescale file is
    # affected when any affected current-spec bucket ≡ its bucket (mod its
    # spec); its untouched sibling keys just pass through the fold and get
    # rewritten under the current spec (progressive migration).
    affected, keep = bind(snap, buckets=table.buckets_of(batch)).split(
        snap.files)
    target_subset = table.read_file_set(affected, snap)

    # 3. Union + ONE LWW reduce (tombstones included on both sides; partial
    # aggregation collapses in-batch duplicate keys map-side, so a separate
    # in-batch pre-reduce would only add a shuffle). The 'cell' dialect
    # resolves per-column latest cell instead (salting doesn't apply: its
    # two-stage row fold would erase which column came from which seq).
    combined = target_subset.unionByName(batch_rows)
    hot_norm = (hot_keys.select(*keys).distinct()
                if hot_keys is not None else None)
    final = stored_reduce(snap, combined, keys,
                          salt_buckets=salt_buckets, hot_keys=hot_norm)

    # Tombstones whose key never had a live target row are still kept so
    # later out-of-order updates can't resurrect; physical drop is GC's job.
    new_files = table.write_data_files(final, seq_col=SEQ_COL)
    return table.commit(
        keep_files=keep,
        add_files=new_files,
        properties=properties,
        expected_version=expected_version,
    )


def merge_lww_mor(
    table: LakeTable,
    batch: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    properties: dict[str, Any] | None = None,
    expected_version: int | None = None,
) -> Snapshot:
    """Merge-on-read apply: the 100 TB scale path.

    Writes the batch as NEW delta files — the target is never read or
    rewritten at apply time, so apply cost is O(batch), not O(affected
    table buckets). Readers resolve LWW across base+delta files
    (``read_current``); ``compact`` folds deltas back to one row per key.

    The apply's ONLY wide operation is the single repartition that clusters
    rows by storage bucket for the write: one delta file per touched
    bucket, holding the batch's rows unreduced (in-batch duplicate keys
    are folded by readers and the next compaction, not by a second
    shuffle here). Salting has nothing to act on: no reduce runs.

    This is the faithful Spark rendering of the reference's own
    architecture: ingest appends (FsDataWriter/BaseDataPublisher publish
    new files only), and dedup is a SEPARATE compaction job
    (gobblin-compaction/.../MRCompactorAvroKeyDedupJobRunner.java:76-156,
    AvroKeyDedupReducer.java:52-55 keep-last). Copy-on-write ``merge_lww``
    is the strict alternative when read amplification must be zero.

    Idempotent for crash recovery in the visible-state sense: re-appending
    the same batch adds byte-identical (key, seq) rows; LWW resolution and
    the next compaction collapse them, so the visible table converges.
    """
    snap = table.snapshot()
    if expected_version is None:
        expected_version = snap.version
    if snap.key_cols and set(keys) != set(snap.merge_keys):
        raise ValueError(
            f"merge keys {list(keys)} != table keys {snap.merge_keys}"
        )
    payload_cols = [
        f.name for f in snap.schema.fields if f.name not in META_COLS
    ]
    batch_rows = batch_to_stored(
        batch, payload_cols, seq_col, op_col, snap.merge_dialect)
    new_files = table.write_data_files(batch_rows, seq_col=SEQ_COL,
                                       reduced=False)
    props = dict(properties or {})
    props["mor_deltas"] = int(snap.properties.get("mor_deltas", 0)) + 1
    # exact applied-row count for free from the indexed parquet footers
    # (the delta holds precisely the batch's rows)
    props["batch_rows"] = sum(f.rows for f in new_files)
    return table.commit(
        keep_files=snap.files,
        add_files=new_files,
        properties=props,
        expected_version=expected_version,
    )


def _discard_files(table: LakeTable, files) -> None:
    """Best-effort removal of freshly-written files a conflicting commit
    invalidated — anything missed is an unreferenced orphan that vacuum()
    collects, never visible data. Data-plane removal (Hadoop FS for the
    table URI), not the metadata CommitFs — the two differ in hybrid
    deployments."""
    import os as _os
    for f in files:
        try:
            table._remove_data_file(_os.path.join(table.root, f.path))
        except OSError:
            pass


def _rebase_rewrite(
    table: LakeTable,
    base: Snapshot,
    consumed: list,
    new_files: list,
    properties: dict[str, Any] | None,
    max_retries: int = 5,
) -> tuple[Snapshot | None, set[int]]:
    """Iceberg-style commit rebase for a file rewrite that lost an
    optimistic-concurrency race (≙ the reference running compaction as a
    SEPARATE job family, MRCompactor vs ingest — the race is a production
    shape there, so losing it must not discard the rewrite work).

    ``consumed`` are the exact input files the rewrite folded; a bucket of
    the rewrite is still VALID on top of the winning commit iff its file
    set is byte-identical in the new current snapshot (the winner didn't
    touch it) and the schema didn't move. Valid buckets re-commit
    METADATA-ONLY — cur's files minus that bucket's consumed inputs plus
    its rewrite outputs (files of the bucket the rewrite did NOT consume
    are kept); invalid buckets are the caller's to re-fold. Returns
    (new snapshot or None, buckets landed).

    Mixed bucket specs are NOT rebased: while a rescale migration is in
    flight, bucket ids of pre-rescale files live in a different modulus
    space, so the per-bucket file-set equality below would compare apples
    to oranges — the caller re-folds from the fresh snapshot instead
    (correct, just less salvage during the transitional window)."""
    if any(file_spec_n(f, base) != base.n_buckets
           for f in list(consumed) + list(base.files)):
        return None, set()
    consumed_by_bucket: dict[int, set[str]] = {}
    for f in consumed:
        consumed_by_bucket.setdefault(f.bucket, set()).add(f.path)
    valid = set(consumed_by_bucket)
    by_bucket: dict[int, set[str]] = {}
    for f in base.files:
        by_bucket.setdefault(f.bucket, set()).add(f.path)
    for _ in range(max_retries):
        cur = table.snapshot()
        if (cur.schema_version != base.schema_version
                or cur.schema_json != base.schema_json):
            # schema evolved under us: every rewritten file carries the old
            # layout — nothing is salvageable metadata-only
            return None, set()
        cur_by_bucket: dict[int, set[str]] = {}
        for f in cur.files:
            cur_by_bucket.setdefault(f.bucket, set()).add(f.path)
        valid = {b for b in valid
                 if cur_by_bucket.get(b, set()) == by_bucket.get(b, set())}
        if not valid:
            return None, set()
        drop = set().union(*(consumed_by_bucket[b] for b in valid))
        keep = [f for f in cur.files if f.path not in drop]
        add = [f for f in new_files if f.bucket in valid]
        props = dict(properties or {})
        # the delta flag follows from the rebased file set by compact's
        # rule (landed buckets hold our fold), never from a commit's flag:
        # a metadata-only winner carries the one from before this rewrite
        props["mor_deltas"] = int(bool(_unfolded(cur, keep) - valid))
        if "gc_horizon_seq" in props:
            props["gc_horizon_seq"] = max(
                int(props["gc_horizon_seq"]),
                int(cur.properties.get("gc_horizon_seq", -1)))
        try:
            snap = table.commit(keep_files=keep, add_files=add,
                                properties=props,
                                expected_version=cur.version)
            return snap, valid
        except ConcurrentCommitError:
            continue  # another writer raced the rebase itself: revalidate
    return None, set()


def _unfolded(snap: Snapshot, files) -> set[int]:
    """The current-spec buckets where ``files`` can conflict on a key: two
    or more files, or a raw delta (not one row per key internally). A
    pre-rescale file counts into every current bucket it can hold keys
    for."""
    per_bucket: Counter = Counter()
    unreduced: set[int] = set()
    for f in files:
        for b in mapped_buckets(f, snap):
            per_bucket[b] += 1
            if not f.reduced:
                unreduced.add(b)
    return {b for b, n in per_bucket.items() if n > 1} | unreduced


def hot_buckets(snap: Snapshot, delta_ratio: float) -> set[int]:
    """Per-bucket compaction temperature from manifest metadata only
    (O(files) driver math, no scan): a bucket is HOT when its outstanding
    delta rows reach ``delta_ratio`` of its reduced base rows — or when it
    has deltas but no base yet (all-delta bucket: the ratio is infinite).

    This is the per-bucket refinement of the table-wide adaptive trigger
    (≙ MRCompactor.java:147-157 recompacting only datasets whose
    late-data ratio crossed the threshold — here the 'dataset' is one
    hash bucket): a hot bucket compacts WITHOUT rewriting cold ones, so
    skewed write patterns (one tenant/repo churning) pay O(hot bucket),
    not O(table), per compaction cycle."""
    delta: dict[int, float] = {}
    base: dict[int, float] = {}
    for f in snap.files:
        d = delta if not f.reduced else base
        # residue-mapped across bucket-spec evolution: a pre-rescale file
        # spans several current buckets — split its rows evenly across
        # them (an estimate; exact per-bucket counts would need a scan)
        m = mapped_buckets(f, snap)
        share = f.rows / len(m)
        for b in m:
            d[b] = d.get(b, 0.0) + share
    return {
        b for b, rows in delta.items()
        if rows > 0 and (base.get(b, 0) == 0
                         or rows / base[b] >= delta_ratio)
    }


# Rounds a maintenance rewrite (``compact``, ``gc_tombstones``) re-plans
# after losing its optimistic commit to a concurrent writer, before it
# re-raises the last ConcurrentCommitError.
MAX_COMMIT_RETRIES = 3


def compact(
    table: LakeTable,
    properties: dict[str, Any] | None = None,
    buckets: set[int] | None = None,
    gc_horizon_seq: int | None = None,
    max_rows_per_file: int | None = None,
) -> Snapshot:
    """Fold MOR delta files into one row per key (LWW by __seq) — the
    reference's standalone compaction job (MRCompactor). The fold runs on
    one of two paths, chosen per pass from manifest metadata alone:

    - **driver** (``compact_path: "local"``): when the consumed files
      total at most ``LOCAL_COMPACT_MAX_BYTES`` (a driver-memory cap), live
      on a local data plane, all sit at the snapshot's schema version and
      bucket spec, the table is unpartitioned and no ``max_rows_per_file``
      split applies, they are read with pyarrow one bucket at a time,
      folded by the Arrow kernel the point and changelog reads share
      (``pointread.fold_keys``) and written as one key-sorted file per
      bucket by ``LakeTable.write_local_files``: no Spark job at all;
    - **Spark** (``compact_path: "distributed"``, with ``compact_reason``
      naming the first condition that failed: ``remote``,
      ``partitioned``, ``schema_drift``, ``spec``, ``split`` or
      ``size``): one bucketed job whose shuffle by key is aligned with
      the storage layout.

    Both record their path in the properties of the commit that rewrites
    files, and only there: later commits, and a pass that rewrites
    nothing, carry no ``compact_path``. The commit, the retry and
    everything below are the same for both.

    ``gc_horizon_seq`` folds tombstone GC into the same rewrite: tombstones
    at or below the horizon (no event with smaller seq can still arrive —
    planning only admits seq > committed watermark) are dropped from the
    compacted output, for free. A separate ``gc_tombstones`` pass after
    compaction would read and rewrite the whole live table AGAIN — at 100 TB
    that second rewrite is the difference between compaction being O(table)
    and O(2·table) per cycle. Buckets this incremental pass skips
    (single-file, no deltas) keep their dead tombstones until they next
    receive writes; ``gc_tombstones`` remains for forcing those clean.

    Incremental by default: only buckets holding two or more files, or a
    raw delta, are rewritten (a bucket with one reduced file is already
    one-row-per-key);
    pass ``buckets`` to restrict further. At 100 TB this is what bounds
    compaction cost to the actively-written part of the table — the analog
    of the reference recompacting only datasets whose late-data ratio
    crossed a threshold (MRCompactor.java:147-157).

    Concurrent-writer safe: the commit is optimistic, and on losing the
    race to another writer (ingest appending deltas, another compactor)
    the rewrite is REBASED rather than discarded — buckets whose input
    file sets the winner didn't touch re-commit metadata-only on top of
    the winning snapshot; invalidated buckets are re-planned and re-folded
    from the new snapshot, up to ``MAX_COMMIT_RETRIES`` rounds. ≙ the
    reference running compaction as a separate job family (MRCompactor
    racing ingest is the production shape), with Iceberg's
    validate-and-retry instead of its job-level lock.

    A table still stored in the retired 'column' dialect is migrated to
    'cell' instead: one full rewrite on Spark (``_migrate_column_table``,
    ``compact_reason: "migration"``)."""
    last_exc: Exception | None = None
    for _ in range(MAX_COMMIT_RETRIES + 1):
        snap = table.snapshot()
        if snap.properties.get("merge_dialect") == "column":
            try:
                return _migrate_column_table(table, snap, properties,
                                             gc_horizon_seq)
            except ConcurrentCommitError as exc:
                last_exc = exc
                continue
        if int(snap.properties.get("mor_deltas", 0)) == 0:
            return snap
        mapped = {f.path: mapped_buckets(f, snap) for f in snap.files}
        need_fold = _unfolded(snap, snap.files)
        target_buckets = (need_fold if buckets is None
                          else need_fold & set(buckets))
        # CLOSURE under spec mapping: a pre-rescale file straddling the
        # target boundary must be consumed exactly once, so every current
        # bucket it covers joins the fold (its whole key range is rewritten
        # under the current spec — this is how rescale migration happens).
        while True:
            grown = set(target_buckets)
            for f in snap.files:
                m = mapped[f.path]
                if len(m) > 1 and any(b in target_buckets for b in m):
                    grown.update(m)
            if grown == target_buckets:
                break
            target_buckets = grown
        if not target_buckets:
            props = dict(properties or {})
            props["mor_deltas"] = int(bool(need_fold))
            try:
                return table.commit(keep_files=snap.files, add_files=[],
                                    properties=props,
                                    expected_version=snap.version)
            except ConcurrentCommitError as exc:
                last_exc = exc
                continue  # metadata-only: replan from the winner, cheap
        consumed, keep = bind(snap, buckets=target_buckets).split(snap.files)
        splits = None
        if max_rows_per_file:
            # giant-bucket guard (one tenant holding most of a table):
            # hash-split a bucket whose row count exceeds the cap over
            # ceil(rows/cap) tasks/files — bounds the compaction straggler
            # task and the output file size without touching cold buckets.
            # Row counts from manifest metadata (upper bound: pre-fold).
            rows_per_bucket: dict[int, float] = {}
            for f in consumed:
                m = mapped[f.path]
                share = f.rows / len(m)
                for b in m:
                    if b in target_buckets:
                        rows_per_bucket[b] = (
                            rows_per_bucket.get(b, 0.0) + share)
            splits = {
                b: int(-(-r // max_rows_per_file))
                for b, r in rows_per_bucket.items()
                if r > max_rows_per_file
            } or None
        reason = _distributed_reason(table, snap, consumed, splits)
        if reason is None:
            new_files = _compact_local(table, snap, consumed, gc_horizon_seq)
        else:
            # pinned read: fold exactly the snapshot the commit will
            # validate against, never files a concurrent commit lands
            # mid-job
            df = table.read_file_set(consumed, snap)
            final = stored_reduce(snap, df, snap.merge_keys)
            if gc_horizon_seq is not None:
                final = final.filter(
                    ~(F.col(DELETED_COL)
                      & (F.col(SEQ_COL) <= gc_horizon_seq)))
            # compaction is the write that pays for read layout:
            # key-sorted files give narrow parquet row-group stats, so
            # point lookups skip row groups in-file on top of manifest
            # bucket + key_bounds skipping
            new_files = table.write_data_files(
                final, seq_col=SEQ_COL, sort_cols=list(snap.merge_keys),
                splits_by_bucket=splits)
        props = dict(properties or {})
        props["compact_path"] = "local" if reason is None else "distributed"
        props["compact_reason"] = reason
        if gc_horizon_seq is not None:
            props["gc_horizon_seq"] = gc_horizon_seq
        # deltas remain only if a bucket subset was explicitly requested
        # and some conflict-prone bucket was left unfolded
        props["mor_deltas"] = int(bool(_unfolded(snap, keep)))
        try:
            return table.commit(
                keep_files=keep,
                add_files=new_files,
                properties=props,
                expected_version=snap.version,
            )
        except ConcurrentCommitError as exc:
            last_exc = exc
            rebased, landed = _rebase_rewrite(
                table, snap, consumed, new_files, props)
            _discard_files(
                table, [f for f in new_files if f.bucket not in landed])
            if (rebased is not None and landed == target_buckets
                    and int(rebased.properties.get("mor_deltas", 0)) == 0):
                return rebased  # everything folded, winner added nothing
            # invalidated buckets, a failed rebase, or deltas the winner
            # appended re-fold from the fresh snapshot next round; work
            # already landed metadata-only stays landed
            continue
    raise last_exc  # type: ignore[misc]


# Driver-memory cap of the driver-side compaction, in manifest bytes (the
# compressed parquet size) of all the files one pass consumes. The rewrite
# holds one bucket at a time; its peak Arrow memory, measured on a 4-thread
# host with pyarrow's pool high-water mark, 8 buckets:
#
#   row shape             consumed    largest bucket   peak Arrow
#   benchmark (24-token)   28.9 MB           3.7 MB       27.8 MB
#   wide (600-token)       86.5 MB          11.2 MB       76.9 MB
#
# i.e. about 7x the largest bucket's bytes, so even a pass whose whole
# input sits in one bucket stays near 470 MB of Arrow memory. The cap says
# nothing about when the driver stops being faster than Spark: a sweep on
# the benchmark's row shape (about 137 B per consumed row) found the
# driver ahead up to the largest size tried, ~1M rows (~140 MB), and no
# benchmark workload compacts above the cap.
# LOCAL_COMPACT_MAX_BYTES = -1 keeps every compaction on Spark.
LOCAL_COMPACT_MAX_BYTES = 64 << 20


def _distributed_reason(
    table: LakeTable, snap: Snapshot, consumed: list,
    splits: dict[int, int] | None,
) -> str | None:
    """Why this compaction pass must fold on Spark, or None when the
    driver-side path may take it. Manifest metadata only."""
    if table.local_root is None:
        return "remote"
    if snap.partition_spec is not None:
        return "partitioned"
    if any(f.schema_version != snap.schema_version for f in consumed):
        return "schema_drift"  # conformance lives in the Spark read
    if any(file_spec_n(f, snap) != snap.n_buckets for f in consumed):
        return "spec"  # a rescale migration regroups keys across buckets
    if splits:
        return "split"
    if sum(f.bytes for f in consumed) > LOCAL_COMPACT_MAX_BYTES:
        return "size"
    return None


def _compact_local(
    table: LakeTable,
    snap: Snapshot,
    consumed: list,
    gc_horizon_seq: int | None,
) -> list:
    """The driver-side compaction rewrite, one bucket at a time so the
    driver holds one bucket's rows: its files read with pyarrow, folded by
    ``pointread.fold_keys`` (key-sorted output), dead tombstones dropped at
    the horizon, written as one file."""
    import pyarrow.compute as pc

    from gobblin_spark.lakehouse.pointread import fold_keys, read_key_rows

    by_bucket: dict[int, list] = {}
    for f in consumed:
        by_bucket.setdefault(f.bucket, []).append(f)

    def fold(files):
        rows = read_key_rows(table, files, snap.merge_keys, None)
        state = fold_keys(snap, list(rows.values()))
        if gc_horizon_seq is None:
            return state
        return state.filter(pc.invert(pc.and_kleene(
            state[DELETED_COL],
            pc.less_equal(state[SEQ_COL], gc_horizon_seq))))

    return table.write_local_files(
        snap, ((b, fold(files)) for b, files in sorted(by_bucket.items())),
        seq_col=SEQ_COL)


def _migrate_column_table(
    table: LakeTable,
    snap: Snapshot,
    properties: dict[str, Any] | None,
    gc_horizon_seq: int | None,
) -> Snapshot:
    """One-time rewrite of a table in the retired 'column' dialect (per-
    column latest non-null, one seq per row) into 'cell'. Each stored row
    is re-read as the event it stands for, a tombstone as a delete: a
    non-null live column's cell seq is the row's seq, a tombstone's seq is
    its ``__del_seq``. Both folds then decide liveness, the last-delete
    cut and each column's winner alike, so the visible state is kept."""
    payload = [f.name for f in snap.schema.fields if f.name not in META_COLS]
    events = table.read(snap.version).selectExpr(
        *[f"`{c}`" for c in payload], f"`{SEQ_COL}` AS seq",
        f"IF(`{DELETED_COL}`, 'D', 'U') AS op")
    final = cell_reduce_stored(
        batch_to_stored(events, payload, "seq", "op", "cell"),
        snap.merge_keys)
    props = {**(properties or {}), "merge_dialect": "cell", "mor_deltas": 0,
             "compact_path": "distributed", "compact_reason": "migration"}
    if gc_horizon_seq is not None:
        final = final.filter(
            ~(F.col(DELETED_COL) & (F.col(SEQ_COL) <= gc_horizon_seq)))
        props["gc_horizon_seq"] = gc_horizon_seq
    new_files = table.write_data_files(final, seq_col=SEQ_COL,
                                       sort_cols=list(snap.merge_keys))
    schema = stored_schema(
        StructType([f for f in snap.schema.fields if f.name in payload]),
        "cell")
    try:
        return table.commit(keep_files=[], add_files=new_files,
                            properties=props, schema=schema,
                            expected_version=snap.version)
    except ConcurrentCommitError:
        _discard_files(table, new_files)
        raise


def read_current(
    table: LakeTable,
    version: int | None = None,
    value_eq: dict[str, Any] | None = None,
    value_range: dict[str, dict] | None = None,
) -> DataFrame:
    """The visible (non-tombstone) state of a CDC target table. For a table
    with outstanding MOR deltas, resolves LWW across base+delta files first
    (merge-on-read).

    ``value_eq`` (column → value) and ``value_range`` (column →
    {"lo", "hi", "lo_strict", "hi_strict"}) AND, bound to the snapshot's
    schema by ``predicate.bind``. On a compacted table (one stored row per
    key) the value-stats blooms and [min,max] value bounds skip FILES at
    planning time — a secondary-predicate scan reads O(matching files),
    not O(table). With unresolved deltas that skip would be UNSOUND (a
    key's winning row may live in a file the predicate excludes,
    resurrecting an older matching row), so the read resolves in full.
    Either way the row filter is applied (blooms are approximate)."""
    return read_where(table, bind(table.snapshot(version), value_eq=value_eq,
                                  value_range=value_range))


def read_where(table: LakeTable, pred: Predicate) -> DataFrame:
    """The visible rows of ``pred``'s snapshot that match it: the files it
    prunes to, LWW-resolved (after its key clauses) when deltas are
    outstanding, then its row filter."""
    snap = pred.snap
    snap.merge_dialect  # a retired dialect fails before any read
    df = table.read_file_set(pred.prune(), snap)
    if int(snap.properties.get("mor_deltas", 0)) > 0:
        df = stored_reduce(snap, pred.filter(df, values=False),
                           snap.merge_keys)
    if DELETED_COL in df.columns:
        df = (df.filter(~F.col(DELETED_COL))
                .drop(DELETED_COL, SEQ_COL, CELLS_COL, DELSEQ_COL))
    return pred.filter(df)


def delete_where(
    table: LakeTable,
    predicate: dict[str, Any] | None = None,
    seq: int | None = None,
    properties: dict[str, Any] | None = None,
    range_predicate: dict[str, dict] | None = None,
) -> dict[str, Any]:
    """Targeted deletion — ``DELETE FROM t WHERE col = v [AND ...]`` as a
    CDC-native operation (the right-to-be-forgotten / tenant-offboarding
    maintenance op a 100 TB upsert table needs):

    1. find the matching LIVE keys via ``read_current(value_eq=predicate)``
       — on a compacted table with value-stats blooms on the predicate
       column this plans O(matching files), not O(table);
    2. emit one TOMBSTONE per matched key (payload columns NULLED — a
       tombstone must not itself retain the data being deleted) at ``seq``
       (default: the table's max stored seq + 1, computed from manifest
       stats, no scan) and MERGE it through the normal LWW apply — so the
       deletion is crash-safe, replayable, and visible in the changelog
       (``table_changes`` shows 'delete' rows) and to downstream syncs.

    LWW semantics are preserved exactly: a FUTURE event for the key with a
    higher seq recreates the row (Iceberg-DELETE-like); choose ``seq``
    consciously if the table is still being fed by a stream whose offsets
    can pass the default.

    PHYSICAL erasure is completed by the normal maintenance pipeline —
    the merge rewrites the affected buckets (old files leave the live
    manifest immediately), then ``gc_tombstones``/compaction drops the
    tombstones, ``expire_snapshots`` retires the manifests that still
    reference the old files, and ``vacuum`` deletes them from disk. The
    ``purge`` CLI composes exactly that sequence.

    ``range_predicate``: interval clauses in read_current's value_range
    form — DELETE WHERE col >= v / BETWEEN, victim discovery pruned by
    the per-file [min,max] value bounds. ANDed with ``predicate``.

    Returns {"deleted": n, "seq": s, "snapshot_version": v}."""
    return delete_matching(
        table, bind(table.snapshot(), value_eq=predicate,
                    value_range=range_predicate), seq, properties)


def delete_matching(
    table: LakeTable,
    pred: Predicate,
    seq: int | None = None,
    properties: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """``delete_where`` with its clauses already bound: tombstones every
    live key of ``pred``'s snapshot that matches ``pred``."""
    if not pred.value_eq and not pred.value_range:
        raise ValueError("delete_where needs a predicate (an unqualified "
                         "full-table delete must be spelled explicitly "
                         "by the caller, not defaulted into)")
    snap = pred.snap
    if seq is None:
        seqs = [f.max_seq for f in snap.files if f.max_seq is not None]
        seq = (max(seqs) + 1) if seqs else 1
    keys = snap.merge_keys
    payload = [f.name for f in snap.schema.fields
               if f.name not in META_COLS and f.name not in keys]
    victims = read_where(table, pred).select(*keys)
    # merge_lww runs several actions over the batch (bucket planning, the
    # write, the stats pass), so an Observation can't count it — one extra
    # count over the bloom-pruned read is the simple correct thing
    n = victims.count()
    if n == 0:
        return {"deleted": 0, "seq": int(seq),
                "snapshot_version": snap.version}
    types = {f.name: f.dataType for f in snap.schema.fields}
    batch = victims.select(
        *keys,
        F.lit(int(seq)).cast("long").alias("seq"),
        F.lit("D").alias("op"),
        *[F.lit(None).cast(types[c]).alias(c) for c in payload],
    )
    clauses = pred.render()
    props = {**(properties or {}), "delete_where": clauses["where"] or {}}
    if clauses["where_range"]:
        props["delete_where_range"] = clauses["where_range"]
    new = merge_lww(table, batch, keys, properties=props)
    return {"deleted": n, "seq": int(seq),
            "snapshot_version": new.version}


def table_fingerprint(
    table: LakeTable,
    version: int | None = None,
    algo: str = "sha256",
) -> dict[str, Any]:
    """Order-independent content fingerprint of the visible table state —
    the verification primitive behind replay-convergence checks: two tables
    (or one table replayed twice, in any batch order, with any crash/retry
    history) hold identical visible state iff their fingerprints match.

    ≙ the reference's converged-output validation
    (gobblin-compaction/.../CompactionVerifier and the task-state row-count
    audits): here rendered as ONE aggregate over the LWW-resolved state.

    algo:
    - ``sha256`` (default): per row, sha2-256 over the concatenation of
      fixed-length per-column digests (sha2-256 hex of each value's string
      rendering, columns in sorted-name order; NULL rendered as a 64-char
      non-hex sentinel no digest can equal). Fixed-length fields make the
      rendering INJECTIVE over the row tuple — no separator character a
      value could contain can shift field boundaries — so distinct rows
      hash equal only with cryptographic-collision probability.
      Content-stable across file layout, bucket count, batch order,
      engine version; 48 bits/row summed exactly in decimal(38,0).
    - ``xxhash64``: JVM-native hash of the column values, ~10× faster at
      100 TB; stable within Spark but tied to its binary encodings.

    Sum-of-hashes is order-independent, collision-negligible (2^-48/row for
    sha256 prefixes), and one whole-stage-codegen aggregate: no sort, no
    shuffle beyond the final single-row reduce."""
    df = read_current(table, version)
    cols = sorted(df.columns)
    if algo == "sha256":
        # per-column digest is always exactly 64 chars (sha2 hex, or the
        # all-'n' NULL sentinel — 'n' is not a hex digit, so no value's
        # digest can equal it); concat of fixed-length fields is injective
        canon = F.concat(
            *[F.coalesce(F.sha2(F.col(c).cast("string"), 256),
                         F.lit("n" * 64))
              for c in cols])
        row_h = F.conv(F.substring(F.sha2(canon, 256), 1, 12), 16, 10)
    elif algo == "xxhash64":
        row_h = F.xxhash64(*[F.col(c) for c in cols])
    else:
        raise ValueError(f"unknown fingerprint algo: {algo}")
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(row_h.cast("decimal(38,0)")).alias("fp"),
    ).first()
    snap = table.snapshot(version)
    return {
        "version": snap.version,
        "rows": int(r["n"]),
        "fingerprint": str(r["fp"]) if r["fp"] is not None else "0",
        "algo": algo,
        "columns": cols,
    }


def point_lookup(
    table: LakeTable,
    key: dict[str, Any],
    version: int | None = None,
    prefer_local: bool = True,
) -> DataFrame:
    """Current visible state of ONE merge key without scanning the table:
    hash the key to its storage bucket on the driver (the bit-exact Python
    twin of ``bucket_expr``, no Spark job), read only that bucket's files,
    LWW-resolve, filter. At 100 TB with 4096 buckets a lookup touches
    1/4096 of the files — the primary-key read a CDC consumer expects from
    an upsert table (≙ Hive consumers of the reference's published tables
    predicate-pushing on the partition; here the merge-key hash layout IS
    the index). Valid with unfolded MOR deltas (resolves across base+delta
    like read_current). The snapshot is resolved once, so the schema and
    the row always come from the same version.

    ``prefer_local``: first try the DRIVER-side read (pointread.py) — the
    manifest plus pyarrow row-group stats answer a single-key read in
    milliseconds, folded by the Arrow kernel and handed to Spark as an
    Arrow local relation, so ``point_lookup(...).collect()`` launches ZERO
    Spark jobs. Falls back to the distributed path for a remote data
    plane, schema-version drift or oversized candidate sets."""
    from gobblin_spark.lakehouse.pointread import (
        FALLBACK,
        key_bucket,
        point_lookup_local,
    )

    snap = table.snapshot(version)
    if prefer_local:
        row = point_lookup_local(table, key, snap=snap)
        if row is not FALLBACK:
            from pyspark.sql.types import StructType
            visible = StructType(
                [f for f in snap.schema.fields if f.name not in META_COLS])
            return local_frame(table.spark, visible,
                               row if row is not None else [])
    # bucket id under the PINNED snapshot's spec (buckets_of would use the
    # current spec — wrong for a version pinned from before a rescale);
    # two-level skipping: the key's hash bucket, then key_bounds — within
    # the bucket, MOR delta files each hold only their batch's keys, so
    # most are excluded by their recorded per-column bounds without a read
    return read_where(table, bind(
        snap, buckets={key_bucket(snap, key)},
        key_in={k: [key[k]] for k in snap.merge_keys}))


def changed_units(
    snap_old: Snapshot, snap_new: Snapshot
) -> tuple[set[int], int, bool]:
    """Driver-side O(files) manifest math: the NEW-spec bucket units whose
    file sets differ between two snapshots — the pruning unit of
    ``table_changes`` and the cost signal regime choosers (aggview's
    incremental-vs-full, maintenance planners) read. Every file on either
    side is residue-mapped into the units it can hold keys for, so the set
    is exact across bucket-spec evolution. Returns (changed units, unit
    modulus, dividable); when some file's spec does not divide the unit
    modulus (possible only after a rollback across a rescale) pruning is
    impossible and EVERY unit counts as changed — a correct superset."""
    unit_n = snap_new.n_buckets
    dividable = all(
        unit_n % file_spec_n(f, s) == 0
        for s in (snap_old, snap_new) for f in s.files
    )
    if not dividable:
        return set(range(unit_n)), unit_n, False

    def _by_unit(snap: Snapshot) -> dict[int, set[str]]:
        out: dict[int, set[str]] = {}
        for f in snap.files:
            s = file_spec_n(f, snap)
            for b in range(f.bucket % s, unit_n, s):
                out.setdefault(b, set()).add(f.path)
        return out

    by_bucket_old = _by_unit(snap_old)
    by_bucket_new = _by_unit(snap_new)
    changed = {
        b
        for b in set(by_bucket_old) | set(by_bucket_new)
        if by_bucket_old.get(b, set()) != by_bucket_new.get(b, set())
    }
    return changed, unit_n, True


# Size bounds of the driver-local table_changes, in manifest row counts.
# It folds every row of the symmetric-difference files on the driver:
# measured on a 4-thread host against the distributed plan, with the
# per-row Python fold the Arrow kernel since replaced, ~20k such rows (a
# COW or compaction diff) took 0.47-0.51 s locally vs 0.78-0.84 s, ~40k
# broke even and ~60k lost (1.1-1.2 s vs 0.8 s), so the bound is half the
# break-even; re-measuring it needs a benchmark workload above the bound. It also scans the key columns of the other candidate files
# (~0.8 µs/row: 1M rows 0.9 s vs 6.6 s distributed); that bound caps the
# single-threaded scan near a second, which a cluster's distributed read
# can beat. LOCAL_CHANGES_MAX_ROWS = -1 keeps every diff distributed.
LOCAL_CHANGES_MAX_ROWS = 20_000
LOCAL_CHANGES_MAX_SCAN_ROWS = 1_000_000


def _changes_local(
    table: LakeTable,
    snap_old: Snapshot,
    snap_new: Snapshot,
    files_old: list,
    files_new: list,
    change_col: str,
    emit_preimages: bool,
):
    """The driver-side ``table_changes``: the change rows as a local frame,
    or FALLBACK when the distributed plan must answer.

    Only a key with a row in a file added or removed between the two
    snapshots can change state — every other key has the same stored rows
    at both versions. So: read the symmetric-difference files (their keys
    are K), resolve K at both snapshots in one pass over the candidate
    files (pointread.read_key_rows), fold each side with the Arrow kernel
    (pointread.fold_keys) and classify K's folded states with the rules of
    the distributed plan."""
    from pyspark.sql.types import StringType, StructField, StructType

    from gobblin_spark.lakehouse.pointread import (
        FALLBACK,
        fold_keys,
        read_key_rows,
    )

    if table.local_root is None:
        return FALLBACK
    cand = {f.path: f for f in (*files_old, *files_new)}
    if any(f.schema_version != snap_new.schema_version
           for f in cand.values()):
        return FALLBACK  # schema conformance lives in the Spark read
    diff = ({f.path for f in snap_old.files}
            ^ {f.path for f in snap_new.files})
    rest = [f for p, f in cand.items() if p not in diff]
    if (sum(cand[p].rows for p in diff) > LOCAL_CHANGES_MAX_ROWS
            or sum(f.rows for f in rest) > LOCAL_CHANGES_MAX_SCAN_ROWS):
        return FALLBACK

    keys = snap_new.merge_keys
    # every row of a symmetric-difference file is a changed key's row
    rows = read_key_rows(table, [cand[p] for p in diff], keys, None)
    changed: set[tuple] = set()
    for t in rows.values():
        distinct = t.group_by(keys).aggregate([])
        changed.update(zip(*(distinct[c].to_pylist() for c in keys)))
    if changed:
        probe = bind(snap_new, key_in={
            c: {k[i] for k in changed} for i, c in enumerate(keys)})
        rows.update(read_key_rows(table, probe.prune(rest), keys, changed))
    fields = snap_new.schema.fields
    payload = [f.name for f in fields
               if f.name not in keys and f.name not in META_COLS]
    cell = snap_new.merge_dialect == "cell"

    def _state(files) -> dict[tuple, dict]:
        parts = [rows[f.path] for f in files if f.path in rows]
        if not parts:
            return {}
        states = fold_keys(snap_new, parts).to_pylist()
        return {tuple(r[c] for c in keys): r for r in states}

    old, new = _state(files_old), _state(files_new)

    def _ident(state: dict):
        return dict(state[CELLS_COL]) if cell else state[SEQ_COL]

    def _row(k, image: dict, seq, label: str) -> dict:
        return {**dict(zip(keys, k)), **{c: image[c] for c in payload},
                SEQ_COL: seq, change_col: label}

    out = []
    for k in changed:
        o, n = old.get(k), new.get(k)
        o_live = o is not None and not o[DELETED_COL]
        n_live = n is not None and not n[DELETED_COL]
        if n_live and not o_live:
            out.append(_row(k, n, n[SEQ_COL], "insert"))
        elif o_live and not n_live:
            seq = (n or o)[SEQ_COL]
            if emit_preimages or n is None:
                image = o
            else:  # the tombstone's payload, the old row's where null
                image = {c: o[c] if n[c] is None else n[c] for c in payload}
            out.append(_row(k, image, seq, "delete"))
        elif n_live and o_live and _ident(n) != _ident(o):
            if emit_preimages:
                out.append(_row(k, o, o[SEQ_COL], "update_preimage"))
                out.append(_row(k, n, n[SEQ_COL], "update_postimage"))
            else:
                out.append(_row(k, n, n[SEQ_COL], "update"))
    by_name = {f.name: f for f in fields}
    schema = StructType(
        [StructField(c, by_name[c].dataType) for c in (*keys, *payload)]
        + [StructField(SEQ_COL, by_name[SEQ_COL].dataType),
           # as the distributed plan types it: explode's image labels are
           # never null
           StructField(change_col, StringType(), not emit_preimages)])
    return local_frame(table.spark, schema, out)


def table_changes(
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
    change_col: str = "_change_type",
    emit_preimages: bool = False,
) -> DataFrame:
    """Incremental changelog read: the row-level changes between two
    committed snapshots (≙ Iceberg's ``changes`` incremental read; the
    reference's nearest analog is consumers re-reading a time partition
    after late-data recompaction, MRCompactor.java:147-157 — here the diff
    is first-class instead of "re-read everything").

    Returns one row per key whose LWW state differs between ``from_version``
    and ``to_version`` (default: current), with ``_change_type`` ∈
    {'insert','update','delete'}:

    - insert: live in new, absent-or-tombstoned in old; the row is the new
      state verbatim (a column the new row holds as NULL is NULL)
    - update: live in both with a different winning ``__seq`` (events are
      immutable, so state identity IS (key, seq) — no payload compare);
      the row is the new state verbatim
    - delete: tombstoned-or-absent in new, live in old. The row carries the
      tombstone's ``__seq`` (the deleting event) but the DELETED ROW'S
      payload wherever the tombstone is null — consumers get the image of
      what was removed, Iceberg-changelog style.

    ``emit_preimages=True`` (≙ Delta Lake CDF): updates emit TWO rows —
    'update_preimage' (old payload + old seq) and 'update_postimage' — and
    delete rows carry strictly the old image, so derived-state consumers
    (incremental aggregates, secondary indexes — see aggview.agg_sync) can
    retract old contributions exactly.

    Only a key with a row in a file added or removed between the two
    snapshots can change state, so a small diff resolves just those keys
    on the DRIVER, eagerly at call time: the keys of the
    symmetric-difference files are read with pyarrow, resolved at both
    snapshots by the point-read resolver (pointread.read_key_rows), folded
    by the Arrow kernel, and the result is handed to Spark as a local
    relation — ``collect()`` launches no Spark job and nothing is
    shuffled. The distributed plan below answers instead on a remote data
    plane, when a candidate file is at another schema version than the
    new snapshot, when bucket pruning is impossible, or past the size
    bounds: more than ``LOCAL_CHANGES_MAX_ROWS`` rows in the
    symmetric-difference files (every one is read and folded on the
    driver) or ``LOCAL_CHANGES_MAX_SCAN_ROWS`` in
    the other candidate files (their key columns are scanned).

    Distributed plan, scale shape (100 TB): bucket-pruned — a bucket whose
    manifest file set is IDENTICAL at both versions is untouched (its
    visible state is a pure function of its files), so only rewritten/
    delta'd buckets are read on either side. COW merges rewrite exactly the
    affected buckets and MOR appends delta files only into written buckets,
    so the diff reads O(changed buckets), not O(table), and the single
    key-keyed join shuffles only those buckets' rows; preimage images are
    exploded from one array, so the join is never evaluated twice. Both
    sides resolve LWW first, so the diff is valid with outstanding MOR
    deltas on either end. Both reads conform to the NEW snapshot's schema
    via the schema_log, so diffs span schema evolution (renamed/added
    columns compare correctly)."""
    from gobblin_spark.lakehouse.pointread import FALLBACK

    snap_old = table.snapshot(from_version)
    snap_new = table.snapshot(to_version)
    for snap in (snap_old, snap_new):
        snap.merge_dialect  # a retired dialect on either side fails here
    if snap_new.version < snap_old.version:
        raise ValueError(
            f"to_version v{snap_new.version} < from_version v{snap_old.version}"
        )
    keys = snap_new.merge_keys

    # Diff unit = a bucket of the NEW snapshot's spec, with every file on
    # either side residue-mapped into the units it can hold keys for —
    # exact across bucket-spec evolution (rescale itself is metadata-only:
    # identical file sets per unit ⇒ empty diff). If any file's spec does
    # not divide the unit modulus (possible only after a rollback across a
    # rescale), pruning is abandoned: every unit is treated as changed —
    # a correct superset, just unpruned.
    changed, _, dividable = changed_units(snap_old, snap_new)
    units = changed if dividable else None
    files_old = bind(snap_old, buckets=units).prune()
    files_new = bind(snap_new, buckets=units).prune()
    if dividable:
        local = _changes_local(table, snap_old, snap_new, files_old,
                               files_new, change_col, emit_preimages)
        if local is not FALLBACK:
            return local

    def _state(files: list) -> DataFrame:
        df = table.read_file_set(files, snap_new)  # conform to NEW schema
        return stored_reduce(snap_new, df, keys)

    old = _state(files_old)
    new = _state(files_new)
    payload = [c for c in new.columns if c not in (*keys, *META_COLS)]

    n = new.alias("n")
    o = old.alias("o")
    j = n.join(o, on=list(keys), how="full_outer")
    n_live = F.col(f"n.{DELETED_COL}").isNotNull() & ~F.col(f"n.{DELETED_COL}")
    o_live = F.col(f"o.{DELETED_COL}").isNotNull() & ~F.col(f"o.{DELETED_COL}")
    if snap_new.merge_dialect == "cell":
        # Cell state identity is the cell map, not the row max seq: a late
        # patch OLDER than the key's max seq still changes a column without
        # moving __seq. Maps aren't directly comparable — compare sorted
        # entry arrays.
        ident_changed = (
            F.sort_array(F.map_entries(F.col(f"n.{CELLS_COL}")))
            != F.sort_array(F.map_entries(F.col(f"o.{CELLS_COL}")))
        )
    else:
        ident_changed = F.col(f"n.{SEQ_COL}") != F.col(f"o.{SEQ_COL}")
    if not emit_preimages:
        change = (
            F.when(n_live & ~o_live, F.lit("insert"))
            .when(~n_live & o_live, F.lit("delete"))
            .when(n_live & o_live & ident_changed, F.lit("update"))
        )
        # insert/update (n live): the new row verbatim; delete: the
        # tombstone's payload, the deleted row's where it is null
        sel = list(keys) + [
            F.when(n_live, F.col(f"n.{c}"))
            .otherwise(F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")))
            .alias(c)
            for c in payload
        ] + [
            F.coalesce(F.col(f"n.{SEQ_COL}"),
                       F.col(f"o.{SEQ_COL}")).alias(SEQ_COL),
            change.alias(change_col),
        ]
        return j.select(*sel).filter(F.col(change_col).isNotNull())

    # Preimage mode (≙ Delta Lake CDF row types): updates emit TWO rows —
    # 'update_preimage' (the replaced state: old payload, old seq) and
    # 'update_postimage' — so consumers that maintain derived state
    # (incremental aggregates, secondary indexes) can retract the old
    # contribution and apply the new one. insert rows are identical to the
    # default mode. Single pass: one array-of-images per joined key,
    # exploded — the diff join is never evaluated twice.
    def _img(pay, seq_expr, label: str):
        return F.struct(
            *[pay(c).alias(c) for c in payload],
            seq_expr.alias(SEQ_COL),
            F.lit(label).alias(change_col),
        )

    img_ins = _img(lambda c: F.col(f"n.{c}"), F.col(f"n.{SEQ_COL}"),
                   "insert")
    # delete payload = strictly the OLD image (the retraction a derived-
    # state consumer must apply); a delete only fires when o was live, so
    # the old side is always present. seq stays the deleting event's.
    img_del = _img(lambda c: F.col(f"o.{c}"),
                   F.coalesce(F.col(f"n.{SEQ_COL}"), F.col(f"o.{SEQ_COL}")),
                   "delete")
    img_pre = _img(lambda c: F.col(f"o.{c}"), F.col(f"o.{SEQ_COL}"),
                   "update_preimage")
    img_post = _img(lambda c: F.col(f"n.{c}"), F.col(f"n.{SEQ_COL}"),
                    "update_postimage")
    images = (
        F.when(n_live & ~o_live, F.array(img_ins))
        .when(~n_live & o_live, F.array(img_del))
        .when(n_live & o_live & ident_changed, F.array(img_pre, img_post))
    )
    # explode drops null arrays, so unchanged keys vanish here
    out = j.select(*keys, F.explode(images).alias("_img"))
    return out.select(
        *keys,
        *[F.col(f"_img.{c}").alias(c) for c in payload],
        F.col(f"_img.{SEQ_COL}").alias(SEQ_COL),
        F.col(f"_img.{change_col}").alias(change_col),
    )


def gc_tombstones(table: LakeTable, horizon_seq: int) -> Snapshot:
    """Physically drop tombstones with seq <= horizon (safe once the
    out-of-order horizon passed: no event with smaller seq can still arrive).
    Rewrites only files that contain qualifying tombstones (min_seq stats).

    Requires a compacted table (no outstanding MOR deltas): with multiple
    rows per key on disk, dropping a tombstone could resurrect an older
    update row — compact() first.

    Concurrent-writer safe like compact(): on losing the commit race, the
    per-bucket rewrite rebases metadata-only where the winner didn't touch
    the inputs and re-runs only invalidated buckets."""
    last_exc: Exception | None = None
    for _ in range(MAX_COMMIT_RETRIES + 1):
        snap = table.snapshot()
        if int(snap.properties.get("mor_deltas", 0)) > 0:
            raise ValueError(
                "gc_tombstones on a MOR table: run compact() first")
        rewrite = [
            f
            for f in snap.files
            if (f.min_seq is None or f.min_seq <= horizon_seq)
            and f.has_tombstones is not False  # stats-pruned: skip clean
        ]
        keep = [f for f in snap.files if f not in rewrite]
        if not rewrite:
            return snap
        # Schema-aware read: old-schema-version files (single-file buckets
        # that incremental compaction skipped) must be conformed to the
        # current schema before the rewrite is re-labeled at the current
        # version — a raw parquet read would silently null renamed/added
        # columns.
        df = table.read_file_set(rewrite, snap)
        cleaned = df.filter(
            ~(F.col(DELETED_COL) & (F.col(SEQ_COL) <= horizon_seq)))
        new_files = table.write_data_files(cleaned, seq_col=SEQ_COL)
        try:
            return table.commit(
                keep_files=keep,
                add_files=new_files,
                properties={"gc_horizon_seq": horizon_seq},
                expected_version=snap.version,
            )
        except ConcurrentCommitError as exc:
            last_exc = exc
            rebased, landed = _rebase_rewrite(
                table, snap, rewrite, new_files,
                {"gc_horizon_seq": horizon_seq})
            _discard_files(
                table, [f for f in new_files if f.bucket not in landed])
            if rebased is not None and landed == {f.bucket for f in rewrite}:
                return rebased
            continue
    raise last_exc  # type: ignore[misc]
