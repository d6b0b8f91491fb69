"""Driver-side keyed reads and the Arrow LWW fold: a millisecond
primary-key read that never launches a Spark job, and the resolver and
fold behind small changelog diffs and small compactions.

``read_key_rows`` resolves a SET of merge keys in one pass over candidate
files: prune by manifest key_bounds and parquet row-group stats (over the
key-sorted compaction output), read the key columns first, then full rows
only where the key is wanted, as pyarrow Tables. ``fold_keys`` folds
stored rows per key with one vectorised kernel per dialect, Arrow in and
out — the driver-side twin of merge.py's stored reduces, property-tested
against them. ``point_lookup_local`` routes one key to its bucket with a
Python port of Spark's xxhash64 (parity property-tested against the JVM
expression) and hands the visible row to Spark as Arrow;
``merge.table_changes`` and ``merge.compact`` use the same two calls. All
need a local data plane (``LakeTable.local_root``).

This is the interactive read an upsert-table consumer expects (≙ a Hive
consumer of the reference's published tables doing a keyed SELECT;
StunlockPartitionedHiveDataPublisher.java registers partitions precisely
so those reads prune). The Spark ``point_lookup`` stays the general path:
the local read FALLS BACK (the ``FALLBACK`` sentinel) for a remote data
plane, schema-version drift or oversized candidate sets rather than
re-implementing schema conformance driver-side. Reads stay O(candidate
files within one bucket): at 100 TB with 4096 buckets, typically 1-3
footers + 1-2 row groups, independent of table size.
"""

from __future__ import annotations

import os
from typing import Any

from gobblin_spark.lakehouse.predicate import bind, may_hold
from gobblin_spark.lakehouse.table import LakeTable, Snapshot

# --------------------------------------------------------------- xxhash64
# Python port of Spark's XxHash64 expression (seed chained across columns,
# initial seed 42): org.apache.spark.sql.catalyst.expressions.XxHash64 over
# sql/catalyst/.../XXH64.java. Parity is property-tested against
# F.xxhash64 in tests/test_pointread.py.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _hash_long(value: int, seed: int) -> int:
    value &= _M
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((value * _P2) & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def _hash_int(value: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def _hash_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            for_v = []
            for off in range(0, 32, 8):
                for_v.append(int.from_bytes(data[i + off:i + off + 8],
                                            "little"))
            v1 = (_rotl((v1 + for_v[0] * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + for_v[1] * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + for_v[2] * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + for_v[3] * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        word = int.from_bytes(data[i:i + 8], "little")
        h ^= (_rotl((word * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def xxhash64(values: list[Any], seed: int = 42,
             int_sizes: list[int] | None = None) -> int:
    """Spark's multi-column xxhash64: the seed chains through the columns;
    NULL leaves the running hash unchanged. Returns the SIGNED 64-bit
    value Spark's expression yields. ``int_sizes[i]`` ≤ 32 hashes value i
    with the int path (Spark hashes byte/short/int via hashInt, long via
    hashLong — the two differ)."""
    h = seed
    for idx, v in enumerate(values):
        if v is None:
            continue
        if isinstance(v, bool):
            h = _hash_int(int(v), h)
        elif isinstance(v, int):
            if int_sizes is not None and int_sizes[idx] <= 32:
                h = _hash_int(v, h)
            else:
                h = _hash_long(v, h)
        elif isinstance(v, str):
            h = _hash_bytes(v.encode("utf-8"), h)
        elif isinstance(v, (bytes, bytearray)):
            h = _hash_bytes(bytes(v), h)
        else:
            raise TypeError(f"unhashable key type {type(v).__name__}")
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(key_values: list[Any], n_buckets: int,
              int_sizes: list[int] | None = None) -> int:
    """pmod(xxhash64(cols...), B) — the Python twin of
    table.bucket_expr."""
    signed = xxhash64(key_values, int_sizes=int_sizes)
    return ((signed % n_buckets) + n_buckets) % n_buckets


# ------------------------------------------------------------ local read

FALLBACK = object()  # sentinel: caller should use the Spark path

_SEQ = "__seq"
_DELETED = "__deleted"
_CELLS = "__cells"
_DELSEQ = "__del_seq"
_META = (_SEQ, _DELETED, _CELLS, _DELSEQ)


def _int_size(spark_type: str) -> int:
    return {"byte": 8, "short": 16, "integer": 32}.get(spark_type, 64)


def key_bucket(snap: Snapshot, key: dict[str, Any]) -> int:
    """The bucket ``key`` hashes to under the snapshot's spec, with each
    integer key column hashed at its stored width — the routing both the
    local and the distributed point lookup use. Every merge key column
    must be given."""
    missing = [k for k in snap.merge_keys if k not in key]
    if missing:
        raise ValueError(
            f"point_lookup needs all merge keys; missing {missing}")
    type_by_name = {f.name: f.dataType.typeName()
                    for f in snap.schema.fields}
    return bucket_of(
        [key[k] for k in snap.bucket_cols], snap.n_buckets,
        int_sizes=[_int_size(type_by_name.get(k, "")) for k in
                   snap.bucket_cols])


def read_key_rows(
    table: LakeTable,
    files: list,
    keys: list[str],
    wanted: set[tuple] | None,
) -> dict[str, Any]:
    """One driver pass over ``files``: the stored rows whose merge key
    (tuple in ``keys`` order) is in ``wanted`` — every row when ``wanted``
    is None — as one pyarrow Table per file path that has any.

    The caller prunes ``files`` (``Predicate.prune``); a row group is
    skipped when its parquet stats exclude every wanted key. Within the
    surviving row groups only the key columns are read first; full rows
    are read only at the matching positions. The caller guarantees a local
    data plane and every file at the snapshot's schema version."""
    import pyarrow.parquet as pq

    def open_file(f):
        # Spark writes timestamps as INT96; read as nanoseconds they would
        # overflow outside 1677-2262 (a 9999-12-31 sentinel, say)
        return pq.ParquetFile(os.path.join(table.local_root, f.path),
                              coerce_int96_timestamp_unit="us")

    if wanted is None:
        return {f.path: open_file(f).read() for f in files}
    import pyarrow as pa
    import pyarrow.compute as pc

    distinct = {c: list({k[i] for k in wanted}) for i, c in enumerate(keys)}
    values: dict[str, list] = {}  # sorted, for bounds pruning
    for c, vals in distinct.items():
        try:
            values[c] = sorted(vals)
        except TypeError:  # unorderable mix: never prune on c
            pass
    value_sets: dict[tuple, Any] = {}  # (column, arrow type) → is_in set
    out: dict[str, Any] = {}
    for f in files:
        pf = open_file(f)
        md = pf.metadata
        idx_of = {c: i for i, c in enumerate(pf.schema_arrow.names)}
        groups = []
        for g in range(md.num_row_groups):
            stats = [(c, md.row_group(g).column(idx_of[c]).statistics)
                     for c in keys if c in idx_of]
            bounds = {c: (st.min, st.max) for c, st in stats
                      if st is not None and st.has_min_max}
            if may_hold(values, bounds.get):
                groups.append(g)
        if not groups:
            continue
        kt = pf.read_row_groups(groups, columns=keys)
        mask = None
        try:
            for c in keys:
                typ = kt.schema.field(c).type
                if (c, typ) not in value_sets:
                    value_sets[c, typ] = pa.array(distinct[c], type=typ)
                m = pc.is_in(kt.column(c), value_set=value_sets[c, typ])
                mask = m if mask is None else pc.and_(mask, m)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
            continue  # a wanted value of another type matches no row
        pos = pc.indices_nonzero(mask)
        if len(keys) > 1 and len(pos):
            # the per-column masks admit cross-products of wanted values;
            # keep only exact key tuples
            cand = kt.take(pos)
            got = zip(*(cand.column(c).to_pylist() for c in keys))
            pos = [p for p, k in zip(pos.to_pylist(), got) if k in wanted]
        if len(pos):
            out[f.path] = pf.read_row_groups(groups).take(pos)
    return out


def point_lookup_local(
    table: LakeTable,
    key: dict[str, Any],
    snap: Snapshot | None = None,
    max_candidate_files: int = 64,
):
    """Resolve one merge key without Spark, in ``snap`` (default: the
    current snapshot). Returns the visible row as a one-row pyarrow Table,
    None when the key is absent/deleted, or the FALLBACK sentinel when this
    path can't answer safely (a remote data plane, schema-version drift
    among candidate files, too many candidates)."""
    if snap is None:
        snap = table.snapshot()
    snap.merge_dialect  # a retired dialect fails before any read
    bucket = key_bucket(snap, key)
    keys = snap.merge_keys
    if table.local_root is None:
        return FALLBACK
    # files whose key_bounds exclude the key are pruned before the gates,
    # so they neither count as candidates nor force a schema fallback
    cand = bind(snap, buckets={bucket},
                key_in={k: [key[k]] for k in keys}).prune()
    if not cand:
        return None
    if len(cand) > max_candidate_files:
        return FALLBACK
    if any(f.schema_version != snap.schema_version for f in cand):
        # old-layout files need the registry's rename/widen conversions —
        # that logic lives in the Spark read path; don't duplicate it here
        return FALLBACK

    rows = read_key_rows(table, cand, keys, {tuple(key[k] for k in keys)})
    if not rows:
        return None
    state = fold_keys(snap, list(rows.values()))
    if state[_DELETED][0].as_py():
        return None
    return state.select([f.name for f in snap.schema.fields
                         if f.name not in _META])


# ------------------------------------------------------------ Arrow folds
# Duplicates of one event are byte-identical, so seq ties are
# content-neutral.


def fold_keys(snap: Snapshot, tables: list):
    """LWW-fold stored rows — pyarrow Tables read from files at the
    snapshot's schema version — per merge key, with the snapshot's
    dialect: one row per key, in key order, holding exactly the stored
    state ``stored_reduce`` outputs. A table not already in the
    snapshot's Arrow schema is cast to it first (Spark's INT96 timestamps
    read back without a time zone, the driver-side writer's with UTC)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(snap.schema)
    table = pa.concat_tables(
        [t if t.schema.equals(schema) else t.select(schema.names).cast(schema)
         for t in tables]).replace_schema_metadata()
    fold = _fold_cell if snap.merge_dialect == "cell" else _fold_row
    return fold(table, snap.merge_keys) if table.num_rows else table


def _key_sort(table, keys: list[str], *extra):
    """``table`` sorted by merge key, then by the ``extra`` arrays (nulls
    first, as Spark orders), and a mask that is True where a row's key
    differs from the previous row's — two nulls are one key, as in Spark's
    groupBy."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = [table[k] for k in keys] + list(extra)
    names = [str(i) for i in range(len(cols))]
    order = pc.sort_indices(pa.table(cols, names=names),
                            sort_keys=[(n, "ascending") for n in names],
                            null_placement="at_start")
    table = table.take(order)
    new_key = pa.array([True])
    if table.num_rows > 1:
        diff = None
        for k in keys:
            col = table[k].combine_chunks()
            a, b = col[:-1], col[1:]
            d = pc.or_(pc.fill_null(pc.not_equal(a, b), False),
                       pc.not_equal(pc.is_null(a), pc.is_null(b)))
            diff = d if diff is None else pc.or_(diff, d)
        new_key = pa.concat_arrays([new_key, diff])
    return table, new_key


def _fold_row(table, keys: list[str]):
    """Twin of lww_reduce over the stored shape: per key the row with the
    greatest (__seq, rank), rank 3 for a tombstone and 2 otherwise. The
    state is the winning row, a tombstone's payload included."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rank = pc.if_else(pc.fill_null(table[_DELETED], False), 3, 2)
    s, new_key = _key_sort(table, keys, table[_SEQ], rank)
    last = pa.concat_arrays([new_key[1:], pa.array([True])])
    return s.filter(last)


def _group_max(gid, arrays: dict) -> dict:
    """Per-group max of each array (null when a group has no value),
    indexed by group id."""
    import pyarrow as pa

    agg = (pa.table({"__g": gid, **arrays}).group_by("__g")
           .aggregate([(n, "max") for n in arrays]).sort_by("__g"))
    return {n: agg[f"{n}_max"] for n in arrays}


def _fold_cell(table, keys: list[str]):
    """Twin of cell_reduce_stored: per key, the max ``__del_seq`` is the
    delete cut; the key is live iff some non-tombstone row's ``__seq`` is
    above the cut; each payload column takes the value of its latest cell
    above the cut (``map_lookup`` on ``__cells``). A dead key keeps only
    its seqs: payload NULL, no cells."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    payload = [c for c in table.column_names
               if c not in keys and c not in _META]
    s, new_key = _key_sort(table, keys)
    gid = pc.subtract(pc.cumulative_sum(new_key.cast(pa.int64())), 1)
    firsts = pc.indices_nonzero(new_key)
    del_max = _group_max(gid, {"d": s[_DELSEQ]})["d"]
    cut = pc.fill_null(pc.take(del_max, gid), -(1 << 62))
    live = pc.and_kleene(pc.invert(s[_DELETED]), pc.greater(s[_SEQ], cut))
    cells = {}
    for c in payload:
        cs = pc.map_lookup(s[_CELLS], pa.scalar(c), "first")
        cells[c] = pc.if_else(pc.greater(cs, cut), cs, None)
    best = _group_max(gid, {_SEQ: pc.if_else(live, s[_SEQ], None), **cells})
    # each column's winning row: the last one holding the group's max cell
    row = pa.array(np.arange(s.num_rows))
    win = _group_max(gid, {
        c: pc.if_else(pc.equal(cs, pc.take(best[c], gid)), row, None)
        for c, cs in cells.items()})

    dead = pc.is_null(best[_SEQ])
    out = {k: pc.take(s[k], firsts) for k in keys}
    out.update({c: pc.if_else(dead, None, pc.take(s[c], win[c]))
                for c in payload})
    out.update({_SEQ: pc.coalesce(best[_SEQ], del_max), _DELETED: dead,
                _DELSEQ: del_max})
    # the cell map: each live key's winning cell seqs, in payload order
    n = len(firsts)
    valid = (np.array([pc.is_valid(best[c]) for c in payload], bool)
             .reshape(-1, n).T & ~np.asarray(dead)[:, None])
    seqs = np.array([pc.fill_null(best[c], 0) for c in payload],
                    np.int64).reshape(-1, n).T
    at, col = np.nonzero(valid)
    out[_CELLS] = pa.MapArray.from_arrays(
        np.concatenate([[0], np.cumsum(valid.sum(axis=1))]).astype(np.int32),
        pa.array(np.array(payload, dtype=object)[col], pa.string()),
        pa.array(seqs[at, col], pa.int64()),
        type=table.schema.field(_CELLS).type)
    return pa.table([out[c] for c in table.column_names],
                    schema=table.schema)
