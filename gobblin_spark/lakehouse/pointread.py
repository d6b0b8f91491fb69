"""Driver-side keyed reads: a millisecond primary-key read that never
launches a Spark job, and the resolver behind small changelog diffs.

The manifest already holds everything a keyed read needs — bucket
layout, per-file key bounds, and (inside each parquet footer) row-group
stats over the key-sorted compaction output. ``read_key_rows`` resolves a
SET of merge keys on the driver in one pass over candidate files: prune
by key_bounds and row-group stats, read the key columns first, and
materialise only the rows whose key is wanted. ``fold_keys`` LWW-folds
each key's rows into its stored state with the dialect's plain-Python
fold. ``point_lookup_local`` hashes one key to its bucket with a Python
port of Spark's xxhash64 (parity property-tested against the JVM
expression) and projects the visible row from that state;
``merge.table_changes`` resolves the keys of a small diff at two
snapshots with the same two calls.

This is the interactive read an upsert-table consumer expects (≙ a Hive
consumer of the reference's published tables doing a keyed SELECT;
StunlockPartitionedHiveDataPublisher.java registers partitions precisely
so those reads prune). Both merge dialects resolve locally, with
plain-Python twins of the stored reduces: row LWW, and 'cell' patches,
whose per-column write seqs let a few rows from several files fold in
any order. The Spark ``point_lookup`` stays the general path: the local
read FALLS BACK (returns the ``FALLBACK`` sentinel) for schema-version
drift or oversized candidate sets rather than re-implementing schema
conformance driver-side.

Scale shape: reads stay O(candidate files within one bucket) — at 100 TB
with 4096 buckets and key-bounds pruning that is typically 1-3 parquet
footers + 1-2 row groups, independent of table size. The only driver
memory used is the matched rows (≤ rows per key per file).
"""

from __future__ import annotations

import bisect
import os
from typing import Any

from gobblin_spark.lakehouse.table import LakeTable, Snapshot
from gobblin_spark.lakehouse.table import file_spec_n as _spec_of

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
    local and the distributed point lookup use."""
    missing = [k for k in snap.bucket_cols if k not in key]
    if missing:
        raise ValueError(
            f"point_lookup needs all merge keys; missing {missing}")
    type_by_name = {f.name: f.dataType.typeName()
                    for f in snap.schema.fields}
    return bucket_of(
        [key[k] for k in snap.bucket_cols], snap.n_buckets,
        int_sizes=[_int_size(type_by_name.get(k, "")) for k in
                   snap.bucket_cols])


def _may_hold(values: dict[str, list], bounds) -> bool:
    """False only when, for some key column, no wanted value (``values``:
    column → sorted distinct values) lies in that column's [min, max] —
    ``bounds(col)`` returns the pair or None when unknown. Per-column
    checks make this a sound superset for multi-column keys."""
    for col, vals in values.items():
        b = bounds(col)
        if b is None or b[0] is None or b[1] is None:
            continue
        try:
            i = bisect.bisect_left(vals, b[0])
            if i == len(vals) or vals[i] > b[1]:
                return False
        except TypeError:
            continue  # incomparable stats type: never prune on it
    return True


def read_key_rows(
    table: LakeTable,
    files: list,
    keys: list[str],
    wanted: set[tuple] | None,
) -> dict[str, list[dict]]:
    """One driver pass over ``files``: the stored rows whose merge key
    (tuple in ``keys`` order) is in ``wanted`` — every row when ``wanted``
    is None — grouped by file path.

    A file is skipped when its manifest key_bounds exclude every wanted
    key, a row group when its parquet stats do. Within the surviving row
    groups only the key columns are read first; full rows are read and
    materialised only at the matching positions. The caller guarantees
    every file is at the snapshot's schema version."""
    import pyarrow.parquet as pq

    if wanted is None:
        return {f.path: pq.ParquetFile(
                    os.path.join(table.root, f.path)).read().to_pylist()
                for f in files}
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
    out: dict[str, list[dict]] = {}
    for f in files:
        if not _may_hold(values, (f.key_bounds or {}).get):
            continue
        pf = pq.ParquetFile(os.path.join(table.root, f.path))
        md = pf.metadata
        idx_of = {c: i for i, c in enumerate(pf.schema_arrow.names)}
        groups = []
        for g in range(md.num_row_groups):
            stats = [(c, md.row_group(g).column(idx_of[c]).statistics)
                     for c in keys if c in idx_of]
            bounds = {c: (st.min, st.max) for c, st in stats
                      if st is not None and st.has_min_max}
            if _may_hold(values, bounds.get):
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
            out[f.path] = pf.read_row_groups(groups).take(pos).to_pylist()
    return out


def fold_keys(
    dialect: str,
    keys: list[str],
    value_cols: list[str],
    rows,
) -> dict[tuple, dict]:
    """LWW-fold stored ``rows`` (any iterable of row dicts) per merge key:
    key tuple → the key's stored state — payload, ``__seq``,
    ``__deleted`` and, for the 'cell' dialect, ``__cells`` and
    ``__del_seq`` — exactly the row the dialect's distributed stored
    reduce would output. ``value_cols`` are the payload columns without
    the keys."""
    fold = _fold_cell if dialect == "cell" else _fold_row
    by_key: dict[tuple, list[dict]] = {}
    for r in rows:
        by_key.setdefault(tuple(r[c] for c in keys), []).append(r)
    out = {}
    for k, rs in by_key.items():
        state = fold(rs, value_cols)
        state.update(zip(keys, k))
        out[k] = state
    return out


def point_lookup_local(
    table: LakeTable,
    key: dict[str, Any],
    snap: Snapshot | None = None,
    max_candidate_files: int = 64,
):
    """Resolve one merge key without Spark, in ``snap`` (default: the
    current snapshot). Returns the visible row as a plain dict, None when
    the key is absent/deleted, or the FALLBACK sentinel when this path
    can't answer safely (schema-version drift among candidate files, too
    many candidates)."""
    if snap is None:
        snap = table.snapshot()
    dialect = snap.merge_dialect
    bucket = key_bucket(snap, key)
    keys = snap.merge_keys
    missing = [k for k in keys if k not in key]
    if missing:
        raise ValueError(
            f"point_lookup needs all merge keys; missing {missing}")
    # files whose key_bounds exclude the key are pruned before the gates,
    # so they neither count as candidates nor force a schema fallback
    values = {k: [key[k]] for k in keys}
    cand = [f for f in snap.files
            if f.bucket == bucket % _spec_of(f, snap)
            and _may_hold(values, (f.key_bounds or {}).get)]
    if not cand:
        return None
    if len(cand) > max_candidate_files:
        return FALLBACK
    if any(f.schema_version != snap.schema_version for f in cand):
        # old-layout files need the registry's rename/widen conversions —
        # that logic lives in the Spark read path; don't duplicate it here
        return FALLBACK

    want = tuple(key[k] for k in keys)
    rows = read_key_rows(table, cand, keys, {want})
    cols = [f.name for f in snap.schema.fields if f.name not in _META]
    state = fold_keys(dialect, keys,
                      [c for c in cols if c not in keys],
                      (r for rs in rows.values() for r in rs)).get(want)
    if state is None or state[_DELETED]:
        return None
    return {c: state[c] for c in cols}


# ---------------------------------------------------- local dialect folds
# Plain-Python twins of merge.py's stored reduces over ONE key's candidate
# rows (a handful of rows read from pruned row groups). Each returns the
# key's stored state as the distributed fold outputs it (merge keys are
# added by fold_keys); duplicates of the same event are byte-identical, so
# seq ties are content-neutral.

_NEG = -(1 << 62)


def _fold_row(rows: list[dict], value_cols: list[str]) -> dict:
    """LWW by (__seq, tombstone-beats-upsert) — twin of lww_reduce over the
    stored shape (rank: delete 3, live 2). The state is the winning row,
    a tombstone's payload included."""
    def rank(r):
        return (r[_SEQ], 3 if r.get(_DELETED) else 2)
    return dict(max(rows, key=rank))


def _cells_map(r: dict) -> dict:
    cells = r.get(_CELLS) or {}
    if isinstance(cells, list):  # pyarrow map → list of (k, v) pairs
        cells = dict(cells)
    return cells


def _fold_cell(rows: list[dict], value_cols: list[str]) -> dict:
    """Twin of cell_reduce_stored: per-column latest CELL seq, cells at or
    below the key's max delete seq excluded; key live iff any non-tombstone
    row's __seq exceeds the max delete seq. A dead key keeps only its
    seqs: payload NULL, no cells."""
    dels = [r[_DELSEQ] for r in rows if r.get(_DELSEQ) is not None]
    del_max = max(dels) if dels else None
    last_del = _NEG if del_max is None else del_max
    live = [r[_SEQ] for r in rows
            if not r.get(_DELETED) and r[_SEQ] > last_del]
    if not live:
        return {**dict.fromkeys(value_cols), _SEQ: del_max,
                _DELETED: True, _CELLS: {}, _DELSEQ: del_max}
    maps = [_cells_map(r) for r in rows]
    out: dict[str, Any] = {}
    cells: dict[str, int] = {}
    for c in value_cols:
        vals = [
            (cs, r.get(c))
            for r, m in zip(rows, maps)
            for cs in [m.get(c)]
            if cs is not None and cs > last_del
        ]
        best = max(vals, key=lambda t: t[0]) if vals else None
        out[c] = best[1] if best else None
        if best:
            cells[c] = best[0]
    out.update({_SEQ: max(live), _DELETED: False, _CELLS: cells,
                _DELSEQ: del_max})
    return out
