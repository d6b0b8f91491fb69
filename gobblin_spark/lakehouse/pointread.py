"""Driver-side point lookup: a millisecond primary-key read that never
launches a Spark job.

The manifest already holds everything a single-key read needs — bucket
layout, per-file key bounds, and (inside each parquet footer) row-group
stats over the key-sorted compaction output. ``point_lookup_local``
resolves a merge key entirely on the driver: hash the key to its bucket
with a Python port of Spark's xxhash64 (parity property-tested against
the JVM expression), prune candidate files by bucket + key_bounds, read
only the surviving files' matching row groups via pyarrow, and LWW-fold
the handful of rows in plain Python.

This is the interactive read an upsert-table consumer expects (≙ a Hive
consumer of the reference's published tables doing a keyed SELECT;
StunlockPartitionedHiveDataPublisher.java registers partitions precisely
so those reads prune). All three merge dialects resolve locally
(plain-Python twins of the stored reduces — row LWW, 'column' patch,
'cell' per-column write seqs). The Spark ``point_lookup`` stays the
general path: the local read FALLS BACK (returns the ``FALLBACK``
sentinel) for schema-version drift or oversized candidate sets rather
than re-implementing schema conformance driver-side.

Scale shape: reads stay O(candidate files within one bucket) — at 100 TB
with 4096 buckets and key-bounds pruning that is typically 1-3 parquet
footers + 1-2 row groups, independent of table size. The only driver
memory used is the matched rows (≤ rows per key per file).
"""

from __future__ import annotations

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
_META = ("__seq", "__deleted", "__cells", "__del_seq")


def _bounds_exclude(f, key: dict[str, Any]) -> bool:
    if not f.key_bounds:
        return False  # unknown bounds: never prune (legacy manifests)
    for col, v in key.items():
        b = f.key_bounds.get(col)
        if b is None or b[0] is None or b[1] is None:
            continue
        if v < b[0] or v > b[1]:
            return True
    return False


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
    many candidates, unknown dialect)."""
    import pyarrow.parquet as pq

    if snap is None:
        snap = table.snapshot()
    bucket = key_bucket(snap, key)
    keys = snap.merge_keys
    cand = [f for f in snap.files
            if f.bucket == bucket % _spec_of(f, snap) and not _bounds_exclude(
                f, {k: key[k] for k in keys if k in key})]
    if not cand:
        return None
    if len(cand) > max_candidate_files:
        return FALLBACK
    if any(f.schema_version != snap.schema_version for f in cand):
        # old-layout files need the registry's rename/widen conversions —
        # that logic lives in the Spark read path; don't duplicate it here
        return FALLBACK

    eq = {k: key[k] for k in keys if k in key}
    matched: list[dict] = []
    for f in cand:
        path = os.path.join(table.root, f.path)
        pf = pq.ParquetFile(path)
        name_to_idx = {c: i for i, c in
                       enumerate(pf.schema_arrow.names)}
        groups = []
        for g in range(pf.metadata.num_row_groups):
            rg = pf.metadata.row_group(g)
            hit = True
            for col, v in eq.items():
                idx = name_to_idx.get(col)
                if idx is None:
                    continue
                st = rg.column(idx).statistics
                if st is None or not st.has_min_max:
                    continue
                if v < st.min or v > st.max:
                    hit = False
                    break
            if hit:
                groups.append(g)
        if not groups:
            continue
        tbl = pf.read_row_groups(groups)
        for row in tbl.to_pylist():
            if all(row.get(c) == v for c, v in eq.items()):
                matched.append(row)
    if not matched:
        return None
    fold = {"row": _fold_row, "column": _fold_patch,
            "cell": _fold_cell}.get(snap.merge_dialect)
    if fold is None:
        return FALLBACK
    payload_cols = [c for c in matched[0] if c not in _META]
    return fold(matched, payload_cols)


# ---------------------------------------------------- local dialect folds
# Plain-Python twins of merge.py's stored reduces over ONE key's candidate
# rows (a handful of rows read from pruned row groups). Each mirrors the
# distributed fold's semantics exactly; duplicates of the same event are
# byte-identical, so seq ties are content-neutral.

_NEG = -(1 << 62)


def _fold_row(rows: list[dict], payload_cols: list[str]):
    """LWW by (__seq, tombstone-beats-upsert) — twin of lww_reduce over the
    stored shape (rank: delete 3, live 2)."""
    def rank(r):
        return (r[_SEQ], 3 if r.get(_DELETED) else 2)
    best = max(rows, key=rank)
    if best.get(_DELETED):
        return None
    return {c: best[c] for c in payload_cols}


def _fold_patch(rows: list[dict], payload_cols: list[str]):
    """Twin of patch_reduce_stored ('column' dialect): per-column latest
    non-null among live rows after the key's last tombstone."""
    dels = [r[_SEQ] for r in rows if r.get(_DELETED)]
    last_del = max(dels) if dels else _NEG
    live = [r for r in rows if not r.get(_DELETED) and r[_SEQ] > last_del]
    if not live:
        return None
    out = {}
    for c in payload_cols:
        vals = [(r[_SEQ], r[c]) for r in live if r.get(c) is not None]
        out[c] = max(vals, key=lambda t: t[0])[1] if vals else None
    return out


def _cells_map(r: dict) -> dict:
    cells = r.get("__cells") or {}
    if isinstance(cells, list):  # pyarrow map → list of (k, v) pairs
        cells = dict(cells)
    return cells


def _fold_cell(rows: list[dict], payload_cols: list[str]):
    """Twin of cell_reduce_stored: per-column latest CELL seq, cells at or
    below the key's max delete seq excluded; key live iff any non-tombstone
    row's __seq exceeds the max delete seq."""
    dels = [r["__del_seq"] for r in rows if r.get("__del_seq") is not None]
    last_del = max(dels) if dels else _NEG
    live = any(not r.get(_DELETED) and r[_SEQ] > last_del for r in rows)
    if not live:
        return None
    out = {}
    for c in payload_cols:
        vals = [
            (cs, r.get(c))
            for r in rows
            for cs in [_cells_map(r).get(c)]
            if cs is not None and cs > last_del
        ]
        out[c] = max(vals, key=lambda t: t[0])[1] if vals else None
    return out
