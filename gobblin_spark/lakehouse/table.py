"""Snapshot-based ACID table format on Parquet (from scratch).

Why a custom format: the reference engine achieves atomic publish with a
two-phase staging→rename protocol plus a filesystem state store
(reference: gobblin-core/src/main/java/gobblin/writer/FsDataWriter.java:165-186
staging commit; gobblin-core/src/main/java/gobblin/publisher/BaseDataPublisher.java:190-244
final move; gobblin-metastore/src/main/java/gobblin/metastore/FsStateStore.java:55).
The Spark-native equivalent is a table format whose commit is a single atomic
metadata operation — Iceberg/Delta style. No Iceberg jars ship in this
environment, so the format is implemented here from first principles:

Layout::

    <root>/
      data/<write-uuid>/__bucket=<k>/part-*.parquet   (immutable data files)
      _meta/v0000000001.json                          (snapshot manifests)
      _meta/.tmp-*                                    (manifest staging)

Commit protocol: the manifest for version N is staged to a temp file and
published with ``os.link(tmp, vN.json)`` — a single atomic filesystem
operation that FAILS if vN already exists. That failure is the optimistic-
concurrency conflict signal (two writers racing to commit N). This mirrors
Delta Lake's transaction-log protocol and replaces the reference's
rename-with-retry publish (StunlockPartitionedHiveDataPublisher.java:137-163).

Data files are written by Spark directly into their final location under
``data/<uuid>/`` and only *referenced* by the manifest — an uncommitted write
leaves orphan files that are invisible to readers (≙ Gobblin's stale-staging
cleanup, AbstractJobLauncher.java:706-737) and removable by ``vacuum()``.

Scale notes (100 TB / 1000 executors):
- Commit cost is O(manifest), independent of data size. A manifest holds one
  row per live file; at ~1 GB/file that is ~10^5 entries for 100 TB — a few
  MB of JSON. (Production hardening would shard manifests Iceberg-style; the
  protocol is unchanged.)
- Readers plan with file-level pruning: hash-bucket pruning on the merge key
  and min/max `seq` range pruning, both recorded per file in the manifest, so
  a MERGE touching k buckets reads k/B of the table.
- The table is hash-bucketed on the merge key columns: co-locates MERGE
  shuffle, bounds the copy-on-write rewrite to affected buckets only.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field, replace
from functools import cached_property
from typing import Any, Iterable
from urllib.parse import unquote, urlsplit

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from gobblin_spark.fsio import DEFAULT_FS, CommitConflict, CommitFs

_META = "_meta"
_DATA = "data"
_V_DIGITS = 10


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic conflict)."""


@dataclass
class DataFile:
    path: str  # relative to table root
    bucket: int
    rows: int
    bytes: int
    schema_version: int
    min_seq: int | None = None
    max_seq: int | None = None
    # parquet-stats-derived: does this file contain tombstone rows?
    # (None = unknown/legacy manifest; treated as "maybe" by GC pruning)
    has_tombstones: bool | None = None
    # time-partition value (e.g. "2024-01-05-13") when the table has a
    # partition_spec; None for unpartitioned tables
    partition: str | None = None
    # True when the writer guarantees at most one row per merge key WITHIN
    # this file (LWW-reduced output: COW merge, compaction, bootstrap).
    # Raw MOR delta appends set False — a bucket holding such a
    # file needs LWW resolution even if it is the bucket's only file.
    # Default True keeps legacy manifests valid (everything written before
    # raw-append deltas existed was reduced).
    reduced: bool = True
    # Per-key-column [min, max] value bounds (string/numeric key columns
    # only; None = unknown/legacy → never pruned on). A point lookup skips
    # any file whose bounds exclude the probe key — within a bucket this
    # prunes MOR delta files (each delta holds only its batch's keys, a
    # narrow range) without reading them. ≙ Iceberg manifest-entry
    # lower_bounds/upper_bounds data skipping.
    key_bounds: dict[str, list] | None = None
    # Bucket-spec evolution (≙ Iceberg partition-spec evolution for
    # bucket[N] transforms): the modulus this file's ``bucket`` was
    # computed under. None = the spec in force before the table's FIRST
    # rescale (Snapshot.legacy_spec_n), which equals n_buckets on a table
    # that never rescaled. Reads map current-spec bucket b onto this
    # file via b % spec_n (exact, because rescale only multiplies).
    spec_n: int | None = None
    # Secondary-predicate skipping (≙ parquet column-index / Iceberg
    # bloom write option, lifted to the MANIFEST so planning skips whole
    # files without opening a footer): per configured non-key column, a
    # small bloom filter of the file's values — {"m": bits, "b": base64
    # bitmap}. Built executor-side in the same stats pass as key_bounds.
    # None/missing column = unknown → never pruned on (sound superset).
    value_stats: dict[str, dict] | None = None
    # Per stats column [min, max] of the file's NON-NULL values (same
    # columns as value_stats, same executor-side stats pass, two thin agg
    # columns each) — enables RANGE predicates (`--where 'col>=v'`) to
    # skip files at planning time, which a bloom cannot (≙ Iceberg
    # lower_bounds/upper_bounds on non-key columns). None/missing column
    # (legacy manifest or all-NULL file) → never pruned on.
    value_bounds: dict[str, list] | None = None

    def to_json(self) -> dict[str, Any]:
        return {
            "path": self.path,
            "bucket": self.bucket,
            "rows": self.rows,
            "bytes": self.bytes,
            "schema_version": self.schema_version,
            "min_seq": self.min_seq,
            "max_seq": self.max_seq,
            "has_tombstones": self.has_tombstones,
            "partition": self.partition,
            "reduced": self.reduced,
            "key_bounds": self.key_bounds,
            "spec_n": self.spec_n,
            "value_stats": self.value_stats,
            "value_bounds": self.value_bounds,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "DataFile":
        return DataFile(**d)


# time-partition layouts (≙ TimeBasedWriterPartitioner.java:50-167 path
# patterns yyyy/MM/dd/HH — flattened to one sortable partition value so
# lexicographic range pruning works; the nesting is a path detail)
PARTITION_PATTERNS = {
    "month": "yyyy-MM",
    "day": "yyyy-MM-dd",
    "hour": "yyyy-MM-dd-HH",
}


def partition_value_expr(column: str, granularity: str):
    """The writer-partitioner derivation: record timestamp → partition value
    (≙ TimeBasedWriterPartitioner.getPartitionPath). JVM expression, stays
    in codegen."""
    return F.date_format(F.col(column), PARTITION_PATTERNS[granularity])


@dataclass
class Snapshot:
    version: int
    schema_json: dict[str, Any]
    n_buckets: int
    bucket_cols: list[str]
    files: list[DataFile]
    schema_version: int = 1
    schema_log: list[dict[str, Any]] = field(default_factory=list)
    properties: dict[str, Any] = field(default_factory=dict)
    parent: int | None = None
    timestamp_ms: int = 0
    # Merge primary keys (LWW dedup identity). May be a superset of
    # bucket_cols; None in legacy manifests means keys == bucket_cols.
    key_cols: list[str] | None = None
    # Optional time partitioning: {"column": <ts col>, "granularity":
    # "month"|"day"|"hour"} (≙ TimeBasedWriterPartitioner +
    # TimePartitionedDataPublisher). Files record their partition value;
    # reads prune on it.
    partition_spec: dict[str, str] | None = None
    # Iceberg-style manifest sharding: when set, the snapshot JSON stores
    # only [{"name": "m-<uuid>.json", "n": count}] refs and the file list
    # lives in immutable shard files — commit cost is O(delta), not
    # O(live files). None = legacy inline "files" manifest.
    shard_refs: list[dict[str, Any]] | None = None
    # transient: (shard_name, [DataFile]) pairs as loaded — lets the next
    # commit reuse untouched shards byte-for-byte. Never serialized.
    shard_map: list[tuple[str, list["DataFile"]]] | None = field(
        default=None, repr=False, compare=False)

    @cached_property
    def schema(self) -> StructType:
        """Parsed once per Snapshot: a driver-side point lookup reads it
        several times. Callers must not mutate the returned StructType."""
        return StructType.fromJson(self.schema_json)

    @property
    def merge_keys(self) -> list[str]:
        """The key columns LWW merge/compaction must group by. Falls back to
        bucket_cols for manifests written before key_cols existed."""
        return self.key_cols if self.key_cols else self.bucket_cols

    @property
    def merge_dialect(self) -> str:
        """'row' (default): whole-row LWW — the max-seq event carries every
        column. 'cell': patch semantics — a null payload column in an
        update means unchanged; each stored column carries the seq that
        wrote it, so folds agree in any order. Stored in properties at
        create time and carried forward on every commit. Every read and
        write path asks here, so any other stored value raises."""
        d = self.properties.get("merge_dialect", "row")
        if d in ("row", "cell"):
            return d
        if d == "column":
            raise ValueError(
                "merge_dialect 'column' is retired: run `compact` once to "
                "migrate this table to 'cell'")
        raise ValueError(
            f"unknown merge_dialect {d!r} (expected 'row' or 'cell')")

    def to_json(self) -> dict[str, Any]:
        out = {
            "version": self.version,
            "parent": self.parent,
            "timestamp_ms": self.timestamp_ms,
            "schema": self.schema_json,
            "schema_version": self.schema_version,
            "schema_log": self.schema_log,
            "n_buckets": self.n_buckets,
            "bucket_cols": self.bucket_cols,
            "key_cols": self.key_cols,
            "partition_spec": self.partition_spec,
            "properties": self.properties,
        }
        if self.shard_refs is not None:
            out["shards"] = self.shard_refs
        else:
            out["files"] = [f.to_json() for f in self.files]
        return out

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        """Sharded manifests ('shards' key) come back with files=[] — the
        caller (LakeTable.snapshot) resolves the shard refs through its
        CommitFs and fills files + shard_map."""
        return Snapshot(
            version=d["version"],
            parent=d.get("parent"),
            timestamp_ms=d.get("timestamp_ms", 0),
            schema_json=d["schema"],
            schema_version=d.get("schema_version", 1),
            schema_log=d.get("schema_log", []),
            n_buckets=d["n_buckets"],
            bucket_cols=d["bucket_cols"],
            key_cols=d.get("key_cols"),
            partition_spec=d.get("partition_spec"),
            properties=d.get("properties", {}),
            shard_refs=d.get("shards"),
            files=[DataFile.from_json(f) for f in d.get("files", [])],
        )


def file_spec_n(f: DataFile, snap: Snapshot) -> int:
    """The bucket modulus ``f.bucket`` was computed under. Explicit on every
    file written after the table's first rescale; None means the pre-rescale
    spec (snapshot property ``legacy_spec_n``, set once at the first
    rescale), which is n_buckets itself on a never-rescaled table."""
    if f.spec_n:
        return f.spec_n
    return int(snap.properties.get("legacy_spec_n", 0)) or snap.n_buckets


def mapped_buckets(f: DataFile, snap: Snapshot) -> range:
    """The CURRENT-spec buckets this file's keys can fall into. A file
    written under spec s holds keys with hash ≡ f.bucket (mod s); under the
    current spec n (a multiple of s) those keys land in the n/s buckets
    congruent to f.bucket mod s. Current-spec files map to exactly
    themselves."""
    s = file_spec_n(f, snap)
    return range(f.bucket % s, snap.n_buckets, s)


def plan_rescale_factor(n_buckets: int, total_bytes: int,
                        target_bytes_per_bucket: int,
                        ceiling: int = 1 << 16) -> int:
    """Power-of-two bucket-spec growth factor that brings average bytes per
    bucket back under the target, clamped so ``n_buckets * factor`` never
    exceeds the spec ceiling (a non-power-of-two spec must not double past
    it). Returns 1 when no rescale is needed or possible. Pure driver math
    over manifest totals — shared by the engine's auto-rescale and the
    catalog maintenance sweep."""
    if n_buckets >= ceiling:
        return 1
    avg = total_bytes / max(1, n_buckets)
    if avg <= target_bytes_per_bucket:
        return 1
    factor = 2
    while (avg / factor > target_bytes_per_bucket
           and n_buckets * factor < ceiling):
        factor *= 2
    while factor > 1 and n_buckets * factor > ceiling:
        factor //= 2
    return max(1, factor)


# ------------------------------------------------------- value-stats bloom
# column types a bloom may be built on: the driver-side probe must hash the
# value bit-identically to the executor-side xxhash64, so only types with
# an exact Python twin (and an unambiguous string→value coercion for CLI
# probes) are allowed
_BLOOM_TYPES = ("string", "byte", "short", "integer", "long", "boolean")

# k=2 double-probe bloom over xxhash64: position 1 = pmod(h, m), position 2
# = pmod(h >>> 17, m). Both derivations exist bit-exactly in Spark SQL
# (executor-side build) and in the Python xxhash64 port (driver-side probe,
# pointread.py) — no UDF on either side.

def bloom_position_exprs(col: str, m: int) -> list[str]:
    """Spark SQL expressions yielding the two bloom positions of a column
    value (stay inside whole-stage codegen)."""
    return [
        f"pmod(xxhash64(`{col}`), {int(m)})",
        f"pmod(shiftrightunsigned(xxhash64(`{col}`), 17), {int(m)})",
    ]


def bloom_positions_py(value: Any, m: int, int_size: int = 64) -> list[int]:
    """Driver-side twin of bloom_position_exprs for one probe value."""
    from gobblin_spark.lakehouse.pointread import xxhash64

    h = xxhash64([value], int_sizes=[int_size])
    return [((h % m) + m) % m, ((h & ((1 << 64) - 1)) >> 17) % m]


def bloom_build(positions: Iterable[int], m: int) -> str:
    """base64 bitmap with the given bit positions set."""
    import base64

    bits = bytearray(m // 8)
    for p in positions:
        bits[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bits)).decode("ascii")


def bloom_may_contain(b64: str, positions: list[int]) -> bool:
    import base64

    bits = base64.b64decode(b64)
    return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)


def bucket_expr(bucket_cols: list[str], n_buckets: int):
    """Deterministic bucket id for a row: pmod(xxhash64(key...), B).

    JVM-side expression — stays inside whole-stage codegen; the same
    expression plans the shuffle for MERGE so bucket co-location is free.
    """
    cols = ", ".join(f"`{c}`" for c in bucket_cols)
    return F.expr(f"CAST(pmod(xxhash64({cols}), {int(n_buckets)}) AS INT)")


# Snapshot properties that describe the commit that wrote them, not the
# table: compaction's decision trace. A later commit does not inherit them.
_PER_COMMIT_PROPS = ("compact_path", "compact_reason")


def _inherited(properties: dict[str, Any]) -> dict[str, Any]:
    """The properties a new commit carries forward from ``properties``."""
    return {k: v for k, v in properties.items()
            if k not in _PER_COMMIT_PROPS}


def local_frame(spark: SparkSession, schema: StructType,
                rows) -> DataFrame:
    """A DataFrame over driver-held ``rows``: a pyarrow Table, or dicts
    keyed by column name.

    The rows reach the JVM as one Arrow table and plan as a local relation,
    so collecting the frame launches no Spark job. A Python list would go
    through a PythonRDD instead: one Spark job, with Python workers, per
    action."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        table = rows.select(arrow_schema.names).cast(arrow_schema)
    else:
        table = pa.Table.from_pylist(rows, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


# ------------------------------------------------------- manifest entries
# Key-column types whose [min, max] round-trips exactly through the JSON
# manifest: a type that round-trips lossily could prune wrongly.
_KEY_BOUND_TYPES = ("string", "int", "bigint", "smallint", "tinyint",
                    "double", "float")


def key_bound_cols(key_cols: list[str] | None,
                   schema: StructType) -> list[str]:
    """The key columns a written file records [min, max] bounds for."""
    names = set(schema.fieldNames())
    return [kc for kc in key_cols or [] if kc in names
            and schema[kc].dataType.simpleString() in _KEY_BOUND_TYPES]


def data_file_entry(
    path: str,
    bucket: int,
    rows: int,
    nbytes: int,
    schema_version: int,
    seq_bounds: tuple,
    tombstones: bool | None,
    key_bounds: dict[str, tuple],
    blooms: dict[str, set[int]],
    value_bounds: dict[str, tuple],
    partition: str | None = None,
    reduced: bool = True,
    spec_n: int | None = None,
    value_stats_m: int = 8192,
) -> DataFile:
    """One manifest entry from a written file's per-column aggregates, the
    one place both writers (the Spark stats scan and the driver-side Arrow
    writer) turn aggregates into DataFile fields. ``key_bounds`` and
    ``value_bounds`` map a column to the (min, max) of its non-null values,
    (None, None) when every value is null; ``blooms`` maps a stats column
    to the bloom bit positions of its values. A column with no bounds is
    left out, and an empty mapping records None (not tracked)."""
    def bounds(by_col: dict[str, tuple]) -> dict[str, list] | None:
        return {c: [lo, hi] for c, (lo, hi) in by_col.items()
                if lo is not None} or None

    lo, hi = seq_bounds
    return DataFile(
        path=path,
        bucket=bucket,
        rows=int(rows),
        bytes=int(nbytes),
        schema_version=schema_version,
        min_seq=None if lo is None else int(lo),
        max_seq=None if hi is None else int(hi),
        has_tombstones=None if tombstones is None else bool(tombstones),
        partition=partition or None,
        reduced=reduced,
        key_bounds=bounds(key_bounds),
        spec_n=spec_n,
        value_stats={
            c: {"m": value_stats_m, "b": bloom_build(p, value_stats_m)}
            for c, p in blooms.items()
        } or None,
        value_bounds=bounds(value_bounds),
    )


# Spark's parquet codec names → pyarrow's; a codec pyarrow cannot write
# (lzo) takes Spark's own default, snappy.
_PARQUET_CODECS = {"none": "none", "uncompressed": "none",
                   "snappy": "snappy", "gzip": "gzip", "zstd": "zstd",
                   "brotli": "brotli", "lz4": "lz4", "lz4raw": "lz4",
                   "lz4_raw": "lz4"}
# parquet-mr's dictionary page limit (parquet.dictionary.page.size)
_DICT_PAGE_BYTES = 1 << 20


def _plain_bytes(arr) -> int:
    """Size of ``arr``'s non-null values PLAIN-encoded."""
    import pyarrow.compute as pc

    try:
        return len(arr) * max(1, arr.type.bit_width // 8)
    except ValueError:  # variable width: 4-byte length prefix per value
        return 4 * len(arr) + (pc.sum(pc.binary_length(arr)).as_py() or 0)


def dictionary_columns(table) -> list[str]:
    """The columns of ``table`` to dictionary-encode, by parquet-mr's rule
    rather than pyarrow's encode-everything default: parquet-mr starts
    each column on a dictionary and falls back to PLAIN when the dictionary
    outgrows its page, or when the dictionary plus the bit-packed indices
    are not smaller than the plain values
    (FallbackValuesWriter.isCompressionSatisfying). Decided from the
    values, so a low-cardinality column keeps its dictionary and a
    near-unique one (hashes, free text, seqs) is written PLAIN. Nested and
    boolean columns stay PLAIN."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = []
    for name in table.column_names:
        vals = table.column(name).drop_null()
        if (not len(vals) or pa.types.is_nested(vals.type)
                or pa.types.is_boolean(vals.type)):
            continue
        uniq = pc.unique(vals)
        dict_bytes = _plain_bytes(uniq)
        index_bytes = len(vals) * max(1, (len(uniq) - 1).bit_length()) / 8
        if (dict_bytes <= _DICT_PAGE_BYTES
                and dict_bytes + index_bytes < _plain_bytes(vals)):
            out.append(name)
    return out


def _min_max(arr) -> tuple:
    """(min, max) of the non-null values as Spark's min/max computes them:
    NaN sorts above every number (pyarrow's min_max skips it)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mm = pc.min_max(arr)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if pa.types.is_floating(arr.type) and pc.any(pc.is_nan(arr)).as_py():
        nan = float("nan")
        return (nan if lo is None else lo), nan
    return lo, hi


class LakeTable:
    """A versioned Parquet table with atomic snapshot commits.

    All commit-protocol I/O goes through a CommitFs (gobblin_spark/fsio.py):
    the local impl publishes manifests via link(2); the documented HDFS /
    S3 strategies swap in create-exclusive / conditional-PUT without
    touching this class."""

    def __init__(self, spark: SparkSession, root: str,
                 fs: CommitFs | None = None, branch: str | None = None):
        self.spark = spark
        self.root = root
        self.fs = fs or DEFAULT_FS
        # branch handles share the table's data dir, shard pool and tags
        # but read/commit their OWN manifest chain under
        # _meta/branches/<name>/ (zero-copy fork; see create_branch)
        self.branch_name = branch
        # shard files are immutable once published → cache by name
        self._shard_cache: dict[str, list[DataFile]] = {}

    # ---------------------------------------------------------------- paths
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, _META)

    @property
    def _manifest_dir(self) -> str:
        """Where this handle's snapshot chain lives: the shared _meta dir
        for main, a per-branch subdir for branch handles. Shards and tags
        always live in the shared _meta dir."""
        if self.branch_name:
            return os.path.join(self._meta_dir, "branches", self.branch_name)
        return self._meta_dir

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"v{version:0{_V_DIGITS}d}.json")

    @property
    def local_root(self) -> str | None:
        """The table root as a local filesystem path when the data plane is
        local (a scheme-less or ``file:`` root), else None. Every
        driver-side path (point reads, changelog reads, compaction) asks
        here before it opens data files with pyarrow; a root of any other
        scheme (``hdfs://``, ``s3a://``) takes the Spark path."""
        u = urlsplit(self.root)
        if not u.scheme:
            return self.root
        return u.path if u.scheme == "file" else None

    def _relpath(self, uri: str) -> str:
        """A written file's manifest path, relative to the table root:
        taken between the URI paths of both sides. Spark reports
        percent-encoded URIs (``file:/…``); the root is a Hadoop path
        string, scheme-less, ``file:///…`` or another scheme's URI."""
        root = urlsplit(self.root)
        return os.path.relpath(unquote(urlsplit(uri).path),
                               root.path if root.scheme else self.root)

    # ------------------------------------------------------------ lifecycle
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: StructType,
        bucket_cols: list[str],
        n_buckets: int = 32,
        properties: dict[str, Any] | None = None,
        key_cols: list[str] | None = None,
        partition_spec: dict[str, str] | None = None,
        fs: CommitFs | None = None,
        stats_cols: list[str] | None = None,
        stats_bloom_bits: int = 8192,
    ) -> "LakeTable":
        """key_cols: the LWW merge primary keys; defaults to bucket_cols.
        bucket_cols MUST be a subset of key_cols — the bucket hash must be a
        function of the key, or keys that hash apart could never be
        co-located and compaction would collapse distinct keys.

        partition_spec: optional {"column", "granularity"} time partitioning
        — every write clusters rows into per-partition files and reads can
        prune by partition-value range."""
        if partition_spec is not None:
            if partition_spec.get("granularity") not in PARTITION_PATTERNS:
                raise ValueError(
                    f"granularity must be one of {list(PARTITION_PATTERNS)}"
                )
            if "column" not in partition_spec:
                raise ValueError("partition_spec needs a 'column'")
        keys = list(key_cols) if key_cols else list(bucket_cols)
        if not set(bucket_cols) <= set(keys):
            raise ValueError(
                f"bucket_cols {bucket_cols} must be a subset of key_cols {keys}"
            )
        props = dict(properties or {})
        if stats_cols:
            by_name = {f.name: f.dataType.typeName() for f in schema.fields}
            bad = [c for c in stats_cols if c not in by_name]
            if bad:
                raise ValueError(f"stats_cols not in schema: {bad}")
            untyped = [c for c in stats_cols
                       if by_name[c] not in _BLOOM_TYPES]
            if untyped:
                raise ValueError(
                    f"stats_cols must be string/integer/boolean columns "
                    f"(exact cross-engine hash): {untyped}")
            if stats_bloom_bits % 8 or stats_bloom_bits <= 0:
                raise ValueError("stats_bloom_bits must be a positive "
                                 "multiple of 8")
            props["value_stats_cols"] = list(stats_cols)
            props["value_stats_m"] = int(stats_bloom_bits)
        t = LakeTable(spark, root, fs=fs)
        t.fs.makedirs(t._meta_dir)
        t.fs.makedirs(os.path.join(root, _DATA))
        if t.current_version() is not None:
            raise FileExistsError(f"table already exists at {root}")
        snap = Snapshot(
            version=1,
            schema_json=schema.jsonValue(),
            n_buckets=n_buckets,
            bucket_cols=list(bucket_cols),
            key_cols=keys,
            partition_spec=partition_spec,
            files=[],
            properties=props,
            timestamp_ms=int(time.time() * 1000),
        )
        t._publish_manifest(snap)
        return t

    @staticmethod
    def exists(root: str, fs: CommitFs | None = None) -> bool:
        fs = fs or DEFAULT_FS
        meta = os.path.join(root, _META)
        if not fs.exists(meta):
            return False
        return any(
            n.startswith("v") and n.endswith(".json") for n in fs.listdir(meta)
        )

    def current_version(self) -> int | None:
        if not self.fs.exists(self._manifest_dir):
            return None
        versions = [
            int(n[1 : 1 + _V_DIGITS])
            for n in self.fs.listdir(self._manifest_dir)
            if n.startswith("v") and n.endswith(".json")
        ]
        return max(versions) if versions else None

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"no snapshots at {self.root}")
        snap = Snapshot.from_json(
            json.loads(self.fs.read(self._manifest_path(v))))
        if snap.shard_refs is not None:
            shard_map: list[tuple[str, list[DataFile]]] = []
            files: list[DataFile] = []
            for ref in snap.shard_refs:
                flist = self._load_shard(ref["name"])
                shard_map.append((ref["name"], flist))
                files.extend(flist)
            snap.files = files
            snap.shard_map = shard_map
        return snap

    # --------------------------------------------------------------- shards
    def _shard_path(self, name: str) -> str:
        return os.path.join(self._meta_dir, name)

    def _load_shard(self, name: str) -> list[DataFile]:
        cached = self._shard_cache.get(name)
        if cached is None:
            cached = [
                DataFile.from_json(f)
                for f in json.loads(self.fs.read(self._shard_path(name)))
            ]
            self._shard_cache[name] = cached
        return list(cached)

    def _write_shard(self, files: list[DataFile]) -> str:
        """Publish an immutable manifest shard; uuid names never collide, so
        a crashed commit only orphans a tiny JSON (vacuum removes it)."""
        name = f"m-{uuid.uuid4().hex}.json"
        self.fs.publish_if_absent(
            json.dumps([f.to_json() for f in files]).encode(),
            self._shard_path(name),
        )
        self._shard_cache[name] = list(files)
        return name

    def versions(self) -> list[int]:
        """Retained snapshot versions, ascending (expired ones are gone —
        the list is NOT necessarily contiguous from 1)."""
        if not self.fs.exists(self._manifest_dir):
            return []
        return sorted(
            int(n[1 : 1 + _V_DIGITS])
            for n in self.fs.listdir(self._manifest_dir)
            if n.startswith("v") and n.endswith(".json")
        )

    def history(self) -> list[Snapshot]:
        return [self.snapshot(i) for i in self.versions()]

    # --------------------------------------------------------------- commit
    def _publish_manifest(self, snap: Snapshot) -> None:
        """Atomic publish-if-absent of manifest vN: exactly one writer wins
        (link(2) locally; create-exclusive / conditional PUT on HDFS/S3 —
        see gobblin_spark/fsio.py for the strategies)."""
        try:
            self.fs.publish_if_absent(
                json.dumps(snap.to_json()).encode(),
                self._manifest_path(snap.version),
            )
        except CommitConflict as exc:
            raise ConcurrentCommitError(
                f"version {snap.version} already committed at {self.root}"
            ) from exc

    def commit(
        self,
        keep_files: Iterable[DataFile],
        add_files: Iterable[DataFile],
        properties: dict[str, Any] | None = None,
        schema: StructType | None = None,
        schema_version: int | None = None,
        schema_log_append: list[dict[str, Any]] | None = None,
        expected_version: int | None = None,
        n_buckets: int | None = None,
    ) -> Snapshot:
        """Commit a new snapshot: keep_files + add_files become the live set.

        ``expected_version`` enforces optimistic concurrency: if the table
        advanced since the caller read it, the commit raises instead of
        clobbering (≙ Gobblin's JobLock single-writer guarantee done
        optimistically; FileBasedJobLock.java).

        ``n_buckets`` overrides the bucket spec (rescale_buckets only).
        """
        base = self.snapshot()
        if expected_version is not None and base.version != expected_version:
            raise ConcurrentCommitError(
                f"expected v{expected_version}, table is at v{base.version}"
            )
        props = _inherited(base.properties)
        props.update(properties or {})
        keep = list(keep_files)
        add = list(add_files)
        shard_map, shard_refs = self._shard_file_list(base, keep, add)
        snap = Snapshot(
            version=base.version + 1,
            parent=base.version,
            timestamp_ms=int(time.time() * 1000),
            schema_json=(schema or base.schema).jsonValue(),
            schema_version=schema_version or base.schema_version,
            schema_log=base.schema_log + (schema_log_append or []),
            n_buckets=n_buckets or base.n_buckets,
            bucket_cols=base.bucket_cols,
            key_cols=base.key_cols,
            partition_spec=base.partition_spec,
            properties=props,
            files=[f for _, fl in shard_map for f in fl],
            shard_refs=shard_refs,
            shard_map=shard_map,
        )
        self._publish_manifest(snap)
        return snap

    # Bound on referenced shards per snapshot: a pure-append workload adds
    # one shard per commit; when the count exceeds _MAX_SHARDS the commit
    # coalesces the smallest shards down to _COALESCE_TO. Amortized commit
    # cost stays O(delta + table/_MAX_SHARDS).
    _MAX_SHARDS = 64
    _COALESCE_TO = 32

    def _shard_file_list(
        self, base: Snapshot, keep: list[DataFile], add: list[DataFile]
    ) -> tuple[list[tuple[str, list[DataFile]]], list[dict[str, Any]]]:
        """Assemble the new snapshot's shard set with O(delta) writes:

        - base shards whose files are ALL kept are referenced byte-for-byte
          (no read, no write — the ref is carried over);
        - base shards that lost files are rewritten with their survivors;
        - add_files (plus any kept file not present in base, e.g. carried
          in from a branch) land in ONE new shard.

        ≙ Iceberg's manifest-list reuse; replaces the single inline file
        list whose rewrite made every commit O(live files).
        """
        keep_paths = {f.path for f in keep}
        leftover: dict[str, DataFile] = {f.path: f for f in keep}
        base_shards = base.shard_map
        if base_shards is None:
            # legacy inline manifest (or fresh table): treat the inline list
            # as one pseudo-shard that always needs rewriting
            base_shards = [("", base.files)] if base.files else []
        shard_map: list[tuple[str, list[DataFile]]] = []
        for name, flist in base_shards:
            kept_here = [f for f in flist if f.path in keep_paths]
            for f in kept_here:
                leftover.pop(f.path, None)
            if not kept_here:
                continue
            if len(kept_here) == len(flist) and name:
                shard_map.append((name, flist))  # untouched: reuse ref
            else:
                shard_map.append((self._write_shard(kept_here), kept_here))
        new = add + list(leftover.values())
        if new:
            shard_map.append((self._write_shard(new), new))
        if len(shard_map) > self._MAX_SHARDS:
            shard_map.sort(key=lambda item: len(item[1]))
            n_merge = len(shard_map) - self._COALESCE_TO + 1
            merged = [f for _, fl in shard_map[:n_merge] for f in fl]
            shard_map = shard_map[n_merge:]
            if merged:
                shard_map.append((self._write_shard(merged), merged))
        refs = [{"name": name, "n": len(fl)} for name, fl in shard_map]
        return shard_map, refs

    # ---------------------------------------------------------------- write
    def write_data_files(
        self,
        df: DataFrame,
        seq_col: str | None = None,
        schema_version: int | None = None,
        reduced: bool = True,
        sort_cols: list[str] | None = None,
        splits_by_bucket: dict[int, int] | None = None,
    ) -> list[DataFile]:
        """Write df as new data files (NOT yet visible — commit separately).

        Every output file belongs to exactly one bucket (partitionBy), so
        bucket pruning on read and bounded copy-on-write always hold. One
        repartition shuffle clusters each bucket (and, when time-
        partitioned, each partition cell) into a single task, so every
        write — COW merge, MOR delta, compaction, bootstrap — leaves
        exactly one file per non-empty bucket (≙ Iceberg's
        write.distribution-mode=hash). ``reduced`` records whether the
        rows are already one per key (False for a raw MOR delta).

        ``splits_by_bucket``: bucket → k. Rows of that bucket are hash-
        spread (by merge key) over k tasks → k files, bounding the single-
        task/single-file size of a GIANT bucket (one tenant holding most of
        the table) without touching cold buckets. The split key is the
        bucket hash re-hashed, so one merge key's rows stay in ONE split
        file (LWW candidates never straddle splits needlessly) and
        key_eq/row-group skipping keep working; split files cover the
        bucket's whole key range, so their key_bounds are wider than a
        range split would give — the documented tradeoff for not sampling
        boundaries.
        """
        snap = self.snapshot()
        sv = schema_version or snap.schema_version
        write_id = uuid.uuid4().hex
        out_dir = os.path.join(self.root, _DATA, write_id)
        part_cols = ["__bucket"]
        out = df.withColumn(
            "__bucket", bucket_expr(snap.bucket_cols, snap.n_buckets)
        )
        if snap.partition_spec is not None:
            # time-partitioned layout: __part=<value>/__bucket=<k>/... so
            # each file belongs to exactly one (partition, bucket) cell and
            # reads prune on either axis
            out = out.withColumn(
                "__part",
                partition_value_expr(snap.partition_spec["column"],
                                     snap.partition_spec["granularity"]),
            )
            part_cols = ["__part", "__bucket"]
        split_col = None
        if splits_by_bucket and any(k > 1 for k in splits_by_bucket.values()):
            # re-hash the bucket hash: deterministic, key-stable split id
            pairs = []
            for b, k in sorted(splits_by_bucket.items()):
                if k > 1:
                    pairs += [F.lit(int(b)), F.lit(int(k))]
            kmap = F.create_map(*pairs)
            # re-hash the 64-bit KEY hash (not the bucket id, which is
            # constant within a bucket): varies per key, and all of one
            # key's rows land in the same split file
            key_h = F.xxhash64(*[F.col(c) for c in snap.bucket_cols])
            split_col = F.pmod(
                F.xxhash64(key_h),
                F.coalesce(F.element_at(kmap, F.col("__bucket")), F.lit(1)),
            )
        shuffle_cols = [F.col(c) for c in part_cols]
        n_parts = max(1, snap.n_buckets)
        if split_col is not None:
            out = out.withColumn("__split", split_col)
            shuffle_cols.append(F.col("__split"))
            n_parts += sum(k - 1 for k in splits_by_bucket.values() if k > 1)
        out = out.repartition(n_parts, *shuffle_cols)
        if split_col is not None:
            out = out.drop("__split")  # projection: no reshuffle
        if sort_cols:
            # key-clustered layout: rows sorted by merge key within each
            # task → parquet row-group min/max stats become narrow ranges,
            # so a point lookup's key-equality predicate skips most row
            # groups INSIDE the file (the in-file complement of the
            # manifest-level key_bounds skipping). One per-partition sort,
            # no extra shuffle — used by compaction/bootstrap, never the
            # per-batch hot apply path.
            out = out.sortWithinPartitions(
                *part_cols, *[F.col(c) for c in sort_cols])
        (
            out.write.partitionBy(*part_cols)
            .mode("overwrite")
            .parquet(out_dir)
        )
        return self._index_written_files(
            out_dir, write_id, sv, seq_col,
            reduced=reduced,
            key_cols=snap.key_cols,
            spec_n=snap.n_buckets,
            value_stats_cols=snap.properties.get("value_stats_cols"),
            value_stats_m=int(snap.properties.get("value_stats_m", 8192)),
        )

    def _index_written_files(
        self, out_dir: str, write_id: str, schema_version: int,
        seq_col: str | None, reduced: bool = True,
        key_cols: list[str] | None = None,
        spec_n: int | None = None,
        value_stats_cols: list[str] | None = None,
        value_stats_m: int = 8192,
    ) -> list[DataFile]:
        """Build DataFile entries EXECUTOR-SIDE: one distributed,
        column-pruned scan over the freshly written files, grouped by the
        ``_metadata`` hidden column — the driver receives exactly one stats
        row per file and only assembles the manifest.

        Why not driver-side parquet footer reads (the previous design): at
        10^5 files a compaction commit would serialize 10^5 footer fetches
        through the driver — on an object store that is 10^5 round trips in
        the commit path. Here the stats job reads only (seq_col, __deleted,
        key cols) — thin columns of data the cluster just wrote (page-cache
        warm locally, tiny range reads remotely) — and scales with
        executors.
        Bucket/partition come from the file PATH (regexp on
        _metadata.file_path), never from partition-column type inference,
        so partition values like '2024-01-05' stay verbatim strings."""
        # one LIST to know whether anything was written (a zero-row write
        # leaves only _SUCCESS, and spark.read.parquet would fail on it).
        # DATA-plane listing: the files were written by Spark's own
        # writer, so list them through Hadoop's FileSystem for the actual
        # output URI (file://, hdfs://, s3a://) — the metadata CommitFs
        # may live on a different store entirely (manifests in S3, data
        # via s3a is the production split)
        if not any(
            p.endswith(".parquet") for p in self._walk_data_files(out_dir)
        ):
            return []
        df = self.spark.read.parquet(out_dir)
        data_cols = set(df.columns)
        fp = F.col("_metadata.file_path")
        keys = [
            fp.alias("__fp"),
            F.col("_metadata.file_size").alias("__fsize"),
            F.regexp_extract(fp, r"__bucket=(-?\d+)", 1)
            .cast("int").alias("__fbucket"),
            F.regexp_extract(fp, r"__part=([^/]+)", 1).alias("__fpart"),
        ]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        if seq_col is not None and seq_col in data_cols:
            aggs += [
                F.min(seq_col).cast("long").alias("__min_seq"),
                F.max(seq_col).cast("long").alias("__max_seq"),
            ]
        else:
            aggs += [
                F.lit(None).cast("long").alias("__min_seq"),
                F.lit(None).cast("long").alias("__max_seq"),
            ]
        if "__deleted" in data_cols:
            aggs.append(
                F.max(F.col("__deleted").cast("boolean"))
                .alias("__tombstones")
            )
        else:
            aggs.append(
                F.lit(None).cast("boolean").alias("__tombstones"))
        # per-key-column value bounds for manifest-level data skipping —
        # same stats pass, two thin extra columns per key col
        bound_cols = key_bound_cols(key_cols, df.schema)
        for kc in bound_cols:
            aggs += [F.min(kc).alias(f"__kmin_{kc}"),
                     F.max(kc).alias(f"__kmax_{kc}")]
        # value-stats blooms ride the SAME executor-side stats pass: two
        # bounded collect_sets of bit positions per configured column
        # (each ≤ m entries), never the raw values
        vs_cols = [c for c in (value_stats_cols or []) if c in data_cols]
        for c in vs_cols:
            e1, e2 = bloom_position_exprs(c, value_stats_m)
            aggs += [
                F.collect_set(F.expr(e1)).alias(f"__vb1_{c}"),
                F.collect_set(F.expr(e2)).alias(f"__vb2_{c}"),
                # [min,max] of non-null values: range-predicate skipping
                F.min(c).alias(f"__vmin_{c}"),
                F.max(c).alias(f"__vmax_{c}"),
            ]
        stats = df.groupBy(*keys).agg(*aggs).collect()
        return [
            data_file_entry(
                self._relpath(r["__fp"]),
                r["__fbucket"] if r["__fbucket"] is not None else -1,
                r["__rows"], r["__fsize"], schema_version,
                (r["__min_seq"], r["__max_seq"]), r["__tombstones"],
                {kc: (r[f"__kmin_{kc}"], r[f"__kmax_{kc}"])
                 for kc in bound_cols},
                {c: set(r[f"__vb1_{c}"]) | set(r[f"__vb2_{c}"])
                 for c in vs_cols},
                {c: (r[f"__vmin_{c}"], r[f"__vmax_{c}"]) for c in vs_cols},
                partition=r["__fpart"],
                reduced=reduced,
                spec_n=spec_n,
                value_stats_m=value_stats_m,
            )
            for r in stats
        ]

    def write_local_files(
        self, snap: Snapshot, parts: Iterable[tuple[int, Any]],
        seq_col: str | None = None,
    ) -> list[DataFile]:
        """Driver-side twin of ``write_data_files`` for a small rewrite on a
        local data plane (``local_root``): one parquet file per non-empty
        bucket from a pyarrow Table already in the snapshot's stored shape
        and key order (``parts``: (bucket, table) pairs, consumed one at a
        time, so a generator bounds the driver to one bucket's rows), under
        the usual ``data/<write-id>/__bucket=<k>/`` layout, at the
        snapshot's schema version and bucket spec. NOT yet visible —
        commit separately.

        Each DataFile is built from the in-memory table: no listing and no
        stats re-scan. The codec is the session's
        ``spark.sql.parquet.compression.codec`` and the dictionary choice
        parquet-mr's (``dictionary_columns``), so the files are about the
        size Spark's writer makes."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from gobblin_spark.lakehouse.pointread import _int_size

        codec = _PARQUET_CODECS.get(self.spark.conf.get(
            "spark.sql.parquet.compression.codec", "snappy").lower(),
            "snappy")
        schema = snap.schema
        types = {f.name: f.dataType.typeName() for f in schema.fields}
        bound_cols = key_bound_cols(snap.key_cols, schema)
        vs_cols = [c for c in snap.properties.get("value_stats_cols") or []
                   if c in types]
        m = int(snap.properties.get("value_stats_m", 8192))
        write_id = uuid.uuid4().hex
        out: list[DataFile] = []
        for b, t in parts:
            if not t.num_rows:
                continue
            rel = os.path.join(_DATA, write_id, f"__bucket={b}",
                               f"part-{b:05d}-{write_id}.c000.parquet")
            full = os.path.join(self.local_root, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            pq.write_table(t, full, compression=codec,
                           use_dictionary=dictionary_columns(t))
            out.append(data_file_entry(
                rel, b, t.num_rows, os.stat(full).st_size,
                snap.schema_version,
                _min_max(t[seq_col]) if seq_col in types else (None, None),
                (pc.any(t["__deleted"]).as_py()
                 if "__deleted" in types else None),
                {c: _min_max(t[c]) for c in bound_cols},
                {c: {p for v in pc.unique(t[c]).to_pylist()
                     for p in bloom_positions_py(v, m, _int_size(types[c]))}
                 for c in vs_cols},
                {c: _min_max(t[c]) for c in vs_cols},
                spec_n=snap.n_buckets,
                value_stats_m=m,
            ))
        return out

    def append(self, df: DataFrame, properties: dict[str, Any] | None = None,
               seq_col: str | None = None) -> Snapshot:
        """Append-only commit (no key dedup) — ≙ APPEND_ONLY extract type
        (gobblin-api/.../source/workunit/Extract.java:48)."""
        snap = self.snapshot()
        new_files = self.write_data_files(df, seq_col=seq_col)
        return self.commit(
            keep_files=snap.files,
            add_files=new_files,
            properties=properties,
            expected_version=snap.version,
        )

    def overwrite(self, df: DataFrame, properties: dict[str, Any] | None = None,
                  seq_col: str | None = None) -> Snapshot:
        """Full-snapshot replace — ≙ SNAPSHOT_ONLY extract type."""
        snap = self.snapshot()
        new_files = self.write_data_files(df, seq_col=seq_col)
        return self.commit(
            keep_files=[],
            add_files=new_files,
            properties=properties,
            expected_version=snap.version,
        )

    # ----------------------------------------------------------------- read
    def _conform_exprs(self, snap: Snapshot, file_sv: int) -> list:
        """SELECT expressions conforming a file written at schema_version
        ``file_sv`` to the snapshot's current schema.

        Applies the schema_log ops (add / widen / rename) that happened after
        the file was written — Avro-resolution-style read-time evolution
        (reference: AvroUtils.convertRecordSchema,
        gobblin-utility/src/main/java/gobblin/util/AvroUtils.java:158), so
        old files are never rewritten on schema change.
        """
        # Reconstruct the column list as of file_sv by replaying the log.
        current = snap.schema
        # name in current schema -> expression over the file's columns
        renames: dict[str, str] = {}  # current name -> historical name at file_sv
        added: set[str] = set()
        for op in snap.schema_log:
            if op["v"] <= file_sv:
                continue
            if op["op"] == "rename":
                # column named op["new"] now was op["old"] in the file
                hist = renames.get(op["old"], op["old"])
                renames[op["new"]] = hist
                renames.pop(op["old"], None)
            elif op["op"] == "add":
                added.add(op["col"])
            # widen: handled by the cast below
        # SQL strings (selectExpr), not Columns: py4j round-trips per
        # operator are serial driver cost (see Planner.batch_predicate)
        exprs = []
        for f_ in current.fields:
            typ = f_.dataType.simpleString()
            if f_.name in added:
                exprs.append(f"CAST(NULL AS {typ}) AS `{f_.name}`")
            elif f_.name == "__cells" and renames:
                # cell-dialect per-column seq map: keys are the column
                # names AS WRITTEN, so renamed columns must have their map
                # keys rewritten too or their cells lose the seq race
                cases = " ".join(
                    f"WHEN k = '{hist}' THEN '{cur_name}'"
                    for cur_name, hist in renames.items()
                )
                exprs.append(
                    f"transform_keys(`__cells`, (k, v) -> "
                    f"CASE {cases} ELSE k END) AS `__cells`")
            else:
                src = renames.get(f_.name, f_.name)
                exprs.append(f"CAST(`{src}` AS {typ}) AS `{f_.name}`")
        return exprs

    def read(
        self,
        version: int | None = None,
        buckets: set[int] | None = None,
        seq_range: tuple[int, int] | None = None,
        partition_range: tuple[str, str] | None = None,
        partitions: set[str] | None = None,
        key_eq: dict[str, Any] | None = None,
        value_eq: dict[str, Any] | None = None,
        value_range: dict[str, dict] | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot, with file-level pruning.

        buckets: only files in these hash buckets (merge-key pruning).
        seq_range: (low, high] pruning on the per-file seq min/max stats.
        partition_range: inclusive [lo, hi] on the time-partition value
          (values are zero-padded date strings, so lexicographic compare is
          chronological) — the partition-pruned read of a time-partitioned
          target (≙ reading one day/hour of a TimePartitionedDataPublisher
          layout without listing the rest).
        partitions: explicit partition-value set.
        key_eq, value_eq, value_range: ``predicate.bind``'s clauses (one
          value per key probe), pruning files only — rows are not filtered,
          and value statistics prune no file while MOR deltas are
          outstanding.
        """
        from gobblin_spark.lakehouse.predicate import bind

        snap = self.snapshot(version)
        files = bind(snap, buckets=buckets,
                     key_in={c: [v] for c, v in (key_eq or {}).items()},
                     value_eq=value_eq, value_range=value_range).prune()
        if seq_range is not None:
            lo, hi = seq_range
            files = [
                f
                for f in files
                if f.min_seq is None or (f.max_seq > lo and f.min_seq <= hi)
            ]
        if partition_range is not None:
            plo, phi = partition_range
            files = [
                f for f in files
                if f.partition is not None and plo <= f.partition <= phi
            ]
        if partitions is not None:
            files = [f for f in files if f.partition in partitions]
        return self.read_file_set(files, snap)

    def read_file_set(
        self, files: list[DataFile], snap: Snapshot | None = None
    ) -> DataFrame:
        """Read an explicit list of manifest files, conforming each file to
        the snapshot's CURRENT schema via the schema_log (grouped by the
        schema_version each file was written with — typically one group).
        Used by read() and by maintenance rewrites (GC/compaction), which
        must never bypass schema conformance: a raw parquet read over
        mixed-version files silently nulls renamed columns."""
        if snap is None:
            snap = self.snapshot()
        if not files:
            return local_frame(self.spark, snap.schema, [])
        by_sv: dict[int, list[str]] = {}
        for f_ in files:
            by_sv.setdefault(f_.schema_version, []).append(
                os.path.join(self.root, f_.path)
            )
        parts: list[DataFrame] = []
        for sv, paths in sorted(by_sv.items()):
            df = self.spark.read.parquet(*paths)
            if sv != snap.schema_version:
                df = df.selectExpr(*self._conform_exprs(snap, sv))
            else:
                df = df.select(*[F.col(f_.name) for f_ in snap.schema.fields])
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def buckets_of(self, df: DataFrame) -> set[int]:
        """Distinct buckets touched by df's keys (driver-side plan metadata;
        O(B) result, never O(rows))."""
        snap = self.snapshot()
        rows = (
            df.select(bucket_expr(snap.bucket_cols, snap.n_buckets).alias("b"))
            .distinct()
            .collect()
        )
        return {r["b"] for r in rows}

    # ------------------------------------------------------------- maintain
    # ------------------------------------------------------------- tags
    # Named snapshot refs (≙ Iceberg tags): a tag pins a version under a
    # stable name — consumers read "release-1" instead of remembering v41,
    # and RETENTION RESPECTS TAGS (expire_snapshots never drops a tagged
    # version, so the pin is durable, not advisory). One JSON doc per tag
    # under _meta/tags/, written with write_replace (last set wins,
    # atomic on every CommitFs impl).
    @property
    def _tags_dir(self) -> str:
        return os.path.join(self._meta_dir, "tags")

    def set_tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: current) under ``name``. Overwrites an
        existing tag (LWW, like catalog registration)."""
        self._require_main("set_tag")
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"bad tag name: {name!r}")
        v = int(version) if version else self.current_version()
        if v is None or not self.fs.exists(self._manifest_path(v)):
            raise ValueError(f"no snapshot v{v} to tag")
        self.fs.makedirs(self._tags_dir)
        doc = json.dumps({"name": name, "version": v,
                          "created_ms": int(time.time() * 1000)})
        self.fs.write_replace(doc.encode(),
                              os.path.join(self._tags_dir, f"{name}.json"))
        return v

    def tags(self) -> dict[str, int]:
        if not self.fs.exists(self._tags_dir):
            return {}
        out = {}
        for n in self.fs.listdir(self._tags_dir):
            if n.endswith(".json"):
                d = json.loads(self.fs.read(
                    os.path.join(self._tags_dir, n)))
                out[d["name"]] = int(d["version"])
        return out

    def resolve_tag(self, name: str) -> int:
        # tags name MAIN-chain versions; resolving one against a branch
        # chain (which diverges after its fork base) would silently read
        # the wrong snapshot
        self._require_main("resolve_tag")
        p = os.path.join(self._tags_dir, f"{name}.json")
        if not self.fs.exists(p):
            raise KeyError(f"no tag {name!r}")
        return int(json.loads(self.fs.read(p))["version"])

    def drop_tag(self, name: str) -> None:
        self._require_main("drop_tag")
        p = os.path.join(self._tags_dir, f"{name}.json")
        if self.fs.exists(p):
            self.fs.remove(p)

    # -------------------------------------------------------------- branches
    # Zero-copy branches + write-audit-publish (≙ Iceberg branch refs /
    # the WAP pattern; the reference's analog is speculative-publish via
    # staging dirs, BaseDataPublisher.java:190-244, done here at the
    # snapshot-metadata level instead of file moves). A branch is a fork of
    # the snapshot chain: its manifests live under _meta/branches/<name>/
    # while data files, manifest shards and tags stay SHARED with main —
    # creating a branch writes one small JSON (O(1) at any table size;
    # contrast clone.py, which byte-copies data for DR). Writers commit to
    # the branch chain with the same optimistic protocol; main never sees
    # branch state until fast_forward publishes the branch head as main's
    # next version in ONE atomic publish_if_absent. Audit = run any read
    # (fingerprint, quality policies, row counts) against the branch handle
    # before publishing. vacuum() treats every branch's history as live, so
    # a branch's exclusive files are reclaimed only after drop_branch.
    _BRANCH_MARKER_SUFFIX = ".branch.json"

    def _branches_dir(self) -> str:
        return os.path.join(self._meta_dir, "branches")

    def _require_main(self, op: str) -> None:
        if self.branch_name:
            raise ValueError(
                f"{op} must be called on the main table handle, not the "
                f"branch handle {self.branch_name!r}")

    def branches(self) -> dict[str, int]:
        """name -> fork-base main version, from the atomic creation
        markers (marker files, not directory listings, so the listing is
        exact on flat object stores too)."""
        d = self._branches_dir()
        if not self.fs.exists(d):
            return {}
        out = {}
        for n in self.fs.listdir(d):
            if n.endswith(self._BRANCH_MARKER_SUFFIX):
                doc = json.loads(self.fs.read(os.path.join(d, n)))
                out[doc["name"]] = int(doc["base_version"])
        return out

    def branch(self, name: str) -> "LakeTable":
        """A handle onto an existing branch's chain (same root/fs). A
        marker without a manifest is a creator that crashed between its
        two publishes: the fork image is republished here."""
        self._require_main("branch")
        marker = os.path.join(self._branches_dir(),
                              f"{name}{self._BRANCH_MARKER_SUFFIX}")
        if not self.fs.exists(marker):
            raise KeyError(f"no branch {name!r} at {self.root}")
        b = LakeTable(self.spark, self.root, fs=self.fs, branch=name)
        if b.current_version() is None:
            base = json.loads(self.fs.read(marker))["base_version"]
            self._publish_fork_image(b, self.snapshot(int(base)))
        return b

    def _publish_fork_image(self, b: "LakeTable", base: Snapshot) -> None:
        """The branch's first manifest: ``base`` republished into the
        branch dir at the SAME version number (shard refs reused
        byte-for-byte). Idempotent — publish_if_absent decides, and a
        concurrent repairer publishing the same image is benign."""
        self.fs.makedirs(b._manifest_dir)
        props = {**base.properties, "branch_name": b.branch_name,
                 "branch_base_version": base.version}
        try:
            b._publish_manifest(replace(
                base, timestamp_ms=int(time.time() * 1000),
                properties=props))
        except ConcurrentCommitError:
            pass

    def create_branch(self, name: str,
                      version: int | None = None) -> "LakeTable":
        """Fork the chain at ``version`` (default: current) — metadata-only.

        The branch's first manifest is the base snapshot republished into
        the branch dir at the SAME version number (shard refs reused
        byte-for-byte), so branch reads, commits, compaction and time
        travel all work unchanged through the branch handle. The creation
        marker is published with publish_if_absent: exactly one creator
        wins, even on object stores. A crash between the marker and the
        fork image is repaired by the next ``branch(name)``."""
        self._require_main("create_branch")
        if (not name or "/" in name or name.startswith(".")
                or name.endswith(".json")):
            raise ValueError(f"bad branch name: {name!r}")
        base = self.snapshot(version)
        self.fs.makedirs(self._branches_dir())
        marker = os.path.join(self._branches_dir(),
                              f"{name}{self._BRANCH_MARKER_SUFFIX}")
        doc = json.dumps({"name": name, "base_version": base.version,
                          "created_ms": int(time.time() * 1000)})
        try:
            self.fs.publish_if_absent(doc.encode(), marker)
        except CommitConflict as exc:
            raise FileExistsError(
                f"branch {name!r} already exists at {self.root}") from exc
        b = LakeTable(self.spark, self.root, fs=self.fs, branch=name)
        self._publish_fork_image(b, base)
        return b

    def drop_branch(self, name: str) -> None:
        """Remove the branch's manifests + marker. Its exclusive data
        files/shards become unreferenced and the next vacuum() reclaims
        them; files shared with main (the fork image) stay live through
        main's history."""
        self._require_main("drop_branch")
        b = LakeTable(self.spark, self.root, fs=self.fs, branch=name)
        if self.fs.exists(b._manifest_dir):
            self.fs.remove_tree(b._manifest_dir)
        marker = os.path.join(self._branches_dir(),
                              f"{name}{self._BRANCH_MARKER_SUFFIX}")
        if self.fs.exists(marker):
            self.fs.remove(marker)

    def fast_forward(self, name: str) -> Snapshot:
        """Atomically publish branch ``name``'s head as main's next
        version (write-audit-publish). Requires main to still be at the
        branch's fork base — if main advanced, the audited state no longer
        describes "main + this branch's changes" and the publish raises
        ConcurrentCommitError (re-fork, re-audit, retry). The arbiter is
        the same publish_if_absent on main's v(base+1) that every commit
        uses, so a racing ingest commit and a fast-forward cannot both
        land. O(1) metadata; no data file or shard is touched. The branch
        is left intact (its audit history stays browsable until
        drop_branch)."""
        self._require_main("fast_forward")
        head = self.branch(name).snapshot()
        base = head.properties.get("branch_base_version")
        if base is None:
            raise ValueError(
                f"branch {name!r} head has no recorded fork base")
        base = int(base)
        if head.version == base:
            raise ValueError(
                f"branch {name!r} has no commits beyond its fork base "
                f"v{base}; nothing to publish")
        cur = self.current_version()
        if cur != base:
            raise ConcurrentCommitError(
                f"fast-forward {name!r}: main is at v{cur} but the branch "
                f"forked at v{base} — main advanced since the audit; "
                f"re-fork and re-audit")
        props = dict(head.properties)
        props.pop("branch_name", None)
        props.pop("branch_base_version", None)
        props["published_from_branch"] = name
        props["branch_head_version"] = head.version
        snap = replace(head, version=base + 1, parent=base,
                       timestamp_ms=int(time.time() * 1000),
                       properties=props)
        self._publish_manifest(snap)
        return snap

    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> list[int]:
        """Drop old snapshot manifests so ``vacuum`` can reclaim the data
        files only they reference (≙ Iceberg's expire_snapshots; the
        reference's analog is the state store retaining only recent job
        states, FsDatasetStateStore current.jst aliasing).

        Keeps the newest ``keep_last`` snapshots always; with
        ``older_than_ms`` set, additionally keeps any snapshot committed at
        or after that timestamp. Returns the expired version numbers.

        Why this matters at 100 TB: without expiration, every COW rewrite
        and compaction keeps its pre-image files live forever (vacuum
        retains anything ANY snapshot references), so storage grows as the
        integral of churn. Expiration is metadata-only and O(expired
        manifests); the actual file reclaim stays vacuum's job, so a crash
        between the two is harmless (expired-but-unvacuumed files are just
        orphans). Time travel and ``table_changes`` to expired versions
        raise FileNotFoundError. TAGGED versions are always kept — a tag
        is a durable retention pin, not advisory metadata."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        # tags pin MAIN-chain versions only; a branch chain's version ints
        # are a different lineage after the fork, so pins don't apply there
        pinned = set() if self.branch_name else set(self.tags().values())
        versions = self.versions()
        candidates = versions[:-keep_last] if keep_last else versions
        expired = [
            v
            for v in candidates
            if v not in pinned
            and (older_than_ms is None
                 or self.snapshot(v).timestamp_ms < older_than_ms)
        ]
        for v in expired:
            self.fs.remove(self._manifest_path(v))
        return expired

    def rescale_buckets(self, new_n: int) -> Snapshot:
        """Grow the bucket spec to ``new_n`` (an integer multiple of the
        current spec) — METADATA-ONLY, O(1) commit at any table size.

        Why it must exist at 100 TB: the bucket count fixed at create time
        bounds merge/compaction parallelism and file sizes; a table that
        grows 100× needs more buckets, and a full rewrite to get them would
        be an O(table) outage. Here (≙ Iceberg partition-spec evolution for
        bucket[N] transforms):

        - existing files keep their recorded bucket under their OLD spec;
          the snapshot records ``legacy_spec_n`` once so None-spec files
          stay interpretable, and every later write records its spec
          explicitly;
        - reads map current-spec bucket b onto an old file via
          b % old_spec — exact pruning, never a superset miss, because
          new_n is a multiple of every spec ever in force;
        - writes (merges, deltas, compaction rewrites) immediately use the
          new spec, so normal compaction churn migrates the table
          file-by-file with zero dedicated rewrite jobs.

        Only growth by an integer factor is allowed: a non-multiple (or a
        shrink) would break the residue mapping and with it every bucket
        prune on pre-rescale files.

        Concurrent-writer safe: losing the optimistic commit race to an
        ingest/compaction commit just re-reads the winner and retries —
        the rescale is metadata-only, so the retry is free."""
        last_exc: Exception | None = None
        for _ in range(8):
            snap = self.snapshot()
            if new_n == snap.n_buckets:
                return snap
            if new_n <= 0 or new_n % snap.n_buckets != 0:
                raise ValueError(
                    f"rescale to {new_n}: must be a positive integer "
                    f"multiple of the current spec {snap.n_buckets} "
                    f"(residue-mapped pruning on existing files requires "
                    f"divisibility)")
            props = {
                "legacy_spec_n": int(
                    snap.properties.get("legacy_spec_n", 0))
                or snap.n_buckets,
            }
            try:
                return self.commit(
                    keep_files=snap.files,
                    add_files=[],
                    properties=props,
                    expected_version=snap.version,
                    n_buckets=new_n,
                )
            except ConcurrentCommitError as exc:
                last_exc = exc
                continue
        raise last_exc  # type: ignore[misc]

    def rollback(self, to_version: int) -> Snapshot:
        """Restore a previous snapshot's state as a NEW commit (≙ Iceberg
        rollback_to_snapshot): the target's file set, schema, schema_version
        and schema_log become the live state under version current+1.
        History is preserved — time travel to the in-between versions keeps
        working until they are expired — and the operation is metadata-only
        (no data file is touched: O(manifest), not O(table), at any size).
        Sharded manifests are reused byte-for-byte; vacuum keeps the
        restored files live because the new snapshot references them.

        Table op only: the ingest state store's watermarks are untouched, so
        a subsequent ingest run will NOT re-apply the undone events (they
        are committed per its checkpoint). To replay them into the rolled-
        back table, point the job at a fresh --state root.
        """
        target = self.snapshot(to_version)
        cur = self.snapshot()
        if to_version == cur.version:
            return cur
        props = _inherited(target.properties)
        props["rollback_to"] = to_version
        props["rollback_from"] = cur.version
        snap = Snapshot(
            version=cur.version + 1,
            parent=cur.version,
            timestamp_ms=int(time.time() * 1000),
            schema_json=target.schema_json,
            schema_version=target.schema_version,
            schema_log=target.schema_log,
            n_buckets=target.n_buckets,
            bucket_cols=target.bucket_cols,
            key_cols=target.key_cols,
            partition_spec=target.partition_spec,
            properties=props,
            files=target.files,
            shard_refs=target.shard_refs,
            shard_map=target.shard_map,
        )
        self._publish_manifest(snap)
        return snap

    def _walk_data_files(self, root: str):
        """DATA-plane listing: Hadoop's FileSystem for the table URI (what
        Spark's writer actually produced — file://, hdfs://, s3a://). The
        metadata CommitFs may be a different store (hybrid deployment:
        manifests via S3Fs, data via s3a); falls back to the CommitFs for
        sparkless handles (local maintenance paths)."""
        if self.spark is None:
            yield from self.fs.walk_files(root)
            return
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(root)
        hfs = p.getFileSystem(conf)
        if not hfs.exists(p):
            return
        it = hfs.listFiles(p, True)
        while it.hasNext():
            f = it.next().getPath()
            u = f.toUri()
            yield u.getPath() if u.getScheme() in (None, "file") else str(f)

    def _remove_data_file(self, path: str) -> None:
        if self.spark is None:
            self.fs.remove(path)
            return
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf).delete(p, False)

    def vacuum(self) -> int:
        """Delete data files not referenced by any snapshot (orphans from
        failed writes) — ≙ cleanupStagingData (AbstractJobLauncher.java:706).
        Also removes manifest shards no snapshot references (orphans from
        commits that crashed between shard write and manifest publish).
        Data files are listed/removed on the DATA plane (Hadoop FS for the
        table URI); manifest shards on the metadata CommitFs.

        Branch-aware: every branch's retained history counts as live too
        (branches share main's data dir and shard pool), so a branch's
        exclusive files survive until drop_branch removes its chain."""
        self._require_main("vacuum")
        live: set[str] = set()
        live_shards: set[str] = set()
        # the data-plane listing yields local paths without a file: scheme
        base = self.local_root or self.root
        handles = [self] + [
            LakeTable(self.spark, self.root, fs=self.fs, branch=n)
            for n in self.branches()
        ]
        for h in handles:
            for snap in h.history():
                for f_ in snap.files:
                    live.add(os.path.normpath(os.path.join(base, f_.path)))
                for name, _fl in snap.shard_map or []:
                    live_shards.add(name)
        removed = 0
        data_root = os.path.join(self.root, _DATA)
        for full in self._walk_data_files(data_root):
            full = os.path.normpath(full)
            if full.endswith(".parquet") and full not in live:
                self._remove_data_file(full)
                removed += 1
        for name in self.fs.listdir(self._meta_dir):
            if name.startswith("m-") and name.endswith(".json") \
                    and name not in live_shards:
                self.fs.remove(self._shard_path(name))
                removed += 1
        self.fs.prune_empty_dirs(data_root)
        return removed

    def stats(self) -> dict[str, Any]:
        snap = self.snapshot()
        return {
            "version": snap.version,
            "files": len(snap.files),
            "rows": sum(f.rows for f in snap.files),
            "bytes": sum(f.bytes for f in snap.files),
            "buckets": snap.n_buckets,
        }
