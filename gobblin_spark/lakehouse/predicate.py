"""One predicate model: the clauses of a read or a delete, bound to one
snapshot's schema once (≙ an Iceberg expression bound to a schema, then
evaluated against both the manifest metrics and the rows).

``bind`` checks every column against the schema and coerces every probe —
a CLI string or a typed value — with ``coerce``. The bound ``Predicate``
then has the engine's one manifest-pruning routine (``prune``/``split``:
bucket residue, then key_bounds, value-stats blooms and value_bounds; a
missing statistic never prunes) and its one row filter (``filter``).
Value statistics describe stored rows, not the visible state: while MOR
deltas are outstanding a key's winning row may sit in a file they
exclude, so on such a snapshot only the bucket and key tests prune.
"""

from __future__ import annotations

import bisect
import datetime
import decimal
from dataclasses import dataclass, field
from typing import Any, Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gobblin_spark.lakehouse.table import (
    _BLOOM_TYPES,
    DataFile,
    Snapshot,
    bloom_may_contain,
    bloom_positions_py,
    file_spec_n,
)

_INT_TYPES = ("byte", "short", "integer", "long")
# column types a CLI string reaches only by parsing
_PARSERS = {
    "date": datetime.date.fromisoformat,
    "timestamp": datetime.datetime.fromisoformat,
    "timestamp_ntz": datetime.datetime.fromisoformat,
    "decimal": decimal.Decimal,
}


def coerce(value: Any, type_name: str) -> Any:
    """``value`` as a value of the column type ``type_name`` (Spark's
    ``DataType.typeName()``), so a bloom probe hashes what the writer
    recorded and a row filter compares like with like (ANSI mode would
    throw on an implicit cast). A typed value the type cannot convert
    passes through as it is. A string the type cannot take raises
    ValueError: a ``delete --where date_col=...`` that silently matched
    nothing would report success over retained data."""
    if value is None:
        return None
    try:
        if type_name == "string":
            return str(value)
        if type_name in _INT_TYPES:
            return int(value)
        if type_name in ("float", "double"):
            return float(value)
        if type_name == "boolean":
            if isinstance(value, bool):
                return value
            b = {"true": True, "false": False}.get(str(value).strip().lower())
            if b is not None:
                return b
    except (TypeError, ValueError, OverflowError):
        pass
    if not isinstance(value, str):
        return value
    parse = _PARSERS.get(type_name)
    if parse is None:
        raise ValueError(
            f"probe {value!r} cannot be coerced to column type {type_name}; "
            "pass a typed value or use a supported column type")
    try:
        return parse(value)
    except (ValueError, decimal.InvalidOperation) as exc:
        raise ValueError(f"probe {value!r} is not parseable as column type "
                         f"{type_name}") from exc


def may_hold(values: dict[str, list], bounds) -> bool:
    """False only when, for some column, no wanted value (``values``:
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


@dataclass
class Predicate:
    """Clauses bound to ``snap`` by ``bind``; every probe is typed."""

    snap: Snapshot
    types: dict[str, str]
    buckets: set[int] | None
    key_in: dict[str, list]  # column → distinct probes
    key_sorted: dict[str, list]  # key_in's orderable columns, sorted
    value_eq: dict[str, Any]  # column → probe; None means IS NULL
    value_range: dict[str, tuple]  # column → (lo, hi, lo_strict, hi_strict)
    given: tuple[dict, dict]  # (value_eq, value_range) as the caller gave
    # per-spec bucket residues and per-(column, m) bloom positions
    _residues: dict = field(default_factory=dict, init=False, repr=False)
    _positions: dict = field(default_factory=dict, init=False, repr=False)

    def prune(self, files: Iterable[DataFile] | None = None) -> list:
        """The files (default: the snapshot's) that may hold a match."""
        return self.split(self.snap.files if files is None else files)[0]

    def split(self, files: Iterable[DataFile]) -> tuple[list, list]:
        """(the files that may hold a match, the files that cannot)."""
        stats = int(self.snap.properties.get("mor_deltas", 0)) == 0
        hit, miss = [], []
        for f in files:
            ok = (self._in_buckets(f)
                  and may_hold(self.key_sorted, (f.key_bounds or {}).get)
                  and (not stats or self._stats_hit(f)))
            (hit if ok else miss).append(f)
        return hit, miss

    def _in_buckets(self, f: DataFile) -> bool:
        # residue-mapped across bucket-spec evolution: a file written
        # under spec s can hold current bucket b iff f.bucket == b % s
        if self.buckets is None:
            return True
        s = file_spec_n(f, self.snap)
        if s not in self._residues:
            self._residues[s] = {b % s for b in self.buckets}
        return f.bucket in self._residues[s]

    def _stats_hit(self, f: DataFile) -> bool:
        for c, v in self.value_eq.items():
            ent = (f.value_stats or {}).get(c)
            if ent is None or v is None or self.types[c] not in _BLOOM_TYPES:
                continue  # no sound bloom probe: keep the file
            m = int(ent["m"])
            if (c, m) not in self._positions:
                from gobblin_spark.lakehouse.pointread import _int_size

                self._positions[c, m] = bloom_positions_py(
                    v, m, int_size=_int_size(self.types[c]))
            if not bloom_may_contain(ent["b"], self._positions[c, m]):
                return False
        # bounds are over non-null values and a range clause never matches
        # NULL, so a file whose bounds exclude the interval has no match
        for c, (lo, hi, lo_strict, hi_strict) in self.value_range.items():
            b = (f.value_bounds or {}).get(c)
            try:
                if b and lo is not None and (
                        b[1] < lo or lo_strict and b[1] == lo):
                    return False
                if b and hi is not None and (
                        b[0] > hi or hi_strict and b[0] == hi):
                    return False
            except TypeError:
                continue  # incomparable stats type: never prune on it
        return True

    def filter(self, df: DataFrame, values: bool = True) -> DataFrame:
        """The clauses as a row filter. Key clauses may run before an LWW
        fold (they keep or drop all of a key's rows): ``values=False``
        applies only them. Value clauses belong on the visible rows."""
        for c, vals in self.key_in.items():
            df = df.filter(F.col(c).isin(vals))
        if not values:
            return df
        for c, v in self.value_eq.items():
            df = df.filter(F.col(c).isNull() if v is None
                           else F.col(c) == F.lit(v))
        for c, (lo, hi, lo_strict, hi_strict) in self.value_range.items():
            col = F.col(c)
            if lo is not None:
                df = df.filter(col > lo if lo_strict else col >= lo)
            if hi is not None:
                df = df.filter(col < hi if hi_strict else col <= hi)
        return df

    def render(self) -> dict[str, dict | None]:
        """The value clauses as the caller gave them, probes as strings:
        what the CLI prints and ``delete_where`` records in its commit."""
        eq, rng = self.given
        return {
            "where": {c: str(v) for c, v in eq.items()} or None,
            "where_range": {
                c: {k: v if v is None or isinstance(v, bool) else str(v)
                    for k, v in iv.items()}
                for c, iv in rng.items()} or None,
        }


def bind(
    snap: Snapshot,
    buckets: Iterable[int] | None = None,
    key_in: dict[str, Iterable] | None = None,
    value_eq: dict[str, Any] | None = None,
    value_range: dict[str, dict] | None = None,
) -> Predicate:
    """Bind ANDed clauses to ``snap``'s schema: ``buckets``, current-spec
    buckets; ``key_in``, key column → the values a matching row may hold;
    ``value_eq``, column → value (None: IS NULL); ``value_range``, column
    → {"lo", "hi", "lo_strict", "hi_strict"}, open where a bound is None.
    An unknown column raises ValueError naming it, as does a string probe
    its column type cannot take."""
    types = {f.name: f.dataType.typeName() for f in snap.schema.fields} \
        if key_in or value_eq or value_range else {}
    for arg, clauses in (("key", key_in), ("value_eq", value_eq),
                         ("value_range", value_range)):
        for c in clauses or {}:
            if c not in types:
                raise ValueError(f"{arg} column {c!r} not in schema")
    keys = {c: list({coerce(v, types[c]) for v in vals})
            for c, vals in (key_in or {}).items()}
    key_sorted = {}
    for c, vals in keys.items():
        try:
            key_sorted[c] = sorted(vals)
        except TypeError:
            pass  # unorderable probes: key_bounds never prune on c
    return Predicate(
        snap=snap,
        types=types,
        buckets=None if buckets is None else set(buckets),
        key_in=keys,
        key_sorted=key_sorted,
        value_eq={c: coerce(v, types[c])
                  for c, v in (value_eq or {}).items()},
        value_range={
            c: (coerce(iv.get("lo"), types[c]), coerce(iv.get("hi"), types[c]),
                bool(iv.get("lo_strict")), bool(iv.get("hi_strict")))
            for c, iv in (value_range or {}).items()},
        given=(dict(value_eq or {}), dict(value_range or {})),
    )
