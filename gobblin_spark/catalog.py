"""Multi-table catalog: name → (table root, state root, err root, props).

The reference registers published datasets in the Hive metastore so
downstream consumers address them by NAME instead of path
(gobblin-core/.../publisher/HiveRegistrationPublisher.java:56;
gobblin-core/src/main/java/gobblin/stunlock/
StunlockPartitionedHiveDataPublisher.java:297-317 registers each published
partition). This module is that delegation upgraded to code for the Spark
engine: a tiny CommitFs-backed registry that gives every CLI job
``--catalog ROOT --table name`` ergonomics.

Design notes:
- One JSON document per table under ``<root>/tables/<name>.json`` — CRUD
  is O(1) per table, LIST is one prefix listing; no global file to
  contend on when two jobs register concurrently.
- Creation is ``publish_if_absent`` (atomic, exactly one winner —
  link(2) locally, conditional PUT on object stores); updates are
  ``write_replace`` with last-writer-wins, which is fine for location
  metadata (the table's own manifest protocol guards data consistency).
- The catalog stores LOCATIONS and registration properties only. Schema,
  merge keys, dialect, versions live in the table manifest — the single
  source of truth; ``describe`` joins the two live rather than caching a
  copy that can go stale.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import asdict, dataclass, field
from typing import Any

from gobblin_spark.fsio import CommitConflict, CommitFs, LocalFs

_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


class CatalogError(RuntimeError):
    pass


@dataclass
class TableEntry:
    name: str
    table_root: str
    state_root: str | None = None
    err_root: str | None = None
    properties: dict[str, Any] = field(default_factory=dict)
    created_ms: int = 0
    updated_ms: int = 0

    def to_json(self) -> dict[str, Any]:
        return asdict(self)

    @staticmethod
    def from_json(d: dict[str, Any]) -> "TableEntry":
        return TableEntry(**d)


class Catalog:
    def __init__(self, root: str, fs: CommitFs | None = None):
        self.root = root
        self.fs = fs or LocalFs()
        self._dir = os.path.join(root, "tables")

    def _path(self, name: str) -> str:
        if not _NAME_RE.match(name or ""):
            raise CatalogError(
                f"invalid table name {name!r} (letters, digits, '.', '_', "
                "'-'; must start alphanumeric; max 128 chars)")
        return os.path.join(self._dir, f"{name}.json")

    # ------------------------------------------------------------- CRUD
    def register(
        self,
        name: str,
        table_root: str,
        state_root: str | None = None,
        err_root: str | None = None,
        properties: dict[str, Any] | None = None,
        overwrite: bool = False,
    ) -> TableEntry:
        path = self._path(name)
        now = int(time.time() * 1000)
        entry = TableEntry(
            name=name,
            table_root=table_root,
            state_root=state_root,
            err_root=err_root,
            properties=dict(properties or {}),
            created_ms=now,
            updated_ms=now,
        )
        self.fs.makedirs(self._dir)
        if overwrite:
            # pre-read ONLY here (to preserve created_ms); overwrite is
            # last-writer-wins by contract, so a racing read is fine —
            # the create path below must never read, or it races the
            # winner's in-flight publish
            if self.fs.exists(path):
                try:
                    entry.created_ms = TableEntry.from_json(
                        json.loads(self.fs.read(path))).created_ms
                except (ValueError, TypeError):
                    pass  # concurrent create in flight: keep now
            self.fs.write_replace(
                json.dumps(entry.to_json(), sort_keys=True).encode(), path)
            return entry
        try:
            self.fs.publish_if_absent(
                json.dumps(entry.to_json(), sort_keys=True).encode(), path)
        except CommitConflict as exc:
            raise CatalogError(
                f"table {name!r} already registered (pass overwrite=True / "
                "--overwrite to replace)") from exc
        return entry

    def get(self, name: str) -> TableEntry:
        path = self._path(name)
        if not self.fs.exists(path):
            raise CatalogError(
                f"no table named {name!r} in catalog {self.root}")
        return TableEntry.from_json(json.loads(self.fs.read(path)))

    def list(self) -> list[TableEntry]:
        if not self.fs.exists(self._dir):
            return []
        out = []
        for n in sorted(self.fs.listdir(self._dir)):
            if n.endswith(".json"):
                out.append(TableEntry.from_json(
                    json.loads(self.fs.read(os.path.join(self._dir, n)))))
        return out

    def update_properties(self, name: str, props: dict[str, Any]) -> TableEntry:
        e = self.get(name)
        e.properties.update(props)
        e.updated_ms = int(time.time() * 1000)
        self.fs.write_replace(
            json.dumps(e.to_json(), sort_keys=True).encode(),
            self._path(name))
        return e

    def drop(self, name: str) -> None:
        path = self._path(name)
        if not self.fs.exists(path):
            raise CatalogError(
                f"no table named {name!r} in catalog {self.root}")
        self.fs.remove(path)

    # -------------------------------------------------------- describe
    def describe(self, name: str, spark=None) -> dict[str, Any]:
        """Catalog entry joined LIVE with the table manifest (keys,
        dialect, version, files, rows come from the table itself — never
        a cached copy). Manifest reading needs no Spark session."""
        e = self.get(name)
        out = e.to_json()
        from gobblin_spark.lakehouse import LakeTable

        if LakeTable.exists(e.table_root, fs=self.fs):
            t = LakeTable(spark, e.table_root, fs=self.fs)
            snap = t.snapshot()
            out["table"] = {
                "version": snap.version,
                "merge_keys": snap.merge_keys,
                "bucket_cols": snap.bucket_cols,
                "n_buckets": snap.n_buckets,
                # stored value: a retired dialect is reported, not raised
                "merge_dialect": snap.properties.get("merge_dialect", "row"),
                "schema_version": snap.schema_version,
                "files": len(snap.files),
                "rows": sum(f.rows for f in snap.files),
                "bytes": sum(f.bytes for f in snap.files),
            }
        else:
            out["table"] = None
        return out
