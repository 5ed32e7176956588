"""Versioned JSON-manifest catalog — the engine's transactional core.

The reference delegates transactions to the VAST server (begin/commit/
rollback RPCs, vastdb/_internal.py:1697-1733; snapshot isolation with a
server txid, vastdb/transaction.py:59-90). Spark has no transactions, so we
emulate them Delta-style (SURVEY.md §1.1): every bucket keeps an append-only
chain of immutable manifest versions; a transaction pins the version that was
current when it began (snapshot isolation for readers), accumulates changes
locally, and commits by writing version N+1 with O_EXCL — the filesystem is
the arbiter. Commit replays the change-set on top of the *latest* manifest
and raises ``Conflict`` when another transaction touched the same objects
(matching reference semantics in vastdb/tests/test_tables.py:688-757,
869-882).

Snapshots (reference: ``bucket/.snapshot/<name>`` listing,
vastdb/bucket.py:43-73) are just named pointers to manifest versions — time
travel is free because versions are immutable.

Scale note: the manifest holds per-file metadata (path, row count, row-id
base, sort bounds). At 100 TB / millions of files this JSON would be replaced
by the same design with Avro/Parquet manifest segments (Iceberg-style); the
commit protocol and object model are unchanged.
"""

from __future__ import annotations

import bisect
import json
import os
import re
import tempfile
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterator

from ..errors import (
    Conflict,
    MissingBucket,
    MissingSchema,
    MissingSnapshot,
    MissingTable,
    SchemaExists,
    TableExists,
)

CATALOG_DIR = "_catalog"
CURRENT_FILE = "CURRENT"

# name of the per-table imports-bookkeeping side table
# (reference: vastdb/_internal.py:154 "vastdb-imported-objects")
IMPORTED_OBJECTS_TABLE_NAME = "vastdb-imported-objects"


@dataclass
class FileEntry:
    """One data file of a table."""

    path: str
    rows: int
    row_id_base: int = -1  # -1 => file carries a physical _row_id column
    min_row_id: int = -1
    max_row_id: int = -1
    sorted_by: list[str] = field(default_factory=list)
    partition: dict[str, Any] = field(default_factory=dict)
    # file-column-name -> physical-column-name, for imported files whose
    # columns were named by the user (None = file already uses physical names)
    column_map: dict[str, str] | None = None
    # logical column -> [min, max] (JSON scalars), recorded for sort-key
    # columns; enables manifest-level file pruning (plans/pruning.py)
    col_stats: dict[str, list] = field(default_factory=dict)
    # deletion vectors: parquet sidecars of deleted $row_ids belonging to
    # this file (column ``deleted_row_id``). Batches are disjoint by
    # construction (each delete matches only still-live rows), so dv_rows
    # is exact without reading them. Purged whenever the file is rewritten.
    dv_paths: list[str] = field(default_factory=list)
    dv_rows: int = 0

    @property
    def has_physical_row_id(self) -> bool:
        return self.row_id_base < 0

    @property
    def live_rows(self) -> int:
        return self.rows - self.dv_rows

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "rows": self.rows,
            "row_id_base": self.row_id_base,
            "min_row_id": self.min_row_id,
            "max_row_id": self.max_row_id,
            "sorted_by": self.sorted_by,
            "partition": self.partition,
            "column_map": self.column_map,
            "col_stats": self.col_stats,
            "dv_paths": self.dv_paths,
            "dv_rows": self.dv_rows,
        }

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(
            path=d["path"],
            rows=d["rows"],
            row_id_base=d.get("row_id_base", -1),
            min_row_id=d.get("min_row_id", -1),
            max_row_id=d.get("max_row_id", -1),
            sorted_by=list(d.get("sorted_by", [])),
            partition=dict(d.get("partition", {})),
            column_map=d.get("column_map"),
            col_stats=dict(d.get("col_stats", {})),
            dv_paths=list(d.get("dv_paths", [])),
            dv_rows=d.get("dv_rows", 0),
        )

    def row_id_range(self) -> tuple[int, int]:
        """Inclusive [min, max] row-id span of this file."""
        if self.has_physical_row_id:
            return (self.min_row_id, self.max_row_id)
        return (self.row_id_base, self.row_id_base + self.rows - 1)


@dataclass
class TableEntry:
    """Catalog state of one table (reference: table + TableStats +
    sorting/vector/projection metadata, vastdb/_internal.py:829-842)."""

    name: str
    schema_name: str
    arrow_schema_b64: str
    files: list[FileEntry] = field(default_factory=list)
    next_row_id: int = 0
    sorting_key: list[str] = field(default_factory=list)
    sorting_score: int = 0
    sorting_done: bool = False
    use_external_row_ids: bool = False
    vector_index: dict | None = None
    projections: dict[str, dict] = field(default_factory=dict)
    matviews: dict[str, dict] = field(default_factory=dict)
    blob_expansions: dict[str, dict] = field(default_factory=dict)
    properties: dict[str, Any] = field(default_factory=dict)

    @property
    def num_rows(self) -> int:
        """Physical rows across files (deletion-vector'd rows included)."""
        return sum(f.rows for f in self.files)

    @property
    def live_rows(self) -> int:
        """Visible rows: physical minus deletion-vector'd."""
        return sum(f.rows - f.dv_rows for f in self.files)

    def referenced_paths(self) -> Iterator[str]:
        """Every path this entry references: data files, their DV
        sidecars, the files of its projections, materialized views and
        vector index, and its column indexes' sidecar dirs (a dir covers
        the files under it)."""
        for fe in self.files:
            yield fe.path
            yield from fe.dv_paths
        derived = [*self.projections.values(), *self.matviews.values()]
        if self.vector_index:
            derived.append(self.vector_index)
        for cfg in derived:
            for fj in cfg.get("files", []):
                yield fj["path"]
        for cidx in self.properties.get("column_indexes", {}).values():
            yield from cidx.get("sidecars") or []

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "schema_name": self.schema_name,
            "arrow_schema_b64": self.arrow_schema_b64,
            "files": [f.to_json() for f in self.files],
            "next_row_id": self.next_row_id,
            "sorting_key": self.sorting_key,
            "sorting_score": self.sorting_score,
            "sorting_done": self.sorting_done,
            "use_external_row_ids": self.use_external_row_ids,
            "vector_index": self.vector_index,
            "projections": self.projections,
            "matviews": self.matviews,
            "blob_expansions": self.blob_expansions,
            "properties": self.properties,
        }

    @staticmethod
    def from_json(d: dict) -> "TableEntry":
        return TableEntry(
            name=d["name"],
            schema_name=d["schema_name"],
            arrow_schema_b64=d["arrow_schema_b64"],
            files=[FileEntry.from_json(f) for f in d.get("files", [])],
            next_row_id=d.get("next_row_id", 0),
            sorting_key=list(d.get("sorting_key", [])),
            sorting_score=d.get("sorting_score", 0),
            sorting_done=d.get("sorting_done", False),
            use_external_row_ids=d.get("use_external_row_ids", False),
            vector_index=d.get("vector_index"),
            projections=dict(d.get("projections", {})),
            matviews=dict(d.get("matviews", {})),
            blob_expansions=dict(d.get("blob_expansions", {})),
            properties=dict(d.get("properties", {})),
        )


class Manifest:
    """In-memory manifest state: schemas (nestable names) -> tables."""

    def __init__(self, version: int = 0, data: dict | None = None):
        self.version = version
        # schemas: name -> {"properties": {...}}
        # tables:  (schema_name, table_name) -> TableEntry
        self.schemas: dict[str, dict] = {}
        self.tables: dict[tuple[str, str], TableEntry] = {}
        self.snapshots: dict[str, int] = {}
        # commit wall-clock (epoch seconds), for TIMESTAMP AS OF; None until
        # written (pre-upgrade versions fall back to file mtime)
        self.committed_at: float | None = None
        # newest version whose data files a vacuum may have deleted: time
        # travel below this is refused at bind time (Delta-retention
        # semantics) instead of failing mid-scan with FileNotFound. Named
        # snapshots are exempt — vacuum(keep_snapshots=True) keeps theirs.
        self.vacuum_horizon: int = 0
        if data:
            self.schemas = dict(data.get("schemas", {}))
            for td in data.get("tables", []):
                te = TableEntry.from_json(td)
                self.tables[(te.schema_name, te.name)] = te
            self.snapshots = dict(data.get("snapshots", {}))
            self.committed_at = data.get("committed_at")
            self.vacuum_horizon = data.get("vacuum_horizon", 0)

    def to_json(self) -> dict:
        # version/committed_at lead the encoding ON PURPOSE: version_at's
        # bisect reads ONLY the head of each version file (_commit_time),
        # so TIMESTAMP AS OF stays O(log n) cheap reads even when each
        # manifest is 50 MB (200k files, tools/manifest_scale_bench.py)
        return {
            "version": self.version,
            "committed_at": self.committed_at,
            "schemas": self.schemas,
            "tables": [t.to_json() for t in self.tables.values()],
            "snapshots": self.snapshots,
            "vacuum_horizon": self.vacuum_horizon,
        }

    # -- schema ops --------------------------------------------------------
    def create_schema(self, name: str) -> None:
        if name in self.schemas:
            raise SchemaExists(name)
        self.schemas[name] = {"properties": {}}

    def drop_schema(self, name: str) -> None:
        if name not in self.schemas:
            raise MissingSchema(name)
        if any(s == name for (s, _t) in self.tables):
            raise Conflict(f"schema {name!r} is not empty")
        del self.schemas[name]

    def rename_schema(self, name: str, new_name: str) -> None:
        if name not in self.schemas:
            raise MissingSchema(name)
        if new_name in self.schemas:
            raise SchemaExists(new_name)
        self.schemas[new_name] = self.schemas.pop(name)
        for (s, t) in list(self.tables):
            if s == name:
                te = self.tables.pop((s, t))
                te.schema_name = new_name
                self.tables[(new_name, t)] = te

    # -- table ops ---------------------------------------------------------
    def get_table(self, schema: str, name: str) -> TableEntry:
        try:
            return self.tables[(schema, name)]
        except KeyError:
            raise MissingTable(f"{schema}/{name}") from None

    def create_table(self, entry: TableEntry, fail_if_exists: bool = True) -> None:
        if entry.schema_name not in self.schemas:
            raise MissingSchema(entry.schema_name)
        if (entry.schema_name, entry.name) in self.tables:
            if fail_if_exists:
                raise TableExists(f"{entry.schema_name}/{entry.name}")
            return
        self.tables[(entry.schema_name, entry.name)] = entry

    def drop_table(self, schema: str, name: str) -> None:
        if (schema, name) not in self.tables:
            raise MissingTable(f"{schema}/{name}")
        del self.tables[(schema, name)]

    def rename_table(self, schema: str, name: str, new_name: str) -> None:
        te = self.get_table(schema, name)
        if (schema, new_name) in self.tables:
            raise TableExists(f"{schema}/{new_name}")
        del self.tables[(schema, name)]
        te.name = new_name
        self.tables[(schema, new_name)] = te


class ManifestStore:
    """Filesystem-backed manifest chain for one bucket, with optimistic
    concurrency (O_EXCL version files = compare-and-swap)."""

    def __init__(self, bucket_path: str):
        self.bucket_path = bucket_path
        self.catalog_path = os.path.join(bucket_path, CATALOG_DIR)

    # -- bootstrap ---------------------------------------------------------
    def exists(self) -> bool:
        return os.path.isfile(os.path.join(self.catalog_path, CURRENT_FILE))

    def init_bucket(self) -> None:
        os.makedirs(self.catalog_path, exist_ok=True)
        if not self.exists():
            m = Manifest(version=1)
            self._write_version(m)
            self._set_current(1)

    # -- low-level io ------------------------------------------------------
    def _version_path(self, version: int) -> str:
        return os.path.join(self.catalog_path, f"v{version:010d}.json")

    def _write_version(self, m: Manifest) -> None:
        if m.committed_at is None:
            m.committed_at = time.time()
        path = self._version_path(m.version)
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            with os.fdopen(fd, "w") as f:
                # dumps + one write, not json.dump: iterencode streams the
                # 50 MB 200k-file manifest in tiny chunks (measured >10x
                # slower, tools/manifest_scale_bench.py)
                f.write(json.dumps(m.to_json()))
        except Exception:
            os.unlink(path)
            raise

    def _set_current(self, version: int) -> None:
        tmp = tempfile.NamedTemporaryFile(
            "w", dir=self.catalog_path, delete=False, suffix=".tmp"
        )
        tmp.write(str(version))
        tmp.close()
        os.replace(tmp.name, os.path.join(self.catalog_path, CURRENT_FILE))

    def current_version(self) -> int:
        try:
            with open(os.path.join(self.catalog_path, CURRENT_FILE)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            raise MissingBucket(self.bucket_path) from None

    def load(self, version: int | None = None) -> Manifest:
        if version is None:
            version = self.current_version()
        try:
            with open(self._version_path(version)) as f:
                data = json.load(f)
        except FileNotFoundError:
            raise MissingSnapshot(f"manifest version {version}") from None
        return Manifest(version=version, data=data)

    def available_versions(self) -> list[int]:
        """Retained manifest versions, ascending (vacuum may have removed a
        prefix)."""
        out = []
        for name in os.listdir(self.catalog_path):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    pass
        out.sort()
        return out

    _HEAD_RE = re.compile(
        r'^\{"version":\s*\d+,\s*"committed_at":\s*([0-9.eE+-]+)'
    )

    def _commit_time(self, version: int) -> float:
        # fast path: committed_at is serialized as the second key (see
        # Manifest.to_json), so one 256-byte read answers the bisect probe
        # without parsing a potentially 50 MB manifest
        try:
            with open(self._version_path(version)) as f:
                head = f.read(256)
        except FileNotFoundError:
            raise MissingSnapshot(f"manifest version {version}") from None
        m_head = self._HEAD_RE.match(head)
        if m_head:
            return float(m_head.group(1))
        # old layout / committed_at null: full parse, then file mtime
        m = self.load(version)
        if m.committed_at is not None:
            return m.committed_at
        return os.path.getmtime(self._version_path(version))

    def version_at(self, ts: float) -> int:
        """Largest retained version committed at or before epoch-seconds
        ``ts`` (commit times are monotone along the version chain, so this
        is a bisect — O(log n) manifest loads even with 10^5 versions)."""
        versions = self.available_versions()
        if not versions:
            raise MissingSnapshot("no manifest versions")
        idx = bisect.bisect_right(versions, ts, key=self._commit_time) - 1
        if idx < 0:
            raise MissingSnapshot(
                f"no manifest version committed at or before ts={ts}"
            )
        return versions[idx]

    # -- commit ------------------------------------------------------------
    def commit(self, base: Manifest, changes: "ChangeSet") -> Manifest:
        """Replay ``changes`` on the latest manifest and CAS it in.

        Raises ``Conflict`` if any object touched by ``changes`` was also
        changed since ``base`` (first-committer-wins per object, like the
        reference's server errors in test_tables.py:869-882).
        """
        attempts = 0
        while True:
            attempts += 1
            latest = self.load()
            if latest.version != base.version:
                changes.check_against(base, latest)
            # ``latest`` is a private object freshly parsed from disk and
            # unused after this point, so the changes apply to it directly —
            # a deep copy here costs O(total files) (measured 6+ s at a
            # 200k-file table, tools/manifest_scale_bench.py) for zero
            # isolation benefit. On CAS retry the loop reloads fresh.
            new = latest
            changes.apply(new)
            new.version = latest.version + 1
            new.committed_at = None  # stamped by _write_version
            try:
                self._write_version(new)
            except FileExistsError:
                if attempts > 50:
                    raise Conflict("commit contention: too many CAS retries")
                continue
            self._set_current(new.version)
            return new

    # -- data file paths ---------------------------------------------------
    def table_data_dir(self, schema: str, table: str) -> str:
        # schema names may nest with '/' (reference: vastdb/schema.py:38-39);
        # mangle to a flat, filesystem-safe directory name.
        safe_schema = schema.replace("/", "%2F")
        d = os.path.join(self.bucket_path, "data", safe_schema, table)
        os.makedirs(d, exist_ok=True)
        return d

    def new_data_file(self, schema: str, table: str) -> str:
        return os.path.join(
            self.table_data_dir(schema, table), f"part-{uuid.uuid4().hex}.parquet"
        )


def remove_data_file(path: str) -> None:
    """Delete a parquet data file and the ``.<name>.crc`` checksum that
    Hadoop's local filesystem writes beside every file of a Spark job."""
    os.unlink(path)
    try:
        os.unlink(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
    except FileNotFoundError:
        pass


class ChangeSet:
    """Recorded logical operations of one transaction, replayable onto any
    manifest and conflict-checkable between two manifests."""

    def __init__(self) -> None:
        self.ops: list[tuple] = []  # (kind, args...)
        self.touched: set[tuple] = set()  # ("schema", name) | ("table", s, t)

    def is_empty(self) -> bool:
        return not self.ops

    # recording helpers ----------------------------------------------------
    def record(self, kind: str, *args, touched: Iterator[tuple] = ()) -> None:
        self.ops.append((kind, *args))
        for t in touched:
            self.touched.add(t)

    # conflict check -------------------------------------------------------
    @staticmethod
    def _object_state(m: Manifest, key: tuple) -> Any:
        if key[0] == "schema":
            return m.schemas.get(key[1])
        if key[0] == "table":
            te = m.tables.get((key[1], key[2]))
            return te.to_json() if te else None
        return None

    def check_against(self, base: Manifest, latest: Manifest) -> None:
        for key in self.touched:
            if self._object_state(base, key) != self._object_state(latest, key):
                raise Conflict(f"concurrent modification of {key}")

    # replay ---------------------------------------------------------------
    def apply(self, m: Manifest) -> None:
        for op in self.ops:
            kind, args = op[0], op[1:]
            getattr(self, f"_apply_{kind}")(m, *args)

    # individual op appliers
    @staticmethod
    def _apply_create_schema(m: Manifest, name: str) -> None:
        m.create_schema(name)

    @staticmethod
    def _apply_drop_schema(m: Manifest, name: str) -> None:
        m.drop_schema(name)

    @staticmethod
    def _apply_rename_schema(m: Manifest, name: str, new_name: str) -> None:
        m.rename_schema(name, new_name)

    @staticmethod
    def _apply_create_table(m: Manifest, entry_json: dict) -> None:
        m.create_table(TableEntry.from_json(entry_json))

    @staticmethod
    def _apply_drop_table(m: Manifest, schema: str, name: str) -> None:
        m.drop_table(schema, name)

    @staticmethod
    def _apply_rename_table(m: Manifest, schema: str, name: str, new_name: str) -> None:
        m.rename_table(schema, name, new_name)

    @staticmethod
    def _apply_replace_table(m: Manifest, schema: str, name: str, entry_json: dict) -> None:
        m.get_table(schema, name)  # must exist
        m.tables[(schema, name)] = TableEntry.from_json(entry_json)

    @staticmethod
    def _apply_set_vacuum_horizon(m: Manifest, version: int) -> None:
        # monotone max: concurrent vacuums can only move the horizon forward
        m.vacuum_horizon = max(m.vacuum_horizon, version)

    @staticmethod
    def _apply_set_view(m: Manifest, schema: str, name: str, cfg: dict) -> None:
        sd = m.schemas.get(schema)
        if sd is None:
            raise MissingSchema(schema)
        sd.setdefault("properties", {}).setdefault("views", {})[name] = cfg

    @staticmethod
    def _apply_drop_view(m: Manifest, schema: str, name: str) -> None:
        sd = m.schemas.get(schema)
        if sd is None:
            raise MissingSchema(schema)
        sd.get("properties", {}).get("views", {}).pop(name, None)

    @staticmethod
    def _apply_set_snapshot(m: Manifest, name: str, version: int) -> None:
        m.snapshots[name] = version

    @staticmethod
    def _apply_drop_snapshot(m: Manifest, name: str) -> None:
        m.snapshots.pop(name, None)
