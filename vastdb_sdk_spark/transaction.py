"""Transactions: snapshot-isolated, commit-on-exit context managers.

Reference semantics (vastdb/transaction.py:59-90): ``with session.
transaction() as tx:`` begins a server transaction; clean exit commits,
exception rolls back; everything (DDL, DML, scans) happens inside one tx.
Here a transaction pins each touched bucket's manifest version at first
access (snapshot isolation), buffers catalog mutations in a ChangeSet, and
tracks data files written so rollback can delete them. Commit replays the
ChangeSet onto the latest manifest via CAS (see catalog/manifest.py) and
raises ``Conflict`` on concurrent modification — matching the isolation
behavior the reference tests (vastdb/tests/test_schemas.py:40-57,
test_tables.py:688-757).
"""

from __future__ import annotations

import itertools
import json
import os
import time

from .catalog.manifest import ChangeSet, Manifest, ManifestStore
from .errors import NoAdbcConnection, TransactionClosed


def audit_jsonl_version(filename: str) -> int | None:
    """Commit version from a ``v<version>.jsonl`` audit filename, or None
    for a name the engine didn't write. Foreign files are always LIVE to
    the reader and untouchable by compaction — the conservative stance
    for a directory a user may drop files into."""
    base = os.path.basename(filename)
    try:
        if not base.startswith("v"):
            return None
        return int(base[1:].split(".")[0])
    except ValueError:
        return None


def audit_compact_state(compact_dir: str) -> tuple[int, list[str]]:
    """(highest compacted version, compact parquet paths).

    A batch normally lands as ONE ``compact-<upTo>-<i>.parquet``; the max
    <upTo> over those MARKER files is the high-water mark below which
    JSONLs are leftovers, not data. A multi-part batch publishes its
    extra parts as ``compactdata-<upTo>-<i>.parquet`` BEFORE the marker
    moves last — so a data part is only ever counted once its batch's
    marker exists (its <upTo> is at or below the marker-derived mark),
    and a crash mid-publish leaves ignorable orphans plus the still-live
    JSONLs: reads stay exact, the next compaction sweeps both."""
    if not os.path.isdir(compact_dir):
        return 0, []
    up_to, markers, datas = 0, [], []
    for f in os.listdir(compact_dir):
        if not f.endswith(".parquet"):
            continue
        if f.startswith("compact-"):
            try:
                up_to = max(up_to, int(f.split("-")[1]))
            except (IndexError, ValueError):
                continue
            markers.append(f)
        elif f.startswith("compactdata-"):
            datas.append(f)
    paths = [os.path.join(compact_dir, f) for f in markers]
    for f in datas:
        try:
            v = int(f.split("-")[1])
        except (IndexError, ValueError):
            continue
        if v <= up_to:  # batch's marker landed -> the part is real data
            paths.append(os.path.join(compact_dir, f))
    return up_to, sorted(paths)

_txid_counter = itertools.count(int(time.time() * 1000) % (1 << 40))


class _BucketState:
    def __init__(self, store: ManifestStore, manifest: Manifest):
        self.store = store
        self.manifest = manifest  # private working copy (base version pinned)
        self.base_version = manifest.version
        self.changes = ChangeSet()
        self.staged_files: list[str] = []  # data files to delete on rollback
        self.audit: list[dict] = []

    def manifest_base(self) -> Manifest:
        return self.store.load(self.base_version)


class Transaction:
    def __init__(self, session):
        self._session = session
        self.txid = next(_txid_counter)
        self._buckets: dict[str, _BucketState] = {}
        self._closed = False

    # -- context manager ---------------------------------------------------
    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()
        else:
            self.rollback()

    def __repr__(self) -> str:
        return f"Transaction(id=0x{self.txid:016x})"

    # -- state access ------------------------------------------------------
    def _check_open(self) -> None:
        if self._closed:
            raise TransactionClosed(repr(self))

    def _state(self, bucket_name: str) -> _BucketState:
        self._check_open()
        st = self._buckets.get(bucket_name)
        if st is None:
            path = self._session._bucket_path(bucket_name)
            store = ManifestStore(path)
            st = _BucketState(store, store.load())
            self._buckets[bucket_name] = st
        return st

    @property
    def spark(self):
        return self._session.spark

    @property
    def is_active(self) -> bool:
        """True until commit/rollback (reference: Transaction.is_active,
        vastdb/transaction.py:124-126)."""
        return not self._closed

    @property
    def active_txid(self) -> int:
        """The transaction id, raising once closed (reference:
        Transaction.active_txid raises TransactionNotActiveError)."""
        self._check_open()
        return self.txid

    def table_from_metadata(self, metadata):
        """Resolve a Table from a TableMetadata handle (reference:
        Transaction.table_from_metadata, vastdb/transaction.py:135-137)."""
        ref = metadata.ref
        return self.bucket(ref.bucket).schema(ref.schema).table(ref.table)

    def catalog_snapshots(self, bucket_name: str) -> list:
        """Snapshots usable as catalog scopes (reference:
        Transaction.catalog_snapshots returns the catalog bucket's
        snapshots; here the catalog is derived per bucket, so these are the
        bucket's own snapshots)."""
        return self.bucket(bucket_name).snapshots()

    @property
    def adbc_conn(self):
        """The reference exposes an optional ADBC connection for its SQL
        tier (vastdb/transaction.py:139-144, raising when no driver was
        supplied). This engine's SQL tier is Spark SQL (``tx.sql``); no
        ADBC driver is bundled, so this always raises — same behavior as
        the reference without a driver."""
        raise NoAdbcConnection(
            "no ADBC driver: use tx.sql(...) (Spark SQL) instead"
        )

    # -- API ---------------------------------------------------------------
    def bucket(self, name: str):
        from .bucket import Bucket

        self._state(name)  # pin manifest now; raises MissingBucket if absent
        return Bucket(name, self)

    def commit(self) -> None:
        self._check_open()
        self._closed = True
        try:
            for name, st in self._buckets.items():
                if st.changes.is_empty():
                    continue
                new_manifest = st.store.commit(st.manifest_base(), st.changes)
                self._write_audit(st, new_manifest.version)
        finally:
            self._session._forget_transaction(self)

    def rollback(self) -> None:
        if self._closed:
            return
        self._closed = True
        import shutil

        for st in self._buckets.values():
            for path in st.staged_files:
                try:
                    if os.path.isdir(path):
                        shutil.rmtree(path, ignore_errors=True)
                    else:
                        os.unlink(path)
                except OSError:
                    pass
        self._session._forget_transaction(self)

    # -- audit log (reference: tx.audit_log(),
    #    vastdb/transaction.py:117-121) ------------------------------------
    def _audit_event(self, st: _BucketState, op: str, obj: str, **details) -> None:
        st.audit.append(
            {
                "txid": self.txid,
                "ts": time.time_ns(),
                "op": op,
                "object": obj,
                "details": json.dumps(details, default=str),
            }
        )

    def _write_audit(self, st: _BucketState, version: int) -> None:
        if not st.audit:
            return
        audit_dir = os.path.join(st.store.bucket_path, "_audit")
        os.makedirs(audit_dir, exist_ok=True)
        path = os.path.join(audit_dir, f"v{version:010d}.jsonl")
        with open(path, "w") as f:
            for rec in st.audit:
                f.write(json.dumps(rec) + "\n")

    def audit_log(self, bucket_name: str):
        """Audit-log DataFrame for a bucket (engine operations history).

        Layout: one ``v<version>.jsonl`` per commit plus parquet batches
        under ``_audit/compact/`` (Session.compact_audit_log folds old
        JSONLs — one tiny file per commit is the right WRITE shape but a
        pathological READ shape at ~1e5 commits). Exactness rule: each
        compact file's name carries the highest version it covers, and
        JSONLs at or below the compacted high-water mark are IGNORED here
        — so a crash between writing a batch and deleting its inputs can
        never double-count events."""
        audit_dir = os.path.join(self._session._bucket_path(bucket_name), "_audit")
        spark = self._session.spark
        schema = "txid LONG, ts LONG, op STRING, object STRING, details STRING"
        if not os.path.isdir(audit_dir):
            return spark.createDataFrame([], schema)
        compact_dir = os.path.join(audit_dir, "compact")
        up_to, compacts = audit_compact_state(compact_dir)
        jsonls = [
            os.path.join(audit_dir, f)
            for f in os.listdir(audit_dir)
            if f.endswith(".jsonl")
            and (audit_jsonl_version(f) is None or audit_jsonl_version(f) > up_to)
        ]
        parts = []
        if compacts:
            parts.append(spark.read.schema(schema).parquet(*compacts))
        if jsonls:
            parts.append(spark.read.schema(schema).json(jsonls))
        if not parts:
            return spark.createDataFrame([], schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- SQL tier (the post-processing tier the reference reaches via
    #    DuckDB/ADBC — README.md:230-246; here it's Spark SQL natively) -----
    def sql(self, query: str, tables: dict | None = None, **kw_tables):
        """Run Spark SQL over engine tables. ``tables`` maps view names to
        Table objects (or anything with a ``.df()`` — a MaterializedView
        binds its folded state, a Projection its routed scan); each is
        registered as a temp view bound to THIS transaction's snapshot,
        so SQL sees transaction-consistent data.

            tx.sql("SELECT count(*) FROM t WHERE a > 2", t=some_table)
            tx.sql("SELECT * FROM daily WHERE n > 5",
                   daily=some_table.materialized_view("daily"))
        """
        for name, t in {**(tables or {}), **kw_tables}.items():
            t.df().createOrReplaceTempView(name)
        return self._session.spark.sql(query)

    def execute_sql(self, statement: str, default_bucket: str | None = None):
        """Statement tier of the SQL front-end (sqlfront.py): DDL/DML text
        (``CREATE/ALTER/DROP``, ``INSERT/UPDATE/DELETE/MERGE``) dispatched
        onto this transaction's engine objects; SELECT-like text runs on
        Spark SQL with engine tables auto-bound as snapshot-consistent
        views. Tables are addressed ``bucket.schema.table`` (or
        ``schema.table`` with ``default_bucket``). Multiple ``;``-separated
        statements run in order; returns the last statement's result."""
        from .sqlfront import SqlFrontend

        results = SqlFrontend(self, default_bucket).execute_script(statement)
        return results[-1] if results else None

    # -- catalog table (reference: tx.catalog(),
    #    vastdb/transaction.py:107-115: queryable table of all objects) ----
    def catalog(self, bucket_name: str, *, as_table: bool = False):
        """Queryable catalog of all objects in a bucket. With
        ``as_table=True`` returns a reference-style object supporting
        ``.select(columns, predicate)`` (the reference queries the catalog
        like any table — vastdb/tests/test_tables.py:968-973)."""
        st = self._state(bucket_name)
        m = st.manifest
        rows = []
        for sname in m.schemas:
            rows.append((bucket_name, sname, None, "schema", 0, 0))
        for (sname, tname), te in m.tables.items():
            rows.append(
                (bucket_name, sname, tname, "table", te.live_rows, len(te.files))
            )
        from .localrel import local_df

        df = local_df(
            self._session.spark,
            rows,
            "bucket STRING, schema_name STRING, table_name STRING, "
            "object_type STRING, num_rows LONG, num_files LONG",
        )
        if as_table:
            from .derived import DerivedTable

            return DerivedTable(df)
        return df
