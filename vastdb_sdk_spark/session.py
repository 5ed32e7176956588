"""Session: SparkSession + warehouse root.

Reference: ``vastdb.connect(endpoint, access, secret) -> Session``
(vastdb/__init__.py:9-11, vastdb/session.py:20-70). There, a session is an
HTTP client bound to a VAST cluster; here it is a SparkSession bound to a
warehouse directory (the "cluster"). ``session.transaction()`` is the only
entry point for work, exactly like the reference (README.md:70-90).
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import SparkSession

from .config import EngineConfig
from .errors import MissingBucket


def build_spark(config: EngineConfig | None = None, app_name: str = "vastdb_sdk_spark") -> SparkSession:
    """Create (or get) a local SparkSession tuned for this engine."""
    config = config or EngineConfig()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # explicit (it defaults on with AQE): runtime skew-join splitting is
        # part of the 100 TB design contract (SCALING.md) — do not turn off
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", config.max_partition_bytes)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in config.extra_spark_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class Session:
    """Engine session: one warehouse directory, one SparkSession."""

    def __init__(
        self,
        warehouse: str,
        spark: SparkSession | None = None,
        config: EngineConfig | None = None,
        page_size: int | None = None,
    ):
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)
        self.config = config or EngineConfig()
        # session-wide default page size for every paginated listing
        # (schemas/tables/columns), overridable per call via max_keys —
        # reference 2.0.14 parity: vastdb/session.py (2.0.12) threads the
        # same knob into each listing RPC
        if page_size is not None and page_size <= 0:
            raise ValueError(f"page_size must be positive, got {page_size}")
        self.page_size = page_size
        self.spark = spark or build_spark(self.config)
        # transactions of this session not yet committed or rolled back:
        # vacuum keeps the files they staged. The lock guards vacuum's
        # iteration against transactions opening or closing in other threads
        self._open_transactions = weakref.WeakSet()
        self._open_lock = threading.Lock()

    def __repr__(self) -> str:
        return f"Session(warehouse={self.warehouse!r})"

    # -- bucket admin (reference buckets pre-exist server-side; we allow
    #    creating them since the warehouse is ours) ------------------------
    def create_bucket(self, name: str) -> None:
        from .catalog.manifest import ManifestStore

        ManifestStore(os.path.join(self.warehouse, name)).init_bucket()

    def bucket_exists(self, name: str) -> bool:
        from .catalog.manifest import ManifestStore

        return ManifestStore(os.path.join(self.warehouse, name)).exists()

    def transaction(self):
        """Start a transaction context (reference: vastdb/session.py:66-70)."""
        from .transaction import Transaction

        tx = Transaction(self)
        with self._open_lock:
            self._open_transactions.add(tx)
        return tx

    def _forget_transaction(self, tx) -> None:
        """Called by ``tx`` once it is committed or rolled back."""
        with self._open_lock:
            self._open_transactions.discard(tx)

    def compact_audit_log(
        self, bucket_name: str, keep_recent: int = 64
    ) -> dict:
        """Fold old per-commit audit JSONLs into one parquet batch.

        One tiny JSONL per commit is the right WRITE shape (no
        read-modify-write on the hot commit path), but after ~1e5 commits
        the audit READ pays one file-open per commit. This folds every
        JSONL older than the newest ``keep_recent`` into a single parquet
        file under ``_audit/compact/`` and deletes the folded JSONLs.

        Crash-safe without coordination: the batch lands under a name
        carrying the highest version it covers, and the audit reader
        ignores JSONLs at or below that mark — so the write-then-delete
        pair can die in the middle and reads stay exact (leftover JSONLs
        are swept by the next compaction). Repeated compactions produce
        non-overlapping batches (each starts past the previous mark).

        Returns ``{"compacted_files", "up_to_version", "rows"}``."""
        from .transaction import audit_compact_state, audit_jsonl_version

        audit_dir = os.path.join(self._bucket_path(bucket_name), "_audit")
        compact_dir = os.path.join(audit_dir, "compact")
        if not os.path.isdir(audit_dir):
            return {"compacted_files": 0, "up_to_version": 0, "rows": 0}
        prev_up_to, _ = audit_compact_state(compact_dir)
        # foreign files (names the engine didn't write -> version None)
        # are never folded and never deleted
        jsonls = sorted(
            (
                os.path.join(audit_dir, f)
                for f in os.listdir(audit_dir)
                if f.endswith(".jsonl") and audit_jsonl_version(f) is not None
            ),
            key=audit_jsonl_version,
        )
        live = [p for p in jsonls if audit_jsonl_version(p) > prev_up_to]
        stale = [p for p in jsonls if audit_jsonl_version(p) <= prev_up_to]
        to_fold = live[: max(0, len(live) - int(keep_recent))]
        for p in stale:  # leftovers of an interrupted earlier compaction
            os.remove(p)
        if os.path.isdir(compact_dir):
            # data parts whose marker never landed (interrupted publish):
            # the reader ignores them; sweep so a later marker at a higher
            # version can never resurrect them as duplicate rows
            for f in os.listdir(compact_dir):
                if f.startswith("compactdata-") and f.endswith(".parquet"):
                    try:
                        v = int(f.split("-")[1])
                    except (IndexError, ValueError):
                        continue
                    if v > prev_up_to:
                        os.remove(os.path.join(compact_dir, f))
        if not to_fold:
            return {
                "compacted_files": 0,
                "up_to_version": prev_up_to,
                "rows": 0,
            }
        up_to = audit_jsonl_version(to_fold[-1])
        schema = "txid LONG, ts LONG, op STRING, object STRING, details STRING"
        df = self.spark.read.schema(schema).json(to_fold)
        import tempfile

        tmp = tempfile.mkdtemp(prefix="auditcompact_", dir=audit_dir)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.makedirs(compact_dir, exist_ok=True)
        parts = [f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")]
        # atomic publish: extra data parts land under NON-marker names
        # first (the reader ignores them until their batch's marker
        # exists), the single marker part moves LAST — a crash anywhere
        # in between leaves the JSONLs authoritative and reads exact
        rows = 0
        import pyarrow.parquet as _pq

        for i, f in enumerate(parts[:-1]):
            dst = os.path.join(
                compact_dir, f"compactdata-{up_to:010d}-{i}.parquet"
            )
            os.replace(os.path.join(tmp, f), dst)
            rows += _pq.ParquetFile(dst).metadata.num_rows
        dst = os.path.join(
            compact_dir, f"compact-{up_to:010d}-{len(parts) - 1}.parquet"
        )
        os.replace(os.path.join(tmp, parts[-1]), dst)
        rows += _pq.ParquetFile(dst).metadata.num_rows
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        # the batch is durable under its high-water name: the reader now
        # ignores these JSONLs even if a crash stops the deletes below
        for p in to_fold:
            os.remove(p)
        return {"compacted_files": len(to_fold), "up_to_version": up_to, "rows": rows}

    def vacuum(
        self,
        bucket_name: str,
        keep_snapshots: bool = True,
        retain_versions: int | None = None,
    ) -> list[str]:
        """Delete data files no longer referenced by the current manifest
        (nor, if ``keep_snapshots``, by any named snapshot) — the analog of
        Delta VACUUM for files orphaned by update/delete/optimize rewrites.
        Returns the deleted paths. Only files inside this bucket's data
        directory are candidates: zero-copy imports from external paths are
        never touched. A deleted file's ``.crc`` checksum goes with it, and
        a staging dir left without any parquet file is removed. Files and
        staging dirs staged by this session's open transactions are kept,
        so their commit finds them; transactions of other sessions or
        processes are not seen.

        ``retain_versions=N`` additionally prunes manifest version files
        older than the newest N (never the current version, never a
        named-snapshot target): the manifest chain otherwise grows one JSON
        per commit forever, and at commit-heavy scale the catalog dir —
        not the data — becomes the clutter. This sets the time-travel
        horizon: ``as_of`` to a pruned version raises ``MissingSnapshot``
        (``version_at`` bisects over the retained versions only).

        Deleting any data file also advances the manifest's
        ``vacuum_horizon``: ``as_of`` to an older version (whose entries
        may reference the deleted files) is refused at bind time with
        ``MissingSnapshot`` rather than failing mid-scan — except versions
        pinned by a named snapshot, whose files were kept."""
        import glob
        import shutil

        from .catalog.manifest import ManifestStore, remove_data_file

        store = ManifestStore(self._bucket_path(bucket_name))
        manifest = store.load()
        manifests = [manifest]
        if keep_snapshots:
            manifests += [store.load(v) for v in manifest.snapshots.values()]
        referenced = {
            os.path.abspath(p)
            for m in manifests
            for te in m.tables.values()
            for p in te.referenced_paths()
        }
        with self._open_lock:
            open_txs = list(self._open_transactions)
        staged = {
            os.path.abspath(p)
            for tx in open_txs
            if (st := tx._buckets.get(bucket_name)) is not None
            for p in st.staged_files
        }
        referenced |= staged

        data_root = os.path.join(store.bucket_path, "data")
        deleted = []
        for dirpath, dirs, files in os.walk(data_root):
            # a referenced dir (a column index's sidecar dataset) covers
            # every file under it
            dirs[:] = [
                d for d in dirs
                if os.path.abspath(os.path.join(dirpath, d)) not in referenced
            ]
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                path = os.path.abspath(os.path.join(dirpath, fn))
                if path not in referenced:
                    remove_data_file(path)
                    deleted.append(path)
        # a child dir of a table data dir (<data>/<schema>/<table>/) is the
        # staging dir of one Spark write; holding no parquet, it is only
        # _SUCCESS and checksums left behind. A dir with _temporary is a
        # write still in flight. The trailing "" makes glob match dirs only.
        for staging in glob.glob(os.path.join(glob.escape(data_root), "*", "*", "*", "")):
            if os.path.abspath(staging) not in staged and not any(
                "_temporary" in dirs or any(f.endswith(".parquet") for f in files)
                for _dp, dirs, files in os.walk(staging)
            ):
                shutil.rmtree(staging, ignore_errors=True)

        if deleted:
            # Versions older than the one we collected against may reference
            # the files just deleted: advance the vacuum horizon (its own
            # CAS commit) so as_of below it fails at BIND time with a clear
            # MissingSnapshot instead of mid-scan FileNotFound. Named
            # snapshots stay readable (their files were collected above).
            from .catalog.manifest import ChangeSet

            changes = ChangeSet()
            changes.record("set_vacuum_horizon", manifest.version)
            store.commit(manifest, changes)

        if retain_versions is not None:
            if retain_versions < 1:
                from .errors import InvalidArgument

                raise InvalidArgument("retain_versions must be >= 1")
            cur = store.current_version()
            pinned = {cur} | set(manifest.snapshots.values())
            cutoff = cur - retain_versions
            for v in store.available_versions():
                if v <= cutoff and v not in pinned:
                    path = store._version_path(v)
                    os.unlink(path)
                    deleted.append(path)
        return deleted

    def execute_sql(self, statement: str, default_bucket: str | None = None):
        """Auto-commit convenience for the SQL front-end: runs ``statement``
        (``;``-separated script allowed) in its own transaction and commits.
        SELECT results stay lazy — they read the files pinned at execution
        time, which remain valid until ``vacuum``. For multi-statement
        atomicity use ``tx.execute_sql`` inside ``session.transaction()``."""
        with self.transaction() as tx:
            return tx.execute_sql(statement, default_bucket=default_bucket)

    @property
    def features(self):
        """Capability flags (reference: vastdb/features.py — all True here,
        see features.py)."""
        from .features import Features

        return Features()

    def _bucket_path(self, name: str) -> str:
        path = os.path.join(self.warehouse, name)
        from .catalog.manifest import ManifestStore

        if not ManifestStore(path).exists():
            raise MissingBucket(name)
        return path


def connect(
    warehouse: str,
    spark: SparkSession | None = None,
    config: EngineConfig | None = None,
    page_size: int | None = None,
    **_compat_kwargs,
) -> Session:
    """Open a warehouse (reference: ``vastdb.connect()``,
    vastdb/__init__.py:9-11). ``page_size`` sets the session-wide default
    for paginated listings (reference 2.0.12's Session pagination knob).
    Extra kwargs (endpoint/access/secret/ssl...) are accepted for drop-in
    compatibility and ignored."""
    return Session(warehouse, spark=spark, config=config, page_size=page_size)
