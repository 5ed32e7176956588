"""Table: scans, DML, imports, layout ops — the engine's workhorse.

Reference: vastdb/table.py (Table/TableInTransaction, ~1100 LoC). The
reference's scan machinery (splits, subsplit paging, worker threads, Arrow
IPC reassembly — table.py:94-183, 536-704) is replaced wholesale by Spark's
Parquet source: splits ≙ input partitions, pushdown ≙ Catalyst, retry ≙ task
retry (SURVEY.md §3.1). What this module *does* implement is everything Spark
lacks natively:

- stable ``$row_id`` (reference: INTERNAL_ROW_ID, table.py:41-44): files
  written by the engine carry either a manifest-recorded contiguous row-id
  base (id = base + parquet row position, read via ``_metadata.row_index``)
  or, after update/delete rewrites, a physical ``_vastdb_row_id`` column —
  ids are stable across reads and rewrites (SURVEY.md §7 watch-list 2);
- UPDATE/DELETE keyed by row id (reference: table.py:779-843) as
  affected-file-only rewrites (join/anti-join against the key set);
- zero-copy Parquet import with per-file bookkeeping (reference
  import_files/import_partitioned_files, table.py:338-440) — files are
  *registered*, not copied, exactly like the server-side import;
- schema evolution (add/drop/rename column, reference table.py:1010-1038)
  with rename-stable *physical* column names so old files never need
  rewriting;
- sorted "Elysium" tables (reference: schema.py:85-121, table.py:865-887,
  996-1008): ``sorting_key`` + an explicit ``optimize()`` re-sort job with
  ``sorting_score``/``sorting_done`` progress;
- semi-sorted projections (reference: table.py:1040-1138) as materialized
  sorted column-subset copies with a scan-routing rule (SURVEY.md §4);
- exact vector top-k (reference: table.py:889-906 via ADBC SQL).

Scale: scans are lazy DataFrames over the manifest's file list — Catalyst
prunes columns/filters into the parquet reader; the only driver-side state is
file metadata. Inserts via Arrow batches write one parquet file per call
(the analog of the reference's RPC insert); bulk data takes the import or
``insert_df`` paths, which stay distributed.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import time
from functools import reduce
from typing import Any, Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog.manifest import IMPORTED_OBJECTS_TABLE_NAME, FileEntry, TableEntry
from .config import QueryConfig
from .errors import (
    InvalidArgument,
    MissingMatView,
    MissingProjection,
    MissingTable,
    NotSupportedCommand,
    ProjectionExists,
    ViewExists,
)
from .expr import quote_ident, sql_literal, to_spark_predicate
from .types import (
    arrow_schema_to_spark,
    arrow_type_to_spark,
    cast_table_to_schema,
    cast_to_storage,
    schema_from_b64,
    schema_to_b64,
    storage_arrow_schema,
    storage_arrow_type,
)

INTERNAL_ROW_ID = "$row_id"  # reference: vastdb/table.py:41
PHYSICAL_ROW_ID = "_vastdb_row_id"

# import_files switches from the driver footer loop to a distributed scan
# at this many files: below it one Spark job costs more than the loop;
# above it the loop is the bottleneck (100k files x ~5 ms = minutes of
# driver time for what tasks do in seconds)
FOOTER_SCAN_PARALLEL_MIN = 64

# row-id derivation uses a literal path->base map (zero extra Spark jobs)
# up to this many files per scan group; beyond it the lookup's per-row
# linear key scan and the plan's literal count both grow with the file
# count, so big scans fall back to the broadcast join, whose fixed cost
# amortizes over their data
RID_LITERAL_MAP_MAX_FILES = 64


def _json_scalar_value(v):
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        # space separator so lexicographic order lines up with the
        # string timestamp literals used in predicates
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v if isinstance(v, (int, float, str)) and not isinstance(v, bool) else None


def _meta_col_stats(meta, stat_cols: list[str], cmap: dict | None = None) -> dict:
    """Per-file [min, max] for ``stat_cols`` from a parquet footer's
    row-group statistics — the ONE implementation behind both the
    insert-path Table._footer_col_stats and the import-path
    _footer_scan_payload (a divergence would give imported and inserted
    files different pruning stats)."""
    out = {}
    names = meta.schema.to_arrow_schema().names
    inv = {v: k for k, v in (cmap or {}).items()}
    for col in stat_cols:
        fcol = inv.get(col, col)
        if fcol not in names:
            continue
        idx = names.index(fcol)
        mins, maxs = [], []
        for i in range(meta.num_row_groups):
            st = meta.row_group(i).column(idx).statistics
            if st is None or not st.has_min_max:
                mins = []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            lo = _json_scalar_value(min(mins))
            hi = _json_scalar_value(max(maxs))
            if lo is not None and hi is not None:
                out[col] = [lo, hi]
    return out


def _footer_scan_payload(path: str, stat_cols: list[str]) -> tuple:
    """Everything import needs from ONE parquet footer — metadata only,
    no data I/O; runs driver-side for small imports and inside Spark
    tasks for large ones (the two paths share this function, so their
    results are identical by construction). Returns
    ``(schema_ipc_bytes, num_rows, size_bytes, col_stats_dict)``."""
    md = pq.ParquetFile(path)
    meta = md.metadata
    return (
        md.schema_arrow.serialize().to_pybytes(),
        meta.num_rows,
        os.path.getsize(path),
        _meta_col_stats(meta, stat_cols),
    )
EXTERNAL_ROW_ID = "vastdb_rowid"  # reference: external row-id allocation column
VECTOR_DIST_COL = "vast_pysdk_vector_dist"  # reference: vastdb/_adbc.py:140

_ROW_ID_ARROW = pa.uint64()  # reference: vastdb/table.py:42


@dataclasses.dataclass
class TableStats:
    """Reference: TableStats fields, vastdb/_internal.py:829-842."""

    num_rows: int
    size_in_bytes: int
    sorting_score: int = 0
    sorting_done: bool = False
    is_external_rowid_alloc: bool = False
    endpoints: tuple = ()


class Table:
    def __init__(self, name: str, schema, _entry_override: TableEntry | None = None):
        self.name = name
        self.schema = schema  # parent Schema object
        self.tx = schema.tx
        self._entry_override = _entry_override

    # ------------------------------------------------------------------
    # catalog plumbing
    @property
    def _state(self):
        return self.schema._state

    @property
    def entry(self) -> TableEntry:
        if self._entry_override is not None:
            return self._entry_override
        return self.schema.bucket.manifest.get_table(self.schema.name, self.name)

    @property
    def arrow_schema(self) -> pa.Schema:
        return schema_from_b64(self.entry.arrow_schema_b64)

    def columns(self) -> pa.Schema:
        """Reference: table.columns() refreshes and returns the Arrow
        schema (vastdb/table.py:259-272)."""
        return self.arrow_schema

    def list_columns(
        self, next_key: int = 0, max_keys: int | None = None
    ) -> tuple[list[pa.Field], int, bool]:
        """One page of column fields — ``(fields, next_key, is_truncated)``
        per the reference listing protocol (vastdb/_internal.py:1623-1686,
        paginated so 64k-column tables don't overflow one response —
        reference test_tables.py:1430-1464)."""
        from .catalog.listing import DEFAULT_PAGE_SIZE

        if max_keys is None:  # session default, then the module default
            max_keys = self.tx._session.page_size or DEFAULT_PAGE_SIZE
        if max_keys <= 0:
            raise ValueError(f"max_keys must be positive, got {max_keys}")
        schema = self.arrow_schema
        page = [schema.field(i) for i in range(next_key, min(next_key + max_keys, len(schema)))]
        key = next_key + len(page)
        return page, key, key < len(schema)

    def retrieve_column_names(self, batch_size: int | None = None) -> list[str]:
        """Names-only column listing (reference: retrieve_column_names —
        cheaper wire shape that skips schema metadata)."""
        out: list[str] = []
        next_key, truncated = 0, True
        while truncated:
            page, next_key, truncated = self.list_columns(
                next_key=next_key, max_keys=batch_size
            )
            out.extend(f.name for f in page)
        return out

    # ------------------------------------------------------------------
    # metadata accessors (reference: vastdb/table.py:200-260, 920-970)
    @property
    def ref(self):
        """Fully-qualified coordinates (reference: Table.ref)."""
        from .metadata import TableRef

        return TableRef(self.bucket.name, self.schema.name, self.name)

    @property
    def table_metadata(self):
        from .metadata import TableMetadata

        kind = "imports" if "/" in self.name else "table"
        return TableMetadata(self.ref, kind)

    @property
    def handle(self) -> int:
        """Stable integer handle (reference: Table.handle — an opaque server
        id; here a deterministic hash of the table path)."""
        import zlib

        return zlib.crc32(self.path.encode())

    @property
    def sorted_table(self) -> bool:
        """True iff the table has a sorting key (reference:
        Table.sorted_table)."""
        return bool(self.entry.sorting_key)

    def sorted_columns(self) -> list[pa.Field]:
        """Sorting-key columns as Arrow fields (reference:
        Table.sorted_columns)."""
        schema = self.arrow_schema
        return [schema.field(k) for k in self.entry.sorting_key]

    @property
    def vector_index(self):
        """Vector-index metadata or None (reference: Table.vector_index)."""
        from .metadata import VectorIndex

        vi = self.entry.vector_index
        if not vi:
            return None
        metric = vi.get("metric", "l2sq")
        sql_fn = {
            "l2sq": "array_distance",
            "cosine": "array_cosine_distance",
            "ip": "array_negative_inner_product",
        }.get(metric, metric)
        return VectorIndex(vi["column"], metric, sql_fn)

    def reload_schema(self) -> None:
        """No-op: the manifest snapshot is authoritative within a
        transaction (reference: reload_schema re-fetches from the server)."""

    def reload_stats(self) -> None:
        """No-op: stats are computed fresh on access (reference:
        reload_stats re-fetches from the server)."""

    def reload_sorted_columns(self) -> None:
        """No-op: sorting metadata lives in the manifest (reference:
        reload_sorted_columns re-fetches from the server)."""

    def imports_table_metadata(self):
        """Metadata handle for the imports side table (reference:
        imports_table_metadata, vastdb/table.py:851-857)."""
        from .metadata import TableMetadata, TableRef

        iname = f"{self.name}/{IMPORTED_OBJECTS_TABLE_NAME}"
        return TableMetadata(
            TableRef(self.bucket.name, self.schema.name, iname), "imports"
        )

    def blob_expansion(self, source_column_name: str = "value"):
        """Get a blob-expansion handle by its source column (reference:
        Table.blob_expansion, vastdb/table.py:311-330). The handle's
        add_columns/drop_columns/drop mutate the expansion."""
        from .metadata import BlobExpansion

        for name, cfg in sorted(self.entry.blob_expansions.items()):
            if cfg["source_column"] == source_column_name:
                return BlobExpansion(self, name, source_column_name)
        raise MissingProjection(
            f"no blob expansion with source column {source_column_name!r}"
        )

    @property
    def spark(self):
        return self.tx.spark

    @property
    def bucket(self):
        return self.schema.bucket

    @property
    def path(self) -> str:
        return f"{self.bucket.name}/{self.schema.name}/{self.name}"

    def __repr__(self) -> str:
        return f"Table({self.path})"

    def __getitem__(self, name: str):
        """Reference predicate style: ``t['b'] < 2`` (the SDK builds ibis
        expressions from subscripting the table — README.md:105). Returns a
        ColumnRef from our DSL; nested access chains (``t['s']['q']``) work
        the same way."""
        from .expr import ColumnRef, _validate_path

        _validate_path(self.arrow_schema, (name,))
        return ColumnRef(name)

    def _mutate(self, entry: TableEntry, op: str, **audit) -> None:
        if self.bucket.readonly:
            raise NotSupportedCommand("snapshot buckets are read-only")
        st = self._state
        st.manifest.tables[(self.schema.name, self.name)] = entry
        st.changes.record(
            "replace_table",
            self.schema.name,
            self.name,
            entry.to_json(),
            touched=[("table", self.schema.name, self.name)],
        )
        self.tx._audit_event(st, op, self.path, **audit)

    # physical column mapping (rename-stable storage names)
    def _physical_map(self) -> dict[str, str]:
        return dict(self.entry.properties.get("column_physical", {}))

    def _physical_of(self, logical: str) -> str:
        return self._physical_map().get(logical, logical)

    def _physical_storage_schema(self) -> pa.Schema:
        """Storage Arrow schema keyed by *physical* column names."""
        pmap = self._physical_map()
        storage = storage_arrow_schema(self.arrow_schema)
        return pa.schema(
            [pa.field(pmap.get(f.name, f.name), f.type, f.nullable) for f in storage]
        )

    # ------------------------------------------------------------------
    # scan
    def df(
        self,
        internal_row_id: bool = False,
        *,
        files: list[FileEntry] | None = None,
        column_types: pa.Schema | None = None,
        with_file_path: bool = False,
    ) -> DataFrame:
        """The table as a lazy Spark DataFrame (logical column names).

        This is the engine's FileSourceScan: one united parquet scan over the
        manifest's files; Catalyst prunes/pushes down from here. Rows masked
        by deletion vectors are filtered via a row-id anti-join against the
        scanned files' DV sidecars (broadcast when small).
        ``with_file_path`` adds a ``__source_file`` column (absolute path of
        the backing parquet file) for DML bookkeeping."""
        entry = self.entry
        arrow = column_types if column_types is not None else self.arrow_schema
        pmap = self._physical_map()
        storage = storage_arrow_schema(arrow)
        phys_fields = {
            pmap.get(f.name, f.name): (f.name, arrow_type_to_spark(storage_arrow_type(f.type)))
            for f in arrow
        }
        file_list = entry.files if files is None else files
        dv_paths = [p for fe in file_list for p in fe.dv_paths]
        dv_rows = sum(fe.dv_rows for fe in file_list)
        want_rid = internal_row_id or bool(dv_paths)

        if not file_list:
            spark_fields = [
                T.StructField(f.name, arrow_type_to_spark(f.type), f.nullable) for f in arrow
            ]
            if internal_row_id:
                spark_fields.append(T.StructField(INTERNAL_ROW_ID, T.LongType(), False))
            if with_file_path:
                spark_fields.append(T.StructField("__source_file", T.StringType(), True))
            return self.spark.createDataFrame([], T.StructType(spark_fields))

        # group files by (rowid kind, column-name map, partition values)
        groups: dict[tuple, list[FileEntry]] = {}
        for fe in file_list:
            key = (
                fe.has_physical_row_id,
                tuple(sorted((fe.column_map or {}).items())) if getattr(fe, "column_map", None) else None,
                tuple(sorted(fe.partition.items())),
            )
            groups.setdefault(key, []).append(fe)

        out_names = [f.name for f in arrow]
        if want_rid:
            out_names.append(INTERNAL_ROW_ID)
        if with_file_path:
            out_names.append("__source_file")
        if dv_paths:
            out_names.append("__dv_fk")
        rid_q = quote_ident(INTERNAL_ROW_ID)
        parts: list[DataFrame] = []
        for (has_phys_rid, cmap, part_items), fes in groups.items():
            cmap_d = dict(cmap) if cmap else {}
            part_d = dict(part_items)
            # schema in the file's own column names
            fields = []
            for phys, (logical, st_type) in phys_fields.items():
                if logical in part_d:
                    continue  # supplied as a constant, not stored in the file
                file_col = _file_col_for(phys, cmap_d)
                fields.append(T.StructField(file_col, st_type, True))
            if has_phys_rid:
                fields.append(T.StructField(PHYSICAL_ROW_ID, T.LongType(), False))
            reader_schema = T.StructType(fields)
            df = self.spark.read.schema(reader_schema).parquet(*[fe.path for fe in fes])
            # ONE projection straight to logical names, parsed from SQL
            # text in a single round trip: withColumn chains cost ~330
            # py4j round trips per df() call, a Column per output column
            # still ~170 — and engine DML runs several df() scans per
            # statement. Every part comes out in ``out_names`` order.
            sel: list[str] = []
            for phys, (logical, st_type) in phys_fields.items():
                if logical in part_d:
                    val = f"CAST({sql_literal(part_d[logical])} AS {st_type.simpleString()})"
                else:
                    val = quote_ident(_file_col_for(phys, cmap_d))
                sel.append(f"{val} AS {quote_ident(logical)}")
            if want_rid:
                if has_phys_rid:
                    sel.append(f"{quote_ident(PHYSICAL_ROW_ID)} AS {rid_q}")
                elif len(fes) <= RID_LITERAL_MAP_MAX_FILES:
                    # keyed by full file path — basenames may collide across
                    # directories (e.g. zero-copy imports named alike).
                    # Spark's _metadata.file_path uses Hadoop's "file:/abs"
                    # form (single slash), not RFC-8089 file:///
                    #
                    # literal map lookup: zero extra Spark jobs. The
                    # broadcast-join alternative costs ~0.5 s of fixed
                    # broadcast-build machinery PER ACTION (measured
                    # r14: 0.72 s vs 0.11 s noop on a 150k-row scan) —
                    # for DML, which runs several row-id scans per
                    # statement, that fixed cost dominated the gates.
                    # GetMapValue on a literal map is a linear key scan
                    # per row, so this path is bounded to small file
                    # counts; larger scans take the join below.
                    kv = ", ".join(
                        sql_literal("file:" + os.path.abspath(fe.path))
                        + ", " + sql_literal(fe.row_id_base)
                        for fe in fes
                    )
                    sel.append(
                        f"(element_at(map({kv}), _metadata.file_path)"
                        f" + _metadata.row_index) AS {rid_q}"
                    )
            if with_file_path:
                sel.append("_metadata.file_path AS __source_file")
            if dv_paths:
                # DV scope key: masks apply per owning file, so a
                # replacement row reusing a masked id stays visible
                sel.append("md5(_metadata.file_path) AS __dv_fk")
            rid_join = (
                want_rid
                and not has_phys_rid
                and len(fes) > RID_LITERAL_MAP_MAX_FILES
            )
            if rid_join:
                # the _metadata pseudo-column only resolves on the scan
                # frame — carry what the rid join needs through the
                # projection
                sel.append("_metadata.file_path AS __file_path")
                sel.append("_metadata.row_index AS __row_index")
            df = df.selectExpr(*sel)
            if rid_join:
                base_map = [
                    ("file:" + os.path.abspath(fe.path), fe.row_id_base)
                    for fe in fes
                ]
                base_df = self.spark.createDataFrame(
                    base_map, "__file_path STRING, __rid_base LONG"
                )
                df = df.join(F.broadcast(base_df), "__file_path").selectExpr(
                    *[
                        f"__rid_base + __row_index AS {rid_q}"
                        if n == INTERNAL_ROW_ID
                        else quote_ident(n)
                        for n in out_names
                    ]
                )
            parts.append(df)

        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if dv_paths:
            dv_df = self.spark.read.schema(
                "deleted_row_id LONG, owner_fk STRING"
            ).parquet(*dv_paths)
            # broadcast small DVs; big ones go through a shuffled anti-join
            if dv_rows <= 2_000_000:
                dv_df = F.broadcast(dv_df)
            df = df.join(
                dv_df,
                (df[INTERNAL_ROW_ID] == dv_df["deleted_row_id"])
                & (df["__dv_fk"] == dv_df["owner_fk"]),
                "left_anti",
            ).drop("__dv_fk")
            if not internal_row_id:
                df = df.drop(INTERNAL_ROW_ID)
        return df

    def select_df(
        self,
        columns: list[str] | None = None,
        predicate: Any = None,
        config: QueryConfig | None = None,
        *,
        internal_row_id: bool = False,
        limit_rows: int | None = None,
    ) -> DataFrame:
        """The scan as a DataFrame — projection/predicate/limit semantics of
        reference ``select()`` (vastdb/table.py:460-534) with Catalyst doing
        the pushdown."""
        config = config or QueryConfig()
        arrow = self.arrow_schema
        source = self._route_scan(columns, predicate, config, internal_row_id)
        pred_col = to_spark_predicate(predicate, arrow)
        df = source if pred_col is None else source.filter(pred_col)
        if columns is not None:
            names = [*columns, INTERNAL_ROW_ID] if internal_row_id else columns
            df = df.selectExpr(*map(quote_ident, names))
        if limit_rows is not None:
            df = df.limit(limit_rows)
        return df

    def select(
        self,
        columns: list[str] | None = None,
        predicate: Any = None,
        config: QueryConfig | None = None,
        *,
        internal_row_id: bool = False,
        limit_rows: int | None = None,
    ) -> pa.RecordBatchReader:
        """Arrow-streaming scan (reference signature: vastdb/table.py:571).

        Predicate ``False`` short-circuits to an empty reader with the right
        schema and zero Spark jobs (reference: table.py:485-489).

        LAZY: the plan — file list, deletion-vector sidecars, pushed
        predicate — is pinned at construction, but the Spark job runs when
        the first batch is pulled (reference semantics: vastdb/table.py:
        536-569 hands out readers whose work happens on consumption). A
        reader held across a later file-compacting DML (DV rewrite,
        shrink) may fail on pull if its pinned files were deleted — the
        same hazard the reference's mid-read-truncate has.
        """
        out_schema = self._select_out_schema(columns, internal_row_id)

        if predicate is False:
            return pa.RecordBatchReader.from_batches(out_schema, iter([]))

        cfg = config or QueryConfig()
        df = self.select_df(
            columns,
            predicate,
            config,
            internal_row_id=internal_row_id,
            limit_rows=limit_rows,
        )
        batch_rows = cfg.limit_rows_per_sub_split
        est_override = self.__dict__.get("_est_rows_override")
        est_rows = (
            limit_rows
            if limit_rows is not None
            else est_override
            if est_override is not None
            else self.entry.num_rows
        )
        if est_rows > cfg.spill_threshold_rows:
            return self._spill_reader(df, out_schema, batch_rows)

        def gen():
            tbl = cast_table_to_schema(df.toArrow(), out_schema)
            for b in tbl.to_batches(max_chunksize=batch_rows):
                yield b

        return pa.RecordBatchReader.from_batches(out_schema, gen())

    def _select_out_schema(
        self, columns: list[str] | None, internal_row_id: bool = False
    ) -> pa.Schema:
        """Result schema of a select() — validates requested columns."""
        arrow = self.arrow_schema
        names = arrow.names if columns is None else columns
        out_fields = [_resolve_field(arrow, c) for c in names]
        if internal_row_id:
            out_fields.append(pa.field(INTERNAL_ROW_ID, _ROW_ID_ARROW, False))
        return pa.schema(out_fields)

    def _spill_reader(
        self, df: DataFrame, out_schema: pa.Schema, batch_rows: int
    ) -> pa.RecordBatchReader:
        """Bounded-memory result streaming: materialize the (distributed)
        result to a temp parquet dataset, stream it back batch-by-batch, and
        delete it when the reader is exhausted. The driver never holds more
        than one batch — the analog of the reference's bounded-queue merge
        (vastdb/table.py:597-704). The write job, like the in-memory path's
        collect, runs on first batch pull."""
        import shutil

        import pyarrow.dataset as pads

        tmpdir = os.path.join(
            self._state.store.bucket_path, "_tmp", f"sel-{os.getpid()}-{time.time_ns()}"
        )

        def gen():
            df.write.mode("overwrite").parquet(tmpdir)
            try:
                dataset = pads.dataset(tmpdir, format="parquet")
                for batch in dataset.to_batches(batch_size=batch_rows):
                    tbl = cast_table_to_schema(pa.Table.from_batches([batch]), out_schema)
                    for b in tbl.to_batches():
                        yield b
            finally:
                shutil.rmtree(tmpdir, ignore_errors=True)

        return pa.RecordBatchReader.from_batches(out_schema, gen())

    def select_splits(
        self,
        columns: list[str] | None = None,
        predicate: Any = None,
        config: QueryConfig | None = None,
        *,
        internal_row_id: bool = False,
        num_splits: int | None = None,
    ) -> list[pa.RecordBatchReader]:
        """Split the scan into independent per-split Arrow readers for
        caller-managed parallelism (reference: ``select_splits``,
        vastdb/table.py:536-569 — one reader per split). Splits are disjoint
        groups of data files.

        LAZY: constructing the list pins the snapshot (each split's file
        group + the table entry) but runs no Spark job and builds no plan;
        each split plans and runs its own (small) Spark job when its reader
        is first pulled, so consuming splits on N workers parallelizes the
        planning too. An explicit ``num_splits`` returns exactly that many
        readers — trailing readers may be empty (the reference's
        fixed-count contract); a derived count is capped at the file
        count."""
        config = config or QueryConfig()
        entry = self.entry
        files = entry.files
        explicit = num_splits is not None
        if num_splits is None:
            num_splits = config.num_splits or max(
                1, entry.num_rows // config.rows_per_split
            )
        if not explicit:
            num_splits = min(num_splits, max(1, len(files)))
        num_splits = max(1, num_splits)
        groups: list[list[FileEntry]] = [[] for _ in range(num_splits)]
        for i, fe in enumerate(files):
            groups[i % num_splits].append(fe)
        out_schema = self._select_out_schema(columns, internal_row_id)
        entry_json = entry.to_json()

        def lazy_reader(grp: list[FileEntry]) -> pa.RecordBatchReader:
            # deep-copy the group's file entries NOW: plan construction is
            # deferred, and a later in-place manifest mutation (e.g. a DV
            # sidecar append) must not leak into a pinned-but-unpulled
            # reader's snapshot
            grp_json = [fe.to_json() for fe in grp]

            def gen():
                if not grp_json:
                    return
                sub = Table(self.name, self.schema)
                sub_entry = TableEntry.from_json(entry_json)
                sub_entry.files = [FileEntry.from_json(fj) for fj in grp_json]
                sub_entry.projections = {}
                sub._entry_override = sub_entry
                yield from sub.select(
                    columns, predicate, config, internal_row_id=internal_row_id
                )

            return pa.RecordBatchReader.from_batches(out_schema, gen())

        return [lazy_reader(grp) for grp in groups]

    def count_rows(self, predicate: Any = None) -> int:
        """Count scan — the analog of reference ``select(columns=[])``
        (count-only scans, vastdb/_internal.py:2590-2604) and of the row
        estimate probe (table.py:442-458), but exact."""
        if predicate is None:
            return self.entry.live_rows  # manifest stats: zero I/O
        pruned = self._pruned_files(predicate)
        return (
            self.df(files=pruned)
            .filter(to_spark_predicate(predicate, self.arrow_schema))
            .count()
        )

    def export_parquet(
        self,
        path: str,
        columns: list[str] | None = None,
        predicate: Any = None,
    ) -> None:
        """Export the (filtered) table to parquet — the reference streams
        select() into a client-side ParquetWriter (README.md:221-228,
        test_tables.py:632-663); here the write is distributed."""
        self.select_df(columns, predicate).write.mode("overwrite").parquet(path)

    def export_files(
        self,
        path: str,
        format: str = "parquet",
        columns: list[str] | None = None,
        predicate: Any = None,
        options: dict | None = None,
    ) -> None:
        """Distributed export in any Spark-writable text/columnar format
        (engine extension; the write-side twin of the JSONL/CSV ingest
        tier): ``parquet``/``orc`` keep columnar types, ``json`` writes
        JSONL, ``csv`` writes with a header by default. Filters/projection
        push down into the scan like any select."""
        fmts = ("parquet", "orc", "json", "csv")
        if format not in fmts:
            raise InvalidArgument(
                f"export format must be one of {fmts}, got {format!r}"
            )
        opts = {"header": "true"} if format == "csv" else {}
        opts.update(options or {})
        (
            self.select_df(columns, predicate)
            .write.mode("overwrite")
            .options(**opts)
            .format(format)
            .save(path)
        )

    # -- manifest-level file pruning (plans/pruning.py) -------------------
    def _pruned_files(self, predicate: Any) -> list[FileEntry] | None:
        """Files that can possibly satisfy ``predicate`` given per-file
        sort-key min/max stats; None = no pruning applicable."""
        if predicate is None or isinstance(predicate, (bool, Column)):
            return None
        from .plans.pruning import prune_files, prune_files_by_partition

        entry = self.entry
        # column types let the pruner gate the temporal-literal hazard
        # type-aware (datetime probe on a string column would false-prune)
        types = {f.name: f.type for f in self.arrow_schema}
        files = prune_files_by_partition(entry.files, predicate, col_types=types)
        for col in self._stat_columns(entry):
            files = prune_files(files, col, predicate, col_type=types.get(col))
        cidx = entry.properties.get("column_indexes", {})
        if cidx:
            from .plans.bloom import prune_files_by_bloom

            # cfg keys are PHYSICAL names (rename-stable); predicates
            # reference current logical names
            inv = {p: l for l, p in self._physical_map().items()}
            for col, cfg in cidx.items():
                files = prune_files_by_bloom(
                    files, inv.get(col, col), predicate, cfg
                )
        return files if len(files) < len(entry.files) else None

    # -- projection routing (SURVEY.md §4: NOT built into Catalyst) -------
    def _route_scan(
        self,
        columns: list[str] | None,
        predicate: Any,
        config: QueryConfig,
        internal_row_id: bool,
    ) -> DataFrame:
        entry = self.entry
        pruned = self._pruned_files(predicate)
        if (
            not entry.projections
            or not config.use_semi_sorted_projections
            or internal_row_id
        ):
            return self.df(internal_row_id=internal_row_id, files=pruned)
        needed = set(self.arrow_schema.names if columns is None else columns)
        if predicate is not None and not isinstance(predicate, (bool, Column)):
            try:
                needed |= predicate.root_columns()
            except AttributeError:
                return self.df(files=pruned)
        elif isinstance(predicate, Column):
            return self.df(files=pruned)

        forced = config.semi_sorted_projection_name
        if forced and forced not in entry.projections:
            # reference enforce gate: forcing a nonexistent projection is an
            # error (vastdb/table.py:514-515)
            raise MissingProjection(forced)
        candidates = []
        for pname, proj in entry.projections.items():
            if proj.get("stale"):
                continue
            pcols = set(proj["sorted"]) | set(proj["unsorted"])
            if needed <= pcols:
                candidates.append((pname, proj))
        if forced:
            match = [c for c in candidates if c[0] == forced]
            if match:
                candidates = match
            else:
                return self.df(files=pruned)
        if not candidates:
            return self.df(files=pruned)
        # prefer a projection whose sort key is actually filtered on
        pred_cols = set()
        if predicate is not None and not isinstance(predicate, bool):
            try:
                pred_cols = predicate.root_columns()
            except AttributeError:
                pass
        candidates.sort(
            key=lambda c: (
                0 if set(c[1]["sorted"]) & pred_cols else 1,
                len(c[1]["sorted"]) + len(c[1]["unsorted"]),
            )
        )
        pname, proj = candidates[0]
        files = [FileEntry.from_json(fj) for fj in proj["files"]]
        # projection files carry sort-key stats: prune them too
        if predicate is not None and not isinstance(predicate, (bool, Column)):
            from .plans.pruning import prune_files

            types = {f.name: f.type for f in self.arrow_schema}
            for col in proj["sorted"]:
                files = prune_files(files, col, predicate, col_type=types.get(col))
        sub_schema = pa.schema(
            [_resolve_field(self.arrow_schema, n) for n in proj["sorted"] + proj["unsorted"]]
        )
        return self.df(files=files, column_types=sub_schema)

    # ------------------------------------------------------------------
    # write path
    def _register_file(
        self,
        entry: TableEntry,
        path: str,
        rows: int,
        *,
        row_id_base: int = -1,
        min_row_id: int = -1,
        max_row_id: int = -1,
        sorted_by: list[str] | None = None,
        partition: dict | None = None,
        column_map: dict | None = None,
        col_stats: dict | None = None,
    ) -> FileEntry:
        fe = FileEntry(
            path=path,
            rows=rows,
            row_id_base=row_id_base,
            min_row_id=min_row_id,
            max_row_id=max_row_id,
            sorted_by=sorted_by or [],
            partition=partition or {},
            col_stats=col_stats or {},
        )
        if column_map:
            fe.column_map = column_map
        entry.files.append(fe)
        return fe

    _json_scalar = staticmethod(_json_scalar_value)

    def _footer_col_stats(self, md, stat_cols: list[str], cmap: dict | None = None) -> dict:
        """Per-file [min, max] for ``stat_cols`` from parquet footer
        statistics (driver-side, one footer we already read). Delegates
        to the module-level extractor the import scan also uses."""
        return _meta_col_stats(md, stat_cols, cmap)

    def _arrow_col_stats(self, tbl: pa.Table, stat_cols: list[str]) -> dict:
        import pyarrow.compute as pc

        out = {}
        for col in stat_cols:
            if col not in tbl.schema.names:
                continue
            try:
                mm = pc.min_max(tbl.column(col)).as_py()
            except pa.ArrowNotImplementedError:
                continue
            lo, hi = self._json_scalar(mm["min"]), self._json_scalar(mm["max"])
            if lo is not None and hi is not None:
                out[col] = [lo, hi]
        return out

    def _stat_columns(self, entry: TableEntry) -> list[str]:
        """Columns worth per-file min/max stats: the sorting key, or the
        Z-order cluster columns (file pruning pays off once optimize() has
        clustered the data)."""
        cols = list(entry.sorting_key)
        cols += [
            c for c in entry.properties.get("cluster_by", []) if c not in cols
        ]
        return cols

    def _mark_unsorted(self, entry: TableEntry) -> None:
        if entry.sorting_key:
            sorted_rows = sum(
                f.rows for f in entry.files if f.sorted_by == entry.sorting_key
            )
            total = max(entry.num_rows, 1)
            entry.sorting_done = sorted_rows == total and len(entry.files) <= 1
            entry.sorting_score = int(100 * sorted_rows / total)
        for proj in entry.projections.values():
            proj["stale"] = True
        for mv in entry.matviews.values():
            mv["stale"] = True
        if entry.vector_index and entry.vector_index.get("files"):
            entry.vector_index["stale"] = True

    def insert(self, rows: pa.RecordBatch | pa.Table) -> pa.ChunkedArray:
        """Insert an Arrow batch; returns the allocated ``$row_id``s
        (reference: vastdb/table.py:739-777 returns the row-id array).

        The reference slices batches into <=5 MB RPCs and falls back to
        40-column sub-batches (table.py:706-737) — wire-protocol artifacts
        with no Spark analog; here one insert = one parquet file written
        driver-side (bulk loads should use import_files/insert_df).
        """
        if isinstance(rows, pa.RecordBatch):
            rows = pa.Table.from_batches([rows])
        entry = TableEntry.from_json(self.entry.to_json())
        arrow = self.arrow_schema
        n = rows.num_rows
        if n == 0:
            return pa.chunked_array([[]], type=_ROW_ID_ARROW)

        unknown = [c for c in rows.schema.names if c not in arrow.names and c != EXTERNAL_ROW_ID]
        if unknown:
            raise InvalidArgument(f"insert has unknown columns: {unknown}")

        storage = self._physical_storage_schema()
        pmap = self._physical_map()
        renamed = rows.rename_columns(
            [pmap.get(c, c) for c in rows.schema.names]
        ) if pmap else rows

        if entry.use_external_row_ids and EXTERNAL_ROW_ID in rows.schema.names:
            ids = rows.column(EXTERNAL_ROW_ID).cast(pa.int64())
            data = renamed.drop_columns([EXTERNAL_ROW_ID])
            tbl = cast_to_storage(data, storage)
            tbl = tbl.append_column(
                pa.field(PHYSICAL_ROW_ID, pa.int64(), False), ids
            )
            id_list = ids.to_pylist()
            lo, hi = min(id_list), max(id_list)
            path = self._write_parquet(tbl)
            self._register_file(
                entry, path, n, min_row_id=lo, max_row_id=hi,
                col_stats=self._arrow_col_stats(rows, self._stat_columns(entry)),
            )
            entry.next_row_id = max(entry.next_row_id, hi + 1)
            out_ids = ids.cast(_ROW_ID_ARROW)
        else:
            base = entry.next_row_id
            tbl = cast_to_storage(renamed, storage)
            path = self._write_parquet(tbl)
            self._register_file(
                entry, path, n, row_id_base=base,
                col_stats=self._arrow_col_stats(rows, self._stat_columns(entry)),
            )
            entry.next_row_id = base + n
            out_ids = pa.chunked_array([pa.array(range(base, base + n), pa.uint64())])

        self._mark_unsorted(entry)
        self._state.staged_files.append(path)
        self._mutate(entry, "insert", rows=n)
        self._sync_blob_expansions(entry)
        return out_ids

    def insert_in_column_batches(
        self, rows: pa.RecordBatch | pa.Table, max_columns_per_batch: int = 40
    ) -> pa.ChunkedArray:
        """Wide-row insert: the first ``max_columns_per_batch`` columns go
        through ``insert`` (sorting-key columns first — they cannot be
        updated afterwards), the rest are applied as ``$row_id``-keyed
        updates in column groups (reference: insert_in_column_batches,
        vastdb/table.py:706-737, MAX_COLUMN_IN_BATCH=40 — there an RPC-size
        workaround; here a driver-side convenience for very wide schemas).
        Returns the allocated row ids."""
        if isinstance(rows, pa.RecordBatch):
            rows = pa.Table.from_batches([rows])
        names = list(rows.schema.names)
        sort_first = [k for k in self.entry.sorting_key if k in names]
        names = sort_first + [c for c in names if c not in sort_first]
        head, tail = names[:max_columns_per_batch], names[max_columns_per_batch:]
        row_ids = self.insert(rows.select(head))
        for start in range(0, len(tail), max_columns_per_batch):
            chunk = tail[start : start + max_columns_per_batch]
            upd = rows.select(chunk).append_column(
                pa.field(INTERNAL_ROW_ID, _ROW_ID_ARROW), row_ids
            )
            self.update(upd)
        return row_ids

    def _write_parquet(self, tbl: pa.Table) -> str:
        path = self._state.store.new_data_file(self.schema.name, self.name)
        pq.write_table(tbl, path, compression="zstd")
        return path

    def insert_df(self, df: DataFrame) -> int:
        """Distributed insert of a Spark DataFrame (engine extension; the
        scalable ingest path). Honors the table's ``partition_by`` spec:
        rows land in hive-style partition directories, the manifest records
        each file's partition values, and scans prune partitions before
        Spark plans. Returns number of rows inserted."""
        entry = TableEntry.from_json(self.entry.to_json())
        pmap = self._physical_map()
        part_cols = list(entry.properties.get("partition_by", []))
        cols = [F.col(c).alias(pmap.get(c, c)) for c in df.columns]
        staging = os.path.join(
            self._state.store.table_data_dir(self.schema.name, self.name),
            f"ins-{os.getpid()}-{time.time_ns()}",
        )
        writer = df.select(*cols).write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*[pmap.get(c, c) for c in part_cols])
        writer.parquet(staging)

        arrow = self.arrow_schema
        total = 0
        base = entry.next_row_id
        for dirpath, _dirs, files in sorted(os.walk(staging)):
            partition = self._partition_from_path(dirpath, staging, part_cols, arrow, pmap)
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                fpath = os.path.join(dirpath, fn)
                fmd = pq.ParquetFile(fpath).metadata
                nrows = fmd.num_rows
                if nrows == 0:
                    continue
                stat_cols = self._stat_columns(entry)
                self._register_file(
                    entry, fpath, nrows, row_id_base=base,
                    partition=partition,
                    col_stats=self._footer_col_stats(
                        fmd, stat_cols, {pmap.get(c, c): c for c in stat_cols}
                    ),
                )
                self._state.staged_files.append(fpath)
                base += nrows
                total += nrows
        entry.next_row_id = base
        self._mark_unsorted(entry)
        self._mutate(entry, "insert_df", rows=total)
        self._sync_blob_expansions(entry)
        return total

    @staticmethod
    def _partition_from_path(
        dirpath: str, staging: str, part_cols: list[str], arrow: pa.Schema, pmap: dict
    ) -> dict:
        """Parse hive-style ``col=value`` path segments into typed partition
        values (typed so manifest pruning compares like with like)."""
        import urllib.parse

        rel = os.path.relpath(dirpath, staging)
        partition: dict = {}
        if rel == "." or not part_cols:
            return partition
        inv = {v: k for k, v in pmap.items()}
        for seg in rel.split(os.sep):
            if "=" not in seg:
                continue
            phys, raw = seg.split("=", 1)
            logical = inv.get(phys, phys)
            raw = urllib.parse.unquote(raw)
            if raw == "__HIVE_DEFAULT_PARTITION__":
                continue  # NULL partition: value stays in no-constant form
            idx = arrow.get_field_index(logical)
            if idx < 0:
                continue
            dt = arrow.field(idx).type
            if pa.types.is_integer(dt):
                partition[logical] = int(raw)
            elif pa.types.is_floating(dt):
                partition[logical] = float(raw)
            else:
                partition[logical] = raw
        return partition

    # -- update / delete by row id (reference: vastdb/table.py:779-843) ---
    def _rewrite_files(
        self, entry: TableEntry, affected: list[FileEntry], new_df: DataFrame, op: str
    ) -> None:
        """Replace ``affected`` files with the rows of ``new_df`` (must carry
        logical columns + $row_id). Written files get a physical row id."""
        pmap = self._physical_map()
        arrow = self.arrow_schema
        cols = [F.col(f.name).alias(pmap.get(f.name, f.name)) for f in arrow]
        cols.append(F.col(INTERNAL_ROW_ID).cast("long").alias(PHYSICAL_ROW_ID))
        staging = os.path.join(
            self._state.store.table_data_dir(self.schema.name, self.name),
            f"{op}-{os.getpid()}-{time.time_ns()}",
        )
        new_df.select(*cols).write.mode("overwrite").parquet(staging)
        gone = {a.path for a in affected}
        entry.files = [f for f in entry.files if f.path not in gone]
        stat_cols = self._stat_columns(entry)
        cmap = {pmap.get(c, c): c for c in stat_cols}
        for fn in sorted(os.listdir(staging)):
            if not fn.endswith(".parquet"):
                continue
            fpath = os.path.join(staging, fn)
            md = pq.ParquetFile(fpath).metadata
            nrows = md.num_rows
            if nrows == 0:
                continue
            # min/max row id from the footer stats of the row-id column
            rid_idx = md.schema.to_arrow_schema().names.index(PHYSICAL_ROW_ID)
            lo = min(
                md.row_group(i).column(rid_idx).statistics.min for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(rid_idx).statistics.max for i in range(md.num_row_groups)
            )
            self._register_file(
                entry, fpath, nrows, min_row_id=lo, max_row_id=hi,
                col_stats=self._footer_col_stats(md, stat_cols, cmap),
            )
            self._state.staged_files.append(fpath)

    def _rows_to_df(self, rows: pa.RecordBatch | pa.Table) -> tuple[DataFrame, str]:
        """Client-supplied rows as a Spark frame, PARQUET-BACKED: a
        ``createDataFrame`` LocalRelation re-ships its rows through the
        Python/Arrow conversion on EVERY action that reads it (~0.3 s of
        fixed cost per action, measured r14) while a parquet-backed frame
        with an explicit schema is plain file-scan input. The file is tiny
        (the caller's id batch), written once on the driver. Returns
        ``(df, path)`` — the caller removes ``path`` when its DML actions
        are done."""
        if isinstance(rows, pa.RecordBatch):
            rows = pa.Table.from_batches([rows])
        # normalize $row_id to long for the join
        names = [
            "__update_row_id" if c == INTERNAL_ROW_ID else c for c in rows.schema.names
        ]
        rows = rows.rename_columns(names)
        cols = {}
        for name in rows.schema.names:
            col = rows.column(name)
            if name == "__update_row_id":
                col = col.cast(pa.int64())
            cols[name] = col
        rows = pa.table(cols)
        path = os.path.join(
            self._state.store.table_data_dir(self.schema.name, self.name),
            f"idstage-{os.getpid()}-{time.time_ns()}.parquet",
        )
        pq.write_table(rows, path, compression="zstd")
        return (
            self.spark.read.schema(arrow_schema_to_spark(rows.schema)).parquet(path),
            path,
        )

    def update(
        self, rows: pa.RecordBatch | pa.Table, columns: list[str] | None = None
    ) -> None:
        """Update rows keyed by ``$row_id`` (reference: vastdb/table.py:779-817)."""
        if isinstance(rows, pa.RecordBatch):
            rows = pa.Table.from_batches([rows])
        if INTERNAL_ROW_ID not in rows.schema.names:
            raise InvalidArgument(f"update rows must contain {INTERNAL_ROW_ID!r}")
        upd_cols = columns or [c for c in rows.schema.names if c != INTERNAL_ROW_ID]
        ids = rows.column(INTERNAL_ROW_ID).to_pylist()
        if not ids:
            return
        entry = TableEntry.from_json(self.entry.to_json())
        affected = self._affected_files(entry, ids=ids)
        if not affected:
            return
        # merge-on-read: DV-mask the old row versions and append ONLY the
        # replacement rows (same row ids) as a new file — cost is
        # proportional to matched rows, never to the size of touched files
        base_df = self.df(
            internal_row_id=True, files=affected, with_file_path=True
        )
        upd_df, upd_path = self._rows_to_df(rows)
        joined = base_df.join(
            F.broadcast(upd_df),
            base_df[INTERNAL_ROW_ID] == upd_df["__update_row_id"],
            "inner",
        )
        out_cols = []
        for f in self.arrow_schema:
            # updated columns take the new value verbatim — an update may
            # legitimately set a column to NULL (cast pins the storage type
            # even for all-NULL batches)
            if f.name in upd_cols:
                out_cols.append(
                    upd_df[f.name]
                    .cast(arrow_type_to_spark(storage_arrow_type(f.type)))
                    .alias(f.name)
                )
            else:
                out_cols.append(base_df[f.name])
        out_cols.append(base_df[INTERNAL_ROW_ID])
        out_cols.append(F.col("__source_file"))
        matched_df = joined.select(*out_cols).persist()
        try:
            # fully distributed, like update_where: replacement rows and DV
            # sidecars are both written from executors — matched row ids
            # never land on the driver (a 100x-scale batch through this
            # path used to materialize every id in driver memory)
            self._apply_dv_dml(
                entry, "update", affected,
                matched_df.select(INTERNAL_ROW_ID, "__source_file"),
                matched_df.drop("__source_file"),
                rows=len(ids),
            )
        finally:
            matched_df.unpersist()
            try:
                os.remove(upd_path)
            except OSError:
                pass

    # deletion-vector plumbing --------------------------------------------
    DV_REWRITE_FRACTION = 0.3  # fold DVs into a rewrite past this fraction

    @staticmethod
    def _dv_owner_fk(fe: FileEntry) -> str:
        """Key tying a DV row to its owning data file — matches the scan's
        md5(_metadata.file_path). DVs are file-scoped: a masked row id says
        nothing about the same id in a replacement file written later."""
        import hashlib

        return hashlib.md5(("file:" + os.path.abspath(fe.path)).encode()).hexdigest()

    def _write_dvs_distributed(
        self, affected: list[FileEntry], dv_src: DataFrame
    ) -> int:
        """Write deletion vectors for ``dv_src`` rows (columns ``$row_id``,
        ``__source_file``) without driver-side id collection: one
        hive-partitioned write keyed on the source file, then footer-count
        registration. Scales to predicates matching millions of rows.
        Returns the total masked-row count (from the written footers), so
        callers can detect a no-op without a separate pre-count job."""
        out = dv_src.select(
            F.col(INTERNAL_ROW_ID).cast("long").alias("deleted_row_id"),
            F.md5(F.col("__source_file")).alias("owner_fk"),
            F.md5(F.col("__source_file")).alias("__fk"),
        )
        staging = os.path.join(
            self._state.store.table_data_dir(self.schema.name, self.name),
            f"dv-{os.getpid()}-{time.time_ns()}",
        )
        out.write.partitionBy("__fk").mode("overwrite").parquet(staging)
        by_key = {self._dv_owner_fk(fe): fe for fe in affected}
        total = 0
        for dirname in sorted(os.listdir(staging)):
            if not dirname.startswith("__fk="):
                continue
            fe = by_key[dirname.split("=", 1)[1]]
            added = 0
            for fn in sorted(os.listdir(os.path.join(staging, dirname))):
                if not fn.endswith(".parquet"):
                    continue
                fpath = os.path.join(staging, dirname, fn)
                n = pq.ParquetFile(fpath).metadata.num_rows
                if n == 0:
                    continue
                fe.dv_paths.append(fpath)
                added += n
            fe.dv_rows += added
            total += added
        if total:
            self._state.staged_files.append(staging)
        else:  # nothing masked: a no-op statement leaves no orphan dir
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
        return total

    def _fold_heavy_dvs(self, entry: TableEntry, candidates: list[FileEntry]) -> None:
        """Rewrite files whose deletion vectors exceed DV_REWRITE_FRACTION
        of their rows, dropping masked rows physically. Bounds the scan-time
        anti-join: DVs never exceed ~30% of any file."""
        heavy = [
            fe
            for fe in candidates
            if fe.dv_rows and fe.rows and fe.dv_rows / fe.rows > self.DV_REWRITE_FRACTION
        ]
        if not heavy:
            return
        # df() over the updated entries applies the DV filter, so the
        # rewrite output is exactly the surviving rows (row ids preserved)
        keep = self.df(internal_row_id=True, files=heavy)
        self._rewrite_files(entry, heavy, keep, "dvfold")

    def _affected_files(
        self, entry: TableEntry, *, predicate: Any = None, ids: list[int] | None = None
    ) -> list[FileEntry]:
        """Files of the statement's working copy ``entry`` that may hold a
        target row: row-id range overlap with ``ids``, else manifest pruning
        by ``predicate`` (no predicate: every file). Entries come from
        ``entry`` so DV updates land on what the statement commits."""
        if ids is not None:
            lo, hi = min(ids), max(ids)
            return [
                fe
                for fe in entry.files
                if (r := fe.row_id_range())[0] <= hi and r[1] >= lo
            ]
        pruned = self._pruned_files(predicate)
        if pruned is None:
            return list(entry.files)
        keep = {fe.path for fe in pruned}
        return [fe for fe in entry.files if fe.path in keep]

    def _apply_dv_dml(
        self,
        entry: TableEntry,
        op: str,
        affected: list[FileEntry],
        masked: DataFrame | None,
        replacement: DataFrame | None = None,
        *,
        replaces: list[FileEntry] = (),
        changed: bool = False,
        **audit,
    ) -> int:
        """The one commit order of a deletion-vector DML statement:

        1. DV-mask the ``masked`` rows (``$row_id``, ``__source_file``) of
           ``affected``; the written footers' row count is the match
           detector (no pre-count job);
        2. nothing masked, nothing in ``replaces`` and nothing ``changed``
           earlier in the statement (merge's inserts): a TRUE no-op — no
           manifest change or audit event, nothing goes stale, and a
           concurrent writer does not conflict;
        3. write ``replacement``: new versions of the masked rows, or the
           survivors of ``replaces`` (delete's heavy route);
        4. fold files whose DVs passed DV_REWRITE_FRACTION;
        5. mark sort state, projections and indexes stale;
        6. stage the commit; a callable ``audit`` value is called with the
           masked-row count, which is also the return value."""
        n = 0 if masked is None else self._write_dvs_distributed(affected, masked)
        if not (n or replaces or changed):
            return 0
        if replacement is not None:
            self._rewrite_files(entry, list(replaces), replacement, op)
        self._fold_heavy_dvs(entry, affected)
        self._mark_unsorted(entry)
        self._mutate(
            entry, op, **{k: v(n) if callable(v) else v for k, v in audit.items()}
        )
        return n

    def delete(self, rows: pa.RecordBatch | pa.Table) -> None:
        """Delete rows keyed by ``$row_id`` (reference: vastdb/table.py:819-843).

        Scale design: instead of rewriting every affected data file, the
        matched row ids are appended as per-file deletion-vector sidecars
        (Delta/Iceberg-style merge-on-read) — one column-pruned scan to
        attribute ids to files, then tiny DV writes. Files whose DV grows
        past DV_REWRITE_FRACTION are folded (rewritten without masked rows),
        so read amplification stays bounded."""
        if isinstance(rows, pa.RecordBatch):
            rows = pa.Table.from_batches([rows])
        if INTERNAL_ROW_ID not in rows.schema.names:
            raise InvalidArgument(f"delete rows must contain {INTERNAL_ROW_ID!r}")
        ids = rows.column(INTERNAL_ROW_ID).to_pylist()
        if not ids:
            return
        entry = TableEntry.from_json(self.entry.to_json())
        affected = self._affected_files(entry, ids=ids)
        if not affected:
            return
        # Files that will certainly cross DV_REWRITE_FRACTION go STRAIGHT
        # to the fold rewrite, skipping the deletion-vector pass entirely:
        # the id batch is client-supplied, so a per-file UPPER BOUND on
        # matched rows (ids falling in the file's row-id range) is free on
        # the driver — writing a DV sidecar only for _fold_heavy_dvs to
        # rewrite the file anyway was one full wasted Spark write job per
        # DELETE (r14 measurement: the DV pass was ~40% of delete() wall
        # on a fold-triggering batch). The bound over-counts (dead ids,
        # replacement-file id gaps), so it only ever routes a file to the
        # rewrite a little early — both paths are exact.
        import bisect

        heavy, light = [], []
        sorted_ids = sorted(ids)
        for fe in affected:
            flo, fhi = fe.row_id_range()
            in_range = bisect.bisect_right(sorted_ids, fhi) - bisect.bisect_left(
                sorted_ids, flo
            )
            if fe.rows and (fe.dv_rows + in_range) / fe.rows > self.DV_REWRITE_FRACTION:
                heavy.append(fe)
            else:
                light.append(fe)
        # one distributed job: which requested ids are live, and in which
        # light file? (Catalyst prunes the scan to metadata columns); DV
        # sidecars are written from executors like delete_where — matched
        # ids never collect on the driver. The range bound is an
        # over-count, so no light file can cross the fraction — the fold
        # only ever re-checks light files already carrying earlier DVs
        del_df, del_path = self._rows_to_df(rows.select([INTERNAL_ROW_ID]))
        try:
            matched = keep = None
            if light:
                base = self.df(
                    internal_row_id=True, files=light, with_file_path=True
                ).select(INTERNAL_ROW_ID, "__source_file")
                matched = base.join(
                    F.broadcast(del_df),
                    base[INTERNAL_ROW_ID] == del_df["__update_row_id"],
                    "left_semi",
                )
            if heavy:
                keep = self.df(internal_row_id=True, files=heavy)
                keep = keep.join(
                    F.broadcast(del_df),
                    keep[INTERNAL_ROW_ID] == del_df["__update_row_id"],
                    "left_anti",
                )
            self._apply_dv_dml(
                entry, "delete", light, matched, keep, replaces=heavy, rows=len(ids)
            )
        finally:
            try:
                os.remove(del_path)
            except OSError:
                pass

    def delete_where(self, predicate: Any) -> None:
        """Predicate DELETE (engine extension): fully distributed — no
        row-id collection on the driver. Manifest pruning narrows the
        affected files first; matching row ids are written straight to
        per-file deletion-vector sidecars (hive-partitioned by source file),
        so no data file is rewritten and only the predicate columns are
        read. Files whose DV grows past DV_REWRITE_FRACTION are folded. The
        reference only offers row-id DML (vastdb/table.py:819-843); this is
        the 100 TB-shaped equivalent of ``DELETE FROM t WHERE ...``."""
        pred = to_spark_predicate(predicate, self.arrow_schema)
        if pred is None:
            raise InvalidArgument("delete_where requires a predicate")
        entry = TableEntry.from_json(self.entry.to_json())
        affected = self._affected_files(entry, predicate=predicate)
        if not affected:
            return
        matching = self.df(
            internal_row_id=True, files=affected, with_file_path=True
        ).filter(pred)
        self._apply_dv_dml(entry, "delete_where", affected, matching)

    def dedup_rows(self, columns: list[str] | None = None) -> None:
        """Exact table dedup (engine extension): keep ONE row per distinct
        ``columns`` value (default: all columns) — the kept representative
        is the lowest ``$row_id``, so repeated runs are idempotent and the
        survivor set is deterministic. Fully distributed: losers are found
        with one window over the key columns (a single shuffle) and written
        straight to per-file deletion-vector sidecars — no data file is
        rewritten, no ids cross the driver. The batch-tier twin over plain
        DataFrames is operators/dedup.dedup_exact; this is the same
        semantics applied to a managed table in place. Near-dup cleanup
        composes: compute pairs with the operators tier, map losers to a
        predicate or rowid set, then delete."""
        rid = F.col(INTERNAL_ROW_ID)
        self._mask_window_losers(
            "dedup_rows", columns or [f.name for f in self.arrow_schema], [rid.asc()], 1
        )

    def cap_rows_per_group(self, group_columns: list[str], n: int) -> None:
        """Per-group row quota in place (engine extension; batch-tier twin
        operators/sampling.cap_per_group): keep at most ``n`` rows per
        distinct ``group_columns`` value — the RefinedWeb/C4 per-domain
        cap applied to a managed table. Survivors are chosen by
        ``md5($row_id)`` order (ties on ``$row_id``), so the kept subset
        is a deterministic pseudo-random sample and the operation is
        IDEMPOTENT: survivors of a capped group are exactly its md5-first
        ``n`` rows, so a re-run finds every group already at quota and
        no-ops (true no-op — no manifest mutation, no index staling).

        Fully distributed, same machinery as :meth:`dedup_rows`: one
        rank-filtered window per group (compiles to WindowGroupLimit —
        map tasks trim hot groups to ~n rows before the shuffle) finds
        the losers, which are written straight to per-file
        deletion-vector sidecars; no data file is rewritten and no row
        ids cross the driver."""
        if n < 1:
            raise InvalidArgument(f"n={n} must be >= 1")
        if not group_columns:
            raise InvalidArgument("group_columns must be non-empty")
        rid = F.col(INTERNAL_ROW_ID)
        self._mask_window_losers(
            "cap_rows_per_group", group_columns,
            [F.md5(rid.cast("string")).asc(), rid.asc()], n,
        )

    def _mask_window_losers(
        self, op: str, keys: list[str], order: list[Column], keep: int
    ) -> None:
        """DV-mask every row after the first ``keep`` of its ``keys`` group
        in ``order`` (dedup_rows, cap_rows_per_group). ONE job: the DV
        write's footer count detects the no-op — an isEmpty() pre-check
        would run the window shuffle a second time."""
        bad = [c for c in keys if c not in self.arrow_schema.names]
        if bad:
            raise InvalidArgument(f"unknown columns: {bad}")
        unkeyable = [c for c in keys if pa.types.is_map(self.arrow_schema.field(c).type)]
        if unkeyable:
            raise InvalidArgument(
                f"map-typed columns cannot be keys (Spark cannot group/partition "
                f"on maps): {unkeyable}; pass keys excluding them"
            )
        entry = TableEntry.from_json(self.entry.to_json())
        if not entry.files:
            return
        from pyspark.sql import Window as W

        df = self.df(internal_row_id=True, files=entry.files, with_file_path=True)
        w = W.partitionBy(*keys).orderBy(*order)
        losers = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > F.lit(int(keep)))
            .select(INTERNAL_ROW_ID, "__source_file")
        )
        self._apply_dv_dml(entry, op, entry.files, losers)

    def dedup_near_rows(
        self,
        text_column: str,
        threshold: float = 0.8,
        num_hashes: int = 16,
        num_bands: int = 4,
        shingle_k: int = 3,
        max_bucket_size: int | None = None,
        method: str = "minhash",
        max_hamming: int = 3,
        num_planes: int = 8,
        dim: int | None = None,
        num_centroids: int | None = None,
        max_df: int | None = None,
    ) -> None:
        """NEAR-duplicate table cleanup in place (engine extension): a
        candidate-pair generator + connected components runs over the
        table keyed by ``$row_id``, and every non-representative cluster
        member (keeper = lowest ``$row_id``, transitively: a~b~c keeps
        only a) is DV-masked via the distributed writer. No id
        collection, no file rewrite below the fold threshold; idempotent
        (survivors have no qualifying pairs left). Composition of
        operators/dedup.py + operators/similarity.py with the engine's
        DML tier — the exact-dup fast path is :meth:`dedup_rows`.

        ``method`` selects the candidate generator, matching the full
        operators tier:

        - ``"minhash"`` (default): MinHash-LSH candidates + exact
          Jaccard >= ``threshold`` over ``text_column`` (a string
          column). Dials: ``num_hashes``/``num_bands``/``shingle_k``/
          ``max_bucket_size``.
        - ``"simhash"``: 64-bit SimHash fingerprints, pigeonhole-block
          pairs with hamming distance <= ``max_hamming`` over
          ``text_column`` (a string column).
        - ``"embedding"``: RHP-LSH-bucketed cosine >= ``threshold``
          over ``text_column`` (an ``array<float/double>`` embedding
          column). Dials: ``num_planes``/``num_bands``/``dim`` (pass
          ``dim`` to skip the one-row width probe).
        - ``"semantic"``: SemDeDup candidates (similarity.
          semantic_dup_pairs) — k-means clusters over the NORMALIZED
          vector column, exact cosine >= ``threshold`` within clusters.
          Dial: ``num_centroids`` (default None auto-sizes to a fixed
          ~4096-row cluster target, so within-cluster pair work totals
          O(rows) — a fixed centroid COUNT would go quadratic as the
          table grows; pass an explicit value only for small tables or
          recall experiments).
        - ``"tfidf"``: lexical TF-IDF cosine >= ``threshold`` over
          ``text_column`` (a string column) via the prefix-filtered
          inverted-index join (operators/dedup.tfidf_cosine_pairs) —
          catches reworded same-vocabulary rows that shingle MinHash
          misses. Dial: ``max_df`` (ABSOLUTE document-frequency cap;
          default None falls back to the 20%-of-rows fractional cut —
          at large table sizes pass an absolute cap, which is what
          bounds candidate work).

        Every generator bounds its comparisons (bucket equi-joins or
        within-cluster cells) — never a cross product — and the default
        dials keep total candidate work linear in the table, matching
        the standalone pair operators' defaults."""
        if text_column not in self.arrow_schema.names:
            raise InvalidArgument(f"no column {text_column!r}")
        if method not in ("minhash", "simhash", "embedding", "semantic", "tfidf"):
            raise InvalidArgument(
                f"unknown dedup method {method!r}: expected 'minhash', "
                "'simhash', 'embedding', 'semantic' or 'tfidf'"
            )
        field_type = self.arrow_schema.field(text_column).type
        import pyarrow as pa

        is_list = pa.types.is_list(field_type) or pa.types.is_fixed_size_list(
            field_type
        )
        if method in ("embedding", "semantic") and not is_list:
            raise InvalidArgument(
                f"method={method!r} needs a list column, got {text_column!r}: "
                f"{field_type}"
            )
        if method not in ("embedding", "semantic") and is_list:
            raise InvalidArgument(
                f"method={method!r} needs a string column, got {text_column!r}: "
                f"{field_type} (use method='embedding'/'semantic' for "
                "vector columns)"
            )
        entry = TableEntry.from_json(self.entry.to_json())
        if not entry.files:
            return
        import contextlib

        from .operators.dedup import (
            dup_clusters,
            minhash_dedup_pairs_managed,
            simhash,
            simhash_near_pairs,
        )
        from .operators.similarity import embedding_near_dup_pairs

        from .operators.pinning import pin_scope

        # deterministic pin lifecycle: every internal localCheckpoint
        # pin created by the pair generators below is released when
        # this scope closes — a per-table DML loop must not wait on
        # GC-driven block cleanup. Everything derived from the pins is
        # fully consumed (the DV write) inside the scope.
        with pin_scope():
            df = self.df(internal_row_id=True, files=entry.files, with_file_path=True)
            docs = df.select(
                F.col(INTERNAL_ROW_ID).alias("doc_id"), F.col(text_column).alias("text")
            )
            if method == "minhash":
                pairs_cm = minhash_dedup_pairs_managed(
                    docs, "text", "doc_id", num_hashes, num_bands, threshold,
                    shingle_k, hash_fn="xxhash64", max_bucket_size=max_bucket_size,
                )
            elif method == "simhash":
                pairs_cm = contextlib.nullcontext(
                    simhash_near_pairs(
                        simhash(docs, "text", "doc_id", hash_fn="xxhash64"),
                        "doc_id",
                        max_hamming=max_hamming,
                    )
                )
            elif method == "embedding":
                pairs_cm = contextlib.nullcontext(
                    embedding_near_dup_pairs(
                        docs, id_col="doc_id", vec_col="text", threshold=threshold,
                        num_planes=num_planes, num_bands=num_bands, dim=dim,
                    )
                )
            elif method == "tfidf":
                from .operators.dedup import tfidf_cosine_pairs

                pairs_cm = contextlib.nullcontext(
                    tfidf_cosine_pairs(
                        docs, "text", "doc_id", threshold=threshold,
                        max_df=max_df,
                        max_df_fraction=(0.2 if max_df is None else None),
                    ).select(
                        F.col("a").alias("id_a"), F.col("b").alias("id_b")
                    )
                )
            else:  # semantic (SemDeDup candidates)
                from .operators.similarity import semantic_dup_pairs

                pairs_cm = contextlib.nullcontext(
                    semantic_dup_pairs(
                        docs, id_col="doc_id", vec_col="text",
                        threshold=threshold, num_centroids=num_centroids,
                        # manifest-exact live rows: skips the count() scan
                        n_rows=sum(fe.rows - fe.dv_rows for fe in entry.files),
                    )
                )
            with pairs_cm as verified:
                pairs = verified.persist()
                try:
                    # TRUE no-op when no qualifying pairs exist (see dedup_rows)
                    if pairs.limit(1).isEmpty():
                        return
                    losers = (
                        dup_clusters(pairs)
                        .filter(F.col("doc_id") != F.col("cluster_id"))
                        .select(F.col("doc_id").alias(INTERNAL_ROW_ID))
                    )
                    dv_src = df.join(losers, INTERNAL_ROW_ID, "left_semi").select(
                        INTERNAL_ROW_ID, "__source_file"
                    )
                    self._apply_dv_dml(entry, "dedup_near_rows", entry.files, dv_src)
                finally:
                    pairs.unpersist()

    def drop_passage_dup_rows(
        self,
        text_column: str,
        k: int = 8,
        max_dup_fraction: float = 0.5,
    ) -> None:
        """Passage-level cleanup in place (engine extension; completes the
        in-place tier next to :meth:`dedup_rows` / :meth:`dedup_near_rows`
        with the third duplication granularity): DV-mask every row whose
        fraction of distinct ``k``-token passages shared with at least one
        OTHER row exceeds ``max_dup_fraction`` (operators/dedup.
        passage_dup_stats — word-count-shaped, no pairwise joins). This is
        the boilerplate-page filter, not keep-one dedup: ALL rows above
        the threshold go, including the "original" (a page that is mostly
        duplicated passages is noise wherever it first appeared).
        Idempotent only in the trivial sense — removing docs can lower
        surviving docs' duplicate counts, so a second pass is a no-op;
        it never removes more."""
        if text_column not in self.arrow_schema.names:
            raise InvalidArgument(f"no column {text_column!r}")
        entry = TableEntry.from_json(self.entry.to_json())
        if not entry.files:
            return
        from .operators.dedup import passage_dup_stats

        df = self.df(internal_row_id=True, files=entry.files, with_file_path=True)
        stats = passage_dup_stats(
            df.select(
                F.col(INTERNAL_ROW_ID).alias("doc_id"),
                F.col(text_column).alias("text"),
            ),
            "text",
            "doc_id",
            k=k,
        )
        losers = stats.filter(
            F.col("dup_passage_fraction") > F.lit(float(max_dup_fraction))
        ).select(F.col("doc_id").alias(INTERNAL_ROW_ID)).persist()
        try:
            # TRUE no-op when nothing crosses the threshold (see dedup_rows)
            if losers.limit(1).isEmpty():
                return
            dv_src = df.join(losers, INTERNAL_ROW_ID, "left_semi").select(
                INTERNAL_ROW_ID, "__source_file"
            )
            self._apply_dv_dml(entry, "drop_passage_dup_rows", entry.files, dv_src)
        finally:
            losers.unpersist()

    def _span_file_diff(self, from_version: int, to_version: int) -> tuple:
        """Shared manifest-level file diff for change_span_stats AND
        read_changes — ONE pruning key (path + rows + DV set + row base),
        so "changed_files == 0 guarantees an empty feed" can never drift
        between the cost router and the feed itself. Returns
        ``(old_t, new_t, old_files, new_files, unchanged_paths)``."""
        bkt = self.bucket

        def _table_at(version: int):
            b = bkt.as_of(version=version)
            s = b.schema(self.schema.name, fail_if_missing=False)
            return s.table(self.name, fail_if_missing=False) if s else None

        old_t, new_t = _table_at(from_version), _table_at(to_version)
        if old_t is None and new_t is None:
            raise MissingTable(self.path)

        def _fkey(fe):
            return (fe.rows, fe.dv_rows, tuple(fe.dv_paths), fe.row_id_base)

        old_files = list(old_t.entry.files) if old_t else []
        new_files = list(new_t.entry.files) if new_t else []
        old_map = {f.path: f for f in old_files}
        new_map = {f.path: f for f in new_files}
        unchanged = {
            p
            for p in set(old_map) & set(new_map)
            if _fkey(old_map[p]) == _fkey(new_map[p])
        }
        return old_t, new_t, old_files, new_files, unchanged

    def change_span_stats(
        self, from_version: int, to_version: int | None = None
    ) -> dict:
        """Manifest-level summary of a change span — METADATA ONLY, zero
        data I/O: how many files (and rows behind them) differ between
        two committed versions, against the table's totals. This is what
        a cost-based router reads to decide incremental-vs-full BEFORE
        paying for the feed itself (sources/replicate.sync_derived_rows
        ``mode='auto'``): a span touching most of the table's rows makes
        a full re-derive cheaper than feed classification + merge.

        Returns ``{"changed_files", "total_files", "changed_rows",
        "total_rows"}`` where totals are the TO-side (current) table and
        changed counts are files not byte-identical (path + DV set + row
        base) in both versions — the same pruning key read_changes uses,
        so ``changed_files == 0`` guarantees an empty feed."""
        if to_version is None:
            to_version = self.bucket.manifest.version
        if from_version > to_version:
            raise InvalidArgument(
                f"change span is inverted: from_version={from_version} "
                f"> to_version={to_version}"
            )
        _old_t, _new_t, old_files, new_files, unchanged = self._span_file_diff(from_version, to_version)
        new_paths = {f.path for f in new_files}
        changed = [f for f in new_files if f.path not in unchanged]
        changed_old_only = [f for f in old_files if f.path not in new_paths]
        return {
            "changed_files": len(changed) + len(changed_old_only),
            "total_files": len(new_files),
            "changed_rows": sum(f.rows for f in changed)
            + sum(f.rows for f in changed_old_only),
            "total_rows": sum(f.rows for f in new_files),
        }

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level change feed between two committed manifest versions
        (engine extension — the Delta-CDF shape an incremental pipeline
        consumes instead of rescanning the corpus): returns the table's
        columns plus ``_row_id`` and ``_change_type`` in {'insert',
        'delete', 'update_preimage', 'update_postimage'}.
        ``to_version`` defaults to the bucket's current version.

        Scale design — the diff is row-identity-based, not file-based, so
        REWRITES DON'T LIE: compaction/optimize/dedup-fold rewrite files
        without logical change, and a file-level diff would report the
        whole rewritten span as churn. Instead (1) the manifest diff
        prunes every file byte-identical in both versions (same path,
        same DV set) — metadata-only, no I/O; (2) only the CHANGED
        files' rows are scanned on each side; (3) a full-outer join on
        the stable ``$row_id`` classifies rows, with an md5-of-to_json
        content hash separating genuine updates from rewrite carry-overs
        (hash-equal rows vanish). Cost tracks the changed-file span, not
        table size. One join shuffle; the classify+emit is a single pass
        (conditional array + explode — at most 2 tiny pre-built structs
        per row, so the Generate-re-evaluation pathology passage stats
        documents does not apply).

        Raises InvalidArgument if the table's schema differs between the
        two versions (consume schema changes as a full re-read)."""
        bkt = self.bucket
        if to_version is None:
            to_version = bkt.manifest.version
        if from_version > to_version:
            raise InvalidArgument(
                f"read_changes span is inverted: from_version={from_version} "
                f"> to_version={to_version} — an inverted feed would report "
                "inserts as deletes and swap update images"
            )

        old_t, new_t, old_files, new_files, unchanged = self._span_file_diff(from_version, to_version)
        if old_t is not None and new_t is not None:
            if old_t.arrow_schema != new_t.arrow_schema:
                raise InvalidArgument(
                    f"schema of {self.path} changed between versions "
                    f"{from_version} and {to_version}; a row-level change "
                    "feed is not defined across schema evolution — re-read "
                    "the table at the target version instead"
                )
        ref = new_t if new_t is not None else old_t
        cols = [f.name for f in ref.arrow_schema]
        old_read = [f for f in old_files if f.path not in unchanged]
        new_read = [f for f in new_files if f.path not in unchanged]

        spark_schema = arrow_schema_to_spark(ref.arrow_schema).add(
            INTERNAL_ROW_ID, T.LongType()
        )

        # backtick-quote every reference: plain F.col("a.b") dot-parses, so
        # a column literally named "a.b" (Arrow permits it) would resolve as
        # struct access and fail — same reason _emit uses getField
        def _c(name):
            return F.col(f"`{name}`")

        def _side(t, files):
            if t is None or not files:
                return self.spark.createDataFrame([], spark_schema)
            return t.df(internal_row_id=True, files=files).select(
                *[_c(c) for c in cols], _c(INTERNAL_ROW_ID)
            )

        # Content hash must be PHYSICAL-LAYOUT-INVARIANT: to_json emits map
        # entries in storage order, so a compaction that reorders a map's
        # entries would hash differently and misreport an unchanged row as
        # an update pre/post pair (false churn — never lost changes, but
        # wrong). Canonicalize recursively: every map (top-level or nested
        # in struct/array/map values) becomes its entry array sorted by
        # key before hashing. Keys are unique so the key-only comparator
        # is a total order, and it never compares values — which may
        # themselves be non-orderable maps.
        def _canon(col, dt):
            if isinstance(dt, T.MapType):
                entries = F.transform(
                    F.map_entries(col),
                    lambda e: F.struct(
                        _canon(e["key"], dt.keyType).alias("key"),
                        _canon(e["value"], dt.valueType).alias("value"),
                    ),
                )
                return F.array_sort(
                    entries,
                    lambda a, b: F.when(a["key"] < b["key"], -1)
                    .when(a["key"] > b["key"], 1)
                    .otherwise(0),
                )
            if isinstance(dt, T.ArrayType):
                return F.transform(col, lambda x: _canon(x, dt.elementType))
            if isinstance(dt, T.StructType):
                return F.struct(
                    *[
                        _canon(col.getField(f.name), f.dataType).alias(f.name)
                        for f in dt.fields
                    ]
                )
            return col

        hash_fields = {f.name: f.dataType for f in spark_schema.fields}
        chash = F.md5(
            F.to_json(
                F.struct(
                    *[_canon(_c(c), hash_fields[c]).alias(c) for c in cols]
                )
            )
        )
        o = _side(old_t, old_read).select(
            _c(INTERNAL_ROW_ID).alias("__rid_o"),
            chash.alias("__oh"),
            F.struct(*[_c(c).alias(c) for c in cols]).alias("__ov"),
        )
        n = _side(new_t, new_read).select(
            _c(INTERNAL_ROW_ID).alias("__rid_n"),
            chash.alias("__nh"),
            F.struct(*[_c(c).alias(c) for c in cols]).alias("__nv"),
        )
        j = o.join(n, o["__rid_o"] == n["__rid_n"], "full_outer")

        def _emit(src, kind):
            # getField, not "src.c" parsing: column names may contain dots
            return F.struct(
                *[F.col(src).getField(c).alias(c) for c in cols],
                F.lit(kind).alias("_change_type"),
            )

        # unchanged rows (hash-equal on both sides — rewrite carry-overs)
        # are dropped BEFORE classification, so the when-chain is
        # exhaustive and needs no otherwise-typed empty array
        j = j.filter(
            F.col("__rid_o").isNull()
            | F.col("__rid_n").isNull()
            | (F.col("__oh") != F.col("__nh"))
        )
        payload = (
            F.when(F.col("__rid_o").isNull(), F.array(_emit("__nv", "insert")))
            .when(F.col("__rid_n").isNull(), F.array(_emit("__ov", "delete")))
            .when(
                F.col("__oh") != F.col("__nh"),
                F.array(
                    _emit("__ov", "update_preimage"),
                    _emit("__nv", "update_postimage"),
                ),
            )
        )
        rid = F.coalesce(F.col("__rid_o"), F.col("__rid_n")).alias("_row_id")
        out = j.select(rid, F.explode(payload).alias("__c"))
        return out.select("_row_id", "__c.*")

    def update_where(self, predicate: Any, assignments: dict) -> None:
        """Predicate UPDATE (engine extension): ``assignments`` maps column
        names to Spark Columns, engine expressions, or literals, applied to
        rows matching ``predicate``. Distributed end-to-end; only files that
        can contain matches are rewritten."""
        from .expr import Expr

        pred = to_spark_predicate(predicate, self.arrow_schema)
        if pred is None:
            raise InvalidArgument("update_where requires a predicate")
        bad = [c for c in assignments if c not in self.arrow_schema.names]
        if bad:
            raise InvalidArgument(f"unknown columns in assignments: {bad}")
        entry = TableEntry.from_json(self.entry.to_json())
        affected = self._affected_files(entry, predicate=predicate)
        if not affected:
            return
        # merge-on-read (see update()): only matching rows are written as a
        # replacement file; old versions are DV-masked in place
        base_df = self.df(
            internal_row_id=True, files=affected, with_file_path=True
        ).filter(pred)
        out_cols = []
        for f in self.arrow_schema:
            if f.name in assignments:
                v = assignments[f.name]
                if isinstance(v, Expr):
                    v = v.to_spark()
                elif not isinstance(v, Column):
                    v = F.lit(v)
                # match the column's storage type so the rewritten parquet
                # stays readable under the table's reader schema
                v = v.cast(arrow_type_to_spark(storage_arrow_type(f.type)))
                out_cols.append(v.alias(f.name))
            else:
                out_cols.append(F.col(f.name))
        out_cols.append(F.col(INTERNAL_ROW_ID))
        out_cols.append(F.col("__source_file"))
        matched_df = base_df.select(*out_cols).persist()
        try:
            self._apply_dv_dml(
                entry, "update_where", affected,
                matched_df.select(INTERNAL_ROW_ID, "__source_file"),
                matched_df.drop("__source_file"),
                columns=sorted(assignments),
            )
        finally:
            matched_df.unpersist()

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        *,
        when_matched: str | None = "update",
        assignments: dict | None = None,
        when_not_matched: str | None = "insert",
        insert_assignments: dict | None = None,
        matched_condition=None,
        not_matched_condition=None,
        matched_clauses: list | None = None,
        not_matched_clauses: list | None = None,
        not_matched_by_source_clauses: list | None = None,
        target_alias: str | None = None,
        source_alias: str | None = None,
    ) -> dict:
        """Delta-style MERGE (upsert) — engine extension built on the
        merge-on-read DML machinery; the reference has no equivalent.

        ``on`` lists the join-key columns. Matched target rows are either
        updated (``when_matched="update"``: columns from ``assignments``
        — target col -> Column/engine expr/literal; plain strings are
        literals — or, by default, every non-key source column) or deleted
        (``"delete"``) or left alone (None). Unmatched source rows are
        inserted (``when_not_matched="insert"``: full rows, or the
        expressions in ``insert_assignments`` — unmentioned columns become
        NULL) or dropped (None). Source keys are assumed unique —
        duplicate keys produce one replacement row per source match.

        ``matched_condition`` / ``not_matched_condition`` (Column or engine
        Expr) are the SQL ``WHEN [NOT] MATCHED AND <cond>`` guards: matched
        target rows failing the guard are left untouched; unmatched source
        rows failing theirs are dropped instead of inserted.

        ``matched_clauses`` generalizes to ordered multi-clause MERGE
        (first TRUE guard wins per row, SQL semantics): a list of
        ``("update", guard, assignments)`` / ``("delete", guard, None)``
        tuples; guard None = unconditional (consumes all remaining
        matches). Overrides when_matched/matched_condition/assignments.
        ``not_matched_clauses`` does the same for inserts: ordered
        ``(guard, insert_assignments)`` tuples (assignments None = full
        source row), overriding when_not_matched/not_matched_condition/
        insert_assignments. ``not_matched_by_source_clauses`` routes TARGET
        rows with no source match through ordered ``("update", guard,
        assignments)`` / ``("delete", guard, None)`` tuples — assignments
        there may reference target columns only.

        ``target_alias``/``source_alias`` wrap the two sides in named
        subquery aliases so ``F.expr`` columns (the SQL front-end's SET
        clauses) can qualify ambiguous names (``F.expr("t.price +
        s.delta")``). Unqualified refs that exist on both sides raise
        Spark's ambiguity error — qualify them.

        Scale shape: one inner join for matches (DV-mask old versions +
        write only replacement rows), one anti-join for inserts
        (distributed ``insert_df``); no data file is rewritten. Returns
        ``{"updated": n, "deleted": n, "inserted": n}``.
        """
        from .expr import Expr

        arrow = self.arrow_schema
        bad = [k for k in on if k not in arrow.names or k not in source.columns]
        if bad or not on:
            raise InvalidArgument(f"merge keys must exist on both sides: {bad or on}")
        if when_matched not in ("update", "delete", None):
            raise InvalidArgument(f"when_matched: {when_matched!r}")
        if when_not_matched not in ("insert", None):
            raise InvalidArgument(f"when_not_matched: {when_not_matched!r}")
        for label, d in (("assignments", assignments),
                         ("insert_assignments", insert_assignments)):
            unknown = [k for k in (d or {}) if k not in arrow.names]
            if unknown:
                raise InvalidArgument(f"{label} target unknown columns: {unknown}")

        def _cond(label, c):
            if c is None or isinstance(c, Column):
                return c
            if isinstance(c, Expr):
                return c.to_spark()
            raise InvalidArgument(f"{label} must be a Column or engine Expr")

        matched_condition = _cond("matched_condition", matched_condition)
        not_matched_condition = _cond("not_matched_condition", not_matched_condition)

        def _norm_upd_del(raw, label):
            out = []
            for cl in raw:
                action = cl[0]
                guard = cl[1] if len(cl) > 1 else None
                asg = cl[2] if len(cl) > 2 else None
                if action not in ("update", "delete"):
                    raise InvalidArgument(f"{label} clause action: {action!r}")
                unknown = [k for k in (asg or {}) if k not in arrow.names]
                if unknown:
                    raise InvalidArgument(
                        f"{label} assignments target unknown columns: {unknown}"
                    )
                out.append((action, _cond(f"{label} guard", guard), asg))
            return out

        if matched_clauses is None:
            clauses = (
                [(when_matched, matched_condition, assignments)]
                if when_matched is not None
                else []
            )
        else:
            clauses = _norm_upd_del(matched_clauses, "matched")

        if not_matched_clauses is None:
            ins_clauses = (
                [(not_matched_condition, insert_assignments)]
                if when_not_matched == "insert"
                else []
            )
        else:
            ins_clauses = []
            for cl in not_matched_clauses:
                guard = cl[0] if len(cl) > 0 else None
                asg = cl[1] if len(cl) > 1 else None
                unknown = [k for k in (asg or {}) if k not in arrow.names]
                if unknown:
                    raise InvalidArgument(
                        f"insert assignments target unknown columns: {unknown}"
                    )
                ins_clauses.append((_cond("insert guard", guard), asg))

        nmbs_clauses = _norm_upd_del(
            not_matched_by_source_clauses or [], "not-matched-by-source"
        )
        for action, _g, asg in nmbs_clauses:
            if action == "update" and not asg:
                raise InvalidArgument(
                    "NOT MATCHED BY SOURCE UPDATE needs explicit assignments"
                    " (there is no source row to copy from)"
                )

        # NOTE (r14): pinning source/replace_df (eager localCheckpoints,
        # like the sync folds) was tried and measured SLOWER for merge —
        # e9's small-merge shape went 2.3 s -> 6.9 s (two extra eager
        # jobs + lost scan/join codegen fusion dominate when the merge
        # source is small, which is merge's common case here). The lazy
        # persist piggybacks materialization on the count job below.
        if source_alias:
            source = source.alias(source_alias)
        source = source.persist()
        counts = {"updated": 0, "deleted": 0, "inserted": 0}
        replace_df = del_df = None
        try:
            base = self.df(internal_row_id=True, with_file_path=True)
            if target_alias:
                base = base.alias(target_alias)
            pre_paths = {fe.path for fe in self.entry.files}
            cond = None
            for k in on:
                c = base[k].eqNullSafe(source[k])
                cond = c if cond is None else cond & c

            def _compile(v):
                if isinstance(v, Expr):
                    return v.to_spark()
                if isinstance(v, Column):
                    return v
                return F.lit(v)  # plain strings are literals, not SQL

            def _route(df_in, clause_list):
                """Ordered first-TRUE-guard-wins routing shared by all WHEN
                groups: yields (clause, branch-frame) pairs."""
                prior = []
                for cl in clause_list:
                    guard = cl[1] if len(cl) == 3 else cl[0]
                    branch = df_in
                    for pc in prior:
                        branch = branch.filter(~F.coalesce(pc, F.lit(False)))
                    if guard is not None:
                        branch = branch.filter(guard)
                        prior.append(guard)
                    else:
                        prior.append(F.lit(True))
                    yield cl, branch

            def _replacement_cols(asg, default_upd):
                out_cols = []
                for f in arrow:
                    upd = asg if asg is not None else default_upd
                    if f.name in upd:
                        v = _compile(upd[f.name])
                        v = v.cast(arrow_type_to_spark(storage_arrow_type(f.type)))
                        out_cols.append(v.alias(f.name))
                    else:
                        out_cols.append(base[f.name])
                out_cols.append(base[INTERNAL_ROW_ID])
                out_cols.append(base["__source_file"])
                return out_cols

            upd_parts, del_parts = [], []
            if clauses:
                joined = base.join(source, cond, "inner")
                default_upd = {
                    c: source[c]
                    for c in source.columns
                    if c in arrow.names and c not in on
                }
                for (action, _g, asg), branch in _route(joined, clauses):
                    if action == "update":
                        upd_parts.append(
                            branch.select(*_replacement_cols(asg or None, default_upd))
                        )
                    else:  # delete
                        del_parts.append(
                            branch.select(base[INTERNAL_ROW_ID], base["__source_file"])
                        )
            if nmbs_clauses:
                tgt_only = base.join(source, cond, "left_anti")
                for (action, _g, asg), branch in _route(tgt_only, nmbs_clauses):
                    if action == "update":
                        upd_parts.append(branch.select(*_replacement_cols(asg, {})))
                    else:
                        del_parts.append(
                            branch.select(base[INTERNAL_ROW_ID], base["__source_file"])
                        )
            if upd_parts:
                replace_df = reduce(DataFrame.unionByName, upd_parts).persist()
                counts["updated"] = replace_df.count()
            if del_parts:
                # not persisted and not pre-counted: the delete branch is
                # consumed exactly once (the DV write below), whose footer
                # count yields counts["deleted"] for free — the old
                # count() here was one full extra job per delete-merge
                del_df = reduce(DataFrame.unionByName, del_parts)

            if ins_clauses:
                not_matched = source.join(base, cond, "left_anti")
                ins_parts = []
                for (_g, asg), branch in _route(not_matched, ins_clauses):
                    ins_cols = []
                    for f in arrow:
                        spark_t = arrow_type_to_spark(storage_arrow_type(f.type))
                        if asg is not None:
                            if f.name in asg:
                                v = _compile(asg[f.name])
                                ins_cols.append(v.cast(spark_t).alias(f.name))
                            else:
                                ins_cols.append(
                                    F.lit(None).cast(spark_t).alias(f.name)
                                )
                        elif f.name in source.columns:
                            ins_cols.append(
                                branch[f.name].cast(spark_t).alias(f.name)
                            )
                        else:
                            ins_cols.append(F.lit(None).cast(spark_t).alias(f.name))
                    ins_parts.append(branch.select(*ins_cols))
                counts["inserted"] = self.insert_df(
                    reduce(DataFrame.unionByName, ins_parts)
                )

            # snapshot AFTER insert_df's own _mutate so its files survive;
            # DV attribution targets pre-merge files only (matches were
            # computed before the insert), keyed on the copy's entries
            entry = TableEntry.from_json(self.entry.to_json())
            affected = [fe for fe in entry.files if fe.path in pre_paths]
            masked = [
                replace_df.select(INTERNAL_ROW_ID, "__source_file")
            ] if counts["updated"] else []
            if del_df is not None:
                masked.append(del_df)

            def deleted(masked_rows):
                return max(0, masked_rows - counts["updated"])

            counts["deleted"] = deleted(
                self._apply_dv_dml(
                    entry, "merge", affected,
                    reduce(DataFrame.unionByName, masked) if masked else None,
                    replace_df.drop("__source_file") if counts["updated"] else None,
                    changed=counts["inserted"] > 0,
                    updated=counts["updated"],
                    deleted=deleted,
                    inserted=counts["inserted"],
                )
            )
        finally:
            source.unpersist()
            if replace_df is not None:
                replace_df.unpersist()
        return counts

    def restore(self, version: int) -> None:
        """Restore this table's full state (files, DVs, schema, projections,
        sort metadata) to what it was at manifest ``version``, committed as
        a NEW version — the Delta RESTORE analog: history only moves
        forward, so the pre-restore state stays time-travelable. The row-id
        allocator keeps its high-water mark so ids minted after the restore
        point are never reissued. Requires the old data files to still
        exist (vacuum + ``retain_versions`` define how far back restore can
        reach)."""
        st = self._state
        old_manifest = st.store.load(version)
        key = (self.schema.name, self.name)
        if key not in old_manifest.tables:
            raise MissingTable(f"{self.path} did not exist at version {version}")
        entry = TableEntry.from_json(old_manifest.tables[key].to_json())
        missing = [fe.path for fe in entry.files if not os.path.exists(fe.path)]
        if missing:
            raise InvalidArgument(
                f"cannot restore to version {version}: {len(missing)} data"
                f" file(s) were vacuumed, e.g. {missing[:2]}"
            )
        entry.next_row_id = max(entry.next_row_id, self.entry.next_row_id)
        self._mutate(entry, "restore", version=version)

    # ------------------------------------------------------------------
    # parquet import (zero-copy registration)
    def import_files(self, files_to_import: Iterable[str], config=None) -> None:
        """Register existing parquet files into the table without copying
        (reference: vastdb/table.py:338-440; server-side import). Validates
        that each file's columns are a subset of the table schema with
        matching types (reference merge policy 'containment',
        vastdb/util.py:46-63)."""
        paths = [_strip_bucket(p) for p in files_to_import]
        entry = TableEntry.from_json(self.entry.to_json())
        already = {
            (os.path.abspath(f.path), tuple(sorted(f.partition.items())))
            for f in entry.files
        }
        dupes = [p for p in paths if (os.path.abspath(p), ()) in already]
        if dupes:
            # the reference's imports-table bookkeeping exists to dedup
            # repeated imports (vastdb/tests/test_imports.py); importing the
            # same object twice would double-count rows
            raise InvalidArgument(f"files already imported: {dupes}")
        arrow = self.arrow_schema
        storage = storage_arrow_schema(arrow)
        pmap = self._physical_map()
        stat_cols = self._stat_columns(entry)
        # footer scan: a driver loop under FOOTER_SCAN_PARALLEL_MIN files,
        # one metadata-only Spark job above it — a 100k-file import reads
        # footers in tasks instead of minutes of sequential driver I/O.
        # Validation stays on the driver either way (same errors).
        if len(paths) >= FOOTER_SCAN_PARALLEL_MIN:
            sc = self.spark.sparkContext
            slices = min(len(paths), sc.defaultParallelism * 4)
            payloads = dict(
                sc.parallelize(paths, slices)
                .map(lambda p: (p, _footer_scan_payload(p, stat_cols)))
                .collect()  # one small tuple per file — manifest-sized
            )
        else:
            payloads = {p: _footer_scan_payload(p, stat_cols) for p in paths}
        import_rows = []
        for path in paths:
            schema_bytes, nrows, fsize, col_stats = payloads[path]
            fschema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
            for f in fschema:
                if f.name not in arrow.names:
                    raise InvalidArgument(
                        f"import file {path!r} column {f.name!r} not in table schema"
                    )
                # type containment (reference vastdb/util.py:46-63): a
                # name-only check would let a string file into an int64
                # column and the MISMATCH would only surface later as a
                # raw scan crash. Files may carry either the logical type
                # or its storage form (engine-exported parquet).
                want = arrow.field(arrow.get_field_index(f.name)).type
                want_storage = storage.field(
                    storage.get_field_index(f.name)
                ).type
                if f.type not in (want, want_storage):
                    raise InvalidArgument(
                        f"import file {path!r} column {f.name!r} has type "
                        f"{f.type}, table expects {want}"
                    )
            cmap = {f.name: pmap.get(f.name, f.name) for f in fschema}
            if all(k == v for k, v in cmap.items()):
                cmap = None
            fe = self._register_file(
                entry, path, nrows, row_id_base=entry.next_row_id, column_map=cmap,
                col_stats=col_stats,
            )
            entry.next_row_id += nrows
            import_rows.append(
                (os.path.abspath(path), self.name, nrows, fsize,
                 time.time_ns() // 1000)
            )
        self._mark_unsorted(entry)
        self._mutate(entry, "import_files", files=len(paths))
        self._record_imports(import_rows)

    def import_partitioned_files(self, files_and_partitions: dict, config=None) -> None:
        """Import with per-file constant partition values (reference:
        vastdb/table.py:354-370 — values shipped as a 1-row record batch)."""
        entry = TableEntry.from_json(self.entry.to_json())
        arrow = self.arrow_schema
        pmap = self._physical_map()
        import_rows = []
        storage = storage_arrow_schema(arrow)
        for path, partition in files_and_partitions.items():
            path = _strip_bucket(path)
            if isinstance(partition, (pa.RecordBatch, pa.Table)):
                part = {
                    name: partition.column(name)[0].as_py()
                    for name in partition.schema.names
                }
            else:
                part = dict(partition)
            md = pq.ParquetFile(path)
            for f in md.schema_arrow:
                if f.name not in arrow.names:
                    raise InvalidArgument(
                        f"import file {path!r} column {f.name!r} not in table schema"
                    )
                # same type-containment rule as import_files: fail here,
                # not as a scan crash later
                want = arrow.field(arrow.get_field_index(f.name)).type
                want_storage = storage.field(
                    storage.get_field_index(f.name)
                ).type
                if f.type not in (want, want_storage):
                    raise InvalidArgument(
                        f"import file {path!r} column {f.name!r} has type "
                        f"{f.type}, table expects {want}"
                    )
            for pcol in part:
                if pcol not in arrow.names:
                    raise InvalidArgument(f"partition column {pcol!r} not in table schema")
            nrows = md.metadata.num_rows
            cmap = {f.name: pmap.get(f.name, f.name) for f in md.schema_arrow}
            if all(k == v for k, v in cmap.items()):
                cmap = None
            self._register_file(
                entry, path, nrows, row_id_base=entry.next_row_id,
                partition=part, column_map=cmap,
            )
            entry.next_row_id += nrows
            import_rows.append(
                (os.path.abspath(path), self.name, nrows, os.path.getsize(path),
                 time.time_ns() // 1000)
            )
        self._mark_unsorted(entry)
        self._mutate(entry, "import_partitioned_files", files=len(files_and_partitions))
        self._record_imports(import_rows)

    def _record_imports(self, rows: list[tuple]) -> None:
        imports = self.imports_table(fail_if_missing=False)
        if imports is None or not rows:
            return
        tbl = pa.table(
            {
                "ObjectName": [r[0] for r in rows],
                "TableName": [r[1] for r in rows],
                "NumRows": pa.array([r[2] for r in rows], pa.int64()),
                "SizeBytes": pa.array([r[3] for r in rows], pa.int64()),
                "ImportTimeUs": pa.array([r[4] for r in rows], pa.int64()),
            }
        )
        imports.insert(tbl)

    def imports_table(self, fail_if_missing: bool = True):
        """The per-table imports bookkeeping table (reference:
        vastdb/table.py:845-856, name vastdb-imported-objects)."""
        iname = self.schema._imports_table_name(self.name)
        t = self.schema.table(iname, fail_if_missing=False) if (
            (self.schema.name, iname) in self.bucket.manifest.tables
        ) else None
        if t is None and fail_if_missing:
            raise MissingProjection(f"imports table for {self.path}")
        return t

    def create_imports_table(self):
        self.schema._create_imports_table(self.name)
        return self.imports_table()

    # ------------------------------------------------------------------
    # DDL
    def drop(self) -> None:
        st = self._state
        st.manifest.drop_table(self.schema.name, self.name)
        st.changes.record(
            "drop_table",
            self.schema.name,
            self.name,
            touched=[("table", self.schema.name, self.name)],
        )
        self.tx._audit_event(st, "drop_table", self.path)
        imports = self.imports_table(fail_if_missing=False)
        if imports is not None:
            iname = imports.name
            st.manifest.drop_table(self.schema.name, iname)
            st.changes.record(
                "drop_table", self.schema.name, iname,
                touched=[("table", self.schema.name, iname)],
            )

    def rename(self, new_name: str) -> None:
        # tables and logical views share one namespace (schema.create_table
        # has the same guard) — renaming onto a view would shadow it
        if new_name in self.schema._views_state():
            raise ViewExists(
                f"{self.schema.name}.{new_name} (a logical view has this "
                "name; tables and views share a namespace)"
            )
        st = self._state
        st.manifest.rename_table(self.schema.name, self.name, new_name)
        st.changes.record(
            "rename_table",
            self.schema.name,
            self.name,
            new_name,
            touched=[
                ("table", self.schema.name, self.name),
                ("table", self.schema.name, new_name),
            ],
        )
        self.tx._audit_event(st, "rename_table", self.path, new_name=new_name)
        self.name = new_name

    def add_column(self, new_column: pa.Schema | pa.Field) -> None:
        """Reference: vastdb/table.py:1010-1016."""
        fields = list(new_column) if isinstance(new_column, pa.Schema) else [new_column]
        entry = TableEntry.from_json(self.entry.to_json())
        arrow = self.arrow_schema
        pmap = self._physical_map()
        used = set(pmap.values()) | set(arrow.names) | set(
            entry.properties.get("physical_used", [])
        )
        for f in fields:
            if f.name in arrow.names:
                raise InvalidArgument(f"column {f.name!r} already exists")
            phys = f.name
            i = 0
            while phys in used:
                i += 1
                phys = f"{f.name}__v{i}"
            if phys != f.name:
                pmap[f.name] = phys
            used.add(phys)
            arrow = arrow.append(f)
        entry.arrow_schema_b64 = schema_to_b64(arrow)
        entry.properties["column_physical"] = pmap
        entry.properties["physical_used"] = sorted(used)
        self._mutate(entry, "add_column", columns=[f.name for f in fields])

    def drop_column(self, column_to_drop: pa.Schema | pa.Field | str) -> None:
        """Reference: vastdb/table.py:1029-1038."""
        if isinstance(column_to_drop, pa.Schema):
            names = list(column_to_drop.names)
        elif isinstance(column_to_drop, pa.Field):
            names = [column_to_drop.name]
        else:
            names = [column_to_drop]
        entry = TableEntry.from_json(self.entry.to_json())
        arrow = self.arrow_schema
        pmap = self._physical_map()
        for n in names:
            idx = arrow.get_field_index(n)
            if idx < 0:
                raise InvalidArgument(f"no column {n!r}")
            # refuse to orphan derived objects: a matview key/agg or a
            # column index referencing the dropped column would silently
            # break at its next refresh/lookup
            phys = pmap.get(n, n)
            for mv_name, mcfg in entry.matviews.items():
                from .matview import key_specs as _ks

                used = {ks["src"] for ks in _ks(mcfg)} | {
                    src for _fn, src in mcfg["aggs"].values() if src
                }
                if phys in used:
                    raise InvalidArgument(
                        f"column {n!r} is used by materialized view "
                        f"{mv_name!r}; drop the view first"
                    )
            if phys in entry.properties.get("column_indexes", {}):
                raise InvalidArgument(
                    f"column {n!r} has a column index; drop it first"
                )
            arrow = arrow.remove(idx)
            pmap.pop(n, None)
        entry.arrow_schema_b64 = schema_to_b64(arrow)
        entry.properties["column_physical"] = pmap
        self._mutate(entry, "drop_column", columns=names)

    def rename_column(self, current_column_name: str, new_column_name: str) -> None:
        """Reference: vastdb/table.py:1018-1027. Metadata-only: the physical
        (on-disk) name never changes, so no file is rewritten."""
        entry = TableEntry.from_json(self.entry.to_json())
        arrow = self.arrow_schema
        idx = arrow.get_field_index(current_column_name)
        if idx < 0:
            raise InvalidArgument(f"no column {current_column_name!r}")
        if new_column_name in arrow.names:
            raise InvalidArgument(f"column {new_column_name!r} already exists")
        pmap = self._physical_map()
        phys = pmap.pop(current_column_name, current_column_name)
        pmap[new_column_name] = phys
        old_field = arrow.field(idx)
        arrow = arrow.set(idx, old_field.with_name(new_column_name))
        entry.arrow_schema_b64 = schema_to_b64(arrow)
        entry.properties["column_physical"] = pmap
        self._mutate(
            entry, "rename_column", old=current_column_name, new=new_column_name
        )

    # ------------------------------------------------------------------
    # streaming ingest offsets (engine extension): exactly-once foreachBatch
    # sinks record the last applied micro-batch id here, in the SAME
    # transaction as the data write, so a batch replayed after checkpoint
    # recovery is detected and skipped (cf. Delta's txnAppId/txnVersion).
    def stream_offset(self, stream_id: str) -> int:
        """Last micro-batch id applied for ``stream_id``; -1 if none."""
        return int(self.entry.properties.get("stream_offsets", {}).get(stream_id, -1))

    def set_stream_offset(self, stream_id: str, batch_id: int) -> None:
        """Record ``batch_id`` as applied for ``stream_id`` (committed
        atomically with any data mutations in this transaction)."""
        entry = TableEntry.from_json(self.entry.to_json())
        offsets = dict(entry.properties.get("stream_offsets", {}))
        offsets[stream_id] = int(batch_id)
        entry.properties["stream_offsets"] = offsets
        self._mutate(entry, "set_stream_offset", stream=stream_id, batch=batch_id)

    def consume_changes(self, stream_id: str) -> DataFrame:
        """Exactly-once incremental consumption of the change feed: reads
        :meth:`read_changes` from this consumer's last acknowledged
        version to the bucket's current version, and records the new
        watermark in the SAME transaction — commit applies data-derived
        effects and the advanced cursor atomically; rollback replays the
        span. The cursor rides the ``stream_offsets`` machinery the
        streaming ingest tier already uses, keyed by ``stream_id``
        (pick one id per downstream consumer).

        First consumption (no recorded cursor) starts from the current
        version and returns an empty feed — the standard CDC contract
        (bootstrap with a full scan, then consume deltas). Feeds are
        readable only within the vacuum horizon: VACUUM removes old
        versions' files, so consumers lagging past it must re-bootstrap.
        """
        cur = self.bucket.manifest.version
        prev = self.stream_offset(f"cdc:{stream_id}")
        if prev < 0:
            prev = cur
        feed = self.read_changes(prev, cur)
        self.set_stream_offset(f"cdc:{stream_id}", cur)
        return feed

    # ------------------------------------------------------------------
    # stats / sorted tables
    def history(self) -> DataFrame:
        """Operation history of this table from the bucket audit log
        (engine extension; the queryable analog of Delta's DESCRIBE
        HISTORY)."""
        log = self.tx.audit_log(self.bucket.name)
        return log.filter(F.col("object") == self.path).orderBy(F.col("ts").asc())

    def get_stats(self) -> TableStats:
        entry = self.entry
        size = 0
        for fe in entry.files:
            try:
                size += os.path.getsize(fe.path)
            except OSError:
                pass
        return TableStats(
            num_rows=entry.live_rows,
            size_in_bytes=size,
            sorting_score=entry.sorting_score,
            sorting_done=entry.sorting_done,
            is_external_rowid_alloc=entry.use_external_row_ids,
        )

    @property
    def stats(self) -> TableStats:
        return self.get_stats()

    def sorting_score(self) -> int:
        """Reference: vastdb/table.py:865-875 (progress of background sort)."""
        return self.entry.sorting_score

    def sorting_done(self) -> bool:
        """Reference: vastdb/table.py:877-887 (done-bit 63 of the score)."""
        return self.entry.sorting_done

    def add_sorting_key(self, columns: list[str]) -> None:
        """Reference: vastdb/table.py:996-1008 — may only extend a table that
        has no sorting key yet."""
        entry = TableEntry.from_json(self.entry.to_json())
        if entry.sorting_key:
            raise NotSupportedCommand("table already has a sorting key")
        missing = [c for c in columns if c not in self.arrow_schema.names]
        if missing:
            raise InvalidArgument(f"unknown sorting key columns: {missing}")
        entry.sorting_key = list(columns)
        self._mark_unsorted(entry)
        self._mutate(entry, "add_sorting_key", key=columns)

    def optimize(
        self, target_file_rows: int = 4_000_000, zorder: list[str] | None = None
    ) -> None:
        """Re-sort the table by its sorting key — the engine-side analog of
        the reference's *asynchronous server* Elysium sort (vastdb/
        table.py:865-887: score rises as the server re-sorts in background).
        Run explicitly (or from a scheduler); afterwards sorting_done=True.

        Spark plan: range-partition on the key (so files are globally
        sorted and non-overlapping -> parquet min/max skipping at scale),
        sort within partitions, rewrite all files with physical row ids.

        ``zorder=[c1, c2, ...]`` instead clusters by a Morton (Z-order)
        curve over up to 4 numeric columns: each column is bucketed into
        256 equal-width bins and the bin bits are interleaved, so files end
        up min/max-tight on EVERY listed column, not just the leading
        lexicographic key — a selective predicate on any single dimension
        still prunes most files. The whole computation is JVM-side column
        arithmetic (one min/max pass + shift/mask exprs); at 100 TB it
        costs one full shuffle, same as a sort. Equal-width binning is
        skew-sensitive: heavily skewed columns cluster better under a
        plain sorting key. Mutually exclusive with an Elysium sorting key.
        """
        if zorder is not None:
            return self._optimize_zorder(target_file_rows, zorder)
        entry = TableEntry.from_json(self.entry.to_json())
        if not entry.sorting_key:
            raise NotSupportedCommand("table has no sorting key")
        df = self.df(internal_row_id=True)
        n_rows = max(entry.num_rows, 1)
        n_parts = max(1, n_rows // target_file_rows)
        key_cols = [F.col(c) for c in entry.sorting_key]
        out = (
            df.repartitionByRange(n_parts, *key_cols)
            .sortWithinPartitions(*key_cols)
        )
        affected = list(entry.files)
        self._rewrite_files(entry, affected, out, "sort")
        for fe in entry.files:
            fe.sorted_by = list(entry.sorting_key)
        entry.sorting_score = 100
        entry.sorting_done = True
        self._mutate(entry, "optimize", key=entry.sorting_key)

    def _optimize_zorder(self, target_file_rows: int, zorder: list[str]) -> None:
        from functools import reduce as _reduce

        entry = TableEntry.from_json(self.entry.to_json())
        if entry.sorting_key:
            raise NotSupportedCommand(
                "table has an Elysium sorting key; zorder and sorting_key"
                " are alternative layouts"
            )
        if not 1 <= len(zorder) <= 4:
            raise InvalidArgument("zorder takes 1-4 columns")
        missing = [c for c in zorder if c not in self.arrow_schema.names]
        if missing:
            raise InvalidArgument(f"unknown zorder columns: {missing}")
        df = self.df(internal_row_id=True)
        numeric = {
            "tinyint", "smallint", "int", "bigint", "float", "double",
        }
        dtypes = dict(df.dtypes)
        bad = [
            c for c in zorder
            if dtypes[c] not in numeric and not dtypes[c].startswith("decimal")
        ]
        if bad:
            raise InvalidArgument(
                f"zorder needs numeric columns (equal-width binning): {bad}"
            )
        # one JVM-side pass for the bin ranges; collect(), not first() —
        # a limit-1 take over an AQE-staged agg launches a fan of
        # incremental-take jobs for the same single row (r14)
        aggs = [F.min(c).alias(f"__lo{i}") for i, c in enumerate(zorder)]
        aggs += [F.max(c).alias(f"__hi{i}") for i, c in enumerate(zorder)]
        row = df.agg(*aggs).collect()[0]
        k = len(zorder)
        terms = []
        for j, c in enumerate(zorder):
            lo, hi = row[f"__lo{j}"], row[f"__hi{j}"]
            if lo is None or hi is None or float(hi) == float(lo):
                continue  # constant/all-null column adds no ordering bits
            span = float(hi) - float(lo)
            bucket = F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col(c).cast("double") - F.lit(float(lo)))
                        / F.lit(span)
                        * 256.0
                    ),
                ),
            )
            bucket = F.coalesce(bucket, F.lit(0)).cast("long")
            for i in range(8):  # interleave bit i of every column
                terms.append(
                    F.shiftleft(
                        F.shiftright(bucket, i).bitwiseAND(F.lit(1)), i * k + j
                    )
                )
        zval = (
            _reduce(lambda a, b: a.bitwiseOR(b), terms) if terms else F.lit(0)
        )
        n_rows = max(entry.num_rows, 1)
        n_parts = max(1, n_rows // target_file_rows)
        out = (
            df.withColumn("__z", zval)
            .repartitionByRange(n_parts, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        # record the cluster columns BEFORE the rewrite so the new files'
        # footer min/max stats are collected for them (select() then prunes
        # on every zorder dimension independently)
        entry.properties["cluster_by"] = list(zorder)
        self._rewrite_files(entry, list(entry.files), out, "zorder")
        self._mutate(entry, "optimize", zorder=zorder)

    def compact(self, target_file_rows: int = 4_000_000, min_files: int = 2) -> int:
        """Bin-pack small files into target-sized ones (the companion of
        optimize() for unsorted tables and of vacuum() for space): files
        smaller than the target are rewritten together with physical row ids
        preserved; large files are left untouched. Returns the number of
        files compacted away. At scale this is the routine maintenance job
        that keeps task counts proportional to data, not to insert history."""
        entry = TableEntry.from_json(self.entry.to_json())
        small = [f for f in entry.files if f.rows < target_file_rows]
        if len(small) < min_files:
            return 0
        df = self.df(internal_row_id=True, files=small)
        total = sum(f.rows for f in small)
        n_parts = max(1, total // target_file_rows)
        before = len(entry.files)
        self._rewrite_files(entry, small, df.repartition(n_parts), "compact")
        if entry.sorting_key:
            self._mark_unsorted(entry)
        self._mutate(entry, "compact", files_in=len(small))
        return before - len(entry.files)

    # ------------------------------------------------------------------
    # semi-sorted projections (reference: vastdb/table.py:1040-1138)
    def create_projection(
        self, name: str, sorted_columns: list[str], unsorted_columns: list[str]
    ):
        entry = TableEntry.from_json(self.entry.to_json())
        if name in entry.projections:
            raise ProjectionExists(name)
        cols = sorted_columns + unsorted_columns
        missing = [c for c in cols if c not in self.arrow_schema.names]
        if missing:
            raise InvalidArgument(f"unknown projection columns: {missing}")
        files = self._materialize_projection(name, sorted_columns, unsorted_columns)
        entry.projections[name] = {
            "sorted": list(sorted_columns),
            "unsorted": list(unsorted_columns),
            "files": [f.to_json() for f in files],
            "stale": False,
            "built_version": self._committed_state_version(),
        }
        self._mutate(entry, "create_projection", projection=name)
        return Projection(name, self)

    def _materialize_projection(
        self,
        name: str,
        sorted_columns: list[str],
        unsorted_columns: list[str],
        source_df: DataFrame | None = None,
    ) -> list[FileEntry]:
        """Write projection files for ``source_df`` (default: the whole
        table) — shared by full (re)builds and the incremental refresh's
        insert-delta append, so file layout/stats can never diverge."""
        pmap = self._physical_map()
        cols = [
            F.col(c).alias(pmap.get(c, c)) for c in sorted_columns + unsorted_columns
        ]
        base = source_df if source_df is not None else self.df()
        df = base.select(*[F.col(c) for c in sorted_columns + unsorted_columns])
        n_parts = max(1, self.entry.num_rows // 4_000_000)
        out = (
            df.repartitionByRange(n_parts, *[F.col(c) for c in sorted_columns])
            .sortWithinPartitions(*[F.col(c) for c in sorted_columns])
            .select(*[F.col(c).alias(pmap.get(c, c)) for c in sorted_columns + unsorted_columns])
        )
        staging = os.path.join(
            self._state.store.table_data_dir(self.schema.name, self.name),
            f"proj-{name}-{time.time_ns()}",
        )
        out.write.mode("overwrite").parquet(staging)
        files = []
        cmap = {pmap.get(c, c): c for c in sorted_columns}
        for fn in sorted(os.listdir(staging)):
            if not fn.endswith(".parquet"):
                continue
            fpath = os.path.join(staging, fn)
            fmd = pq.ParquetFile(fpath).metadata
            nrows = fmd.num_rows
            if nrows == 0:
                continue
            files.append(
                FileEntry(
                    path=fpath,
                    rows=nrows,
                    row_id_base=0,
                    sorted_by=list(sorted_columns),
                    col_stats=self._footer_col_stats(fmd, sorted_columns, cmap),
                )
            )
            self._state.staged_files.append(fpath)
        return files

    def projection(self, name: str):
        if name not in self.entry.projections:
            raise MissingProjection(name)
        return Projection(name, self)

    def projections(self, projection_name: str | None = None) -> list:
        return [
            Projection(n, self)
            for n in sorted(self.entry.projections)
            if projection_name is None or n == projection_name
        ]

    # ------------------------------------------------------------------
    # materialized aggregate views (engine extension; lifecycle mirrors
    # projections — create / stale-on-DML / feed-driven refresh; see
    # matview.py for the scale design)

    def create_materialized_view(
        self,
        name: str,
        group_by: list[str],
        aggs: dict,
        num_buckets: int = 16,
    ):
        """Create an aggregate view: ``group_by`` key columns, ``aggs``
        mapping output name -> ``"count"`` | ``(fn, column)`` with fn in
        count/sum/avg/min/max/approx_distinct (mergeable HLL sketch
        state). State is bucketed by group-key hash so the incremental
        refresh rewrites only churn-touched buckets."""
        from .matview import create_materialized_view as _create

        return _create(self, name, group_by, aggs, num_buckets)

    def materialized_view(self, name: str):
        from .matview import MaterializedView

        if name not in self.entry.matviews:
            raise MissingMatView(name)
        return MaterializedView(name, self)

    def materialized_views(self) -> list:
        from .matview import MaterializedView

        return [MaterializedView(n, self) for n in sorted(self.entry.matviews)]

    def _materialize_matview(self, name, keys, aggs, n_buckets, specs=None):
        from .matview import materialize_matview

        return materialize_matview(self, name, keys, aggs, n_buckets, specs)

    def _write_matview_buckets(self, name, state, keys, n_buckets, restrict_to=None):
        from .matview import write_matview_buckets

        return write_matview_buckets(
            self, name, state, keys, n_buckets, restrict_to=restrict_to
        )

    def _route_aggregate(self, req_specs: list, norm_aggs: dict):
        """The best fresh materialized view whose state covers the
        request, or None. 'Best' = fewest key columns (the coarsest
        covering rollup has the fewest groups to fold)."""
        from .matview import MaterializedView, state_covers

        best = None
        for name in sorted(self.entry.matviews):
            cfg = self.entry.matviews[name]
            if cfg.get("stale"):
                continue
            if not state_covers(cfg, req_specs, norm_aggs):
                continue
            if best is None or len(cfg["group_by"]) < len(
                self.entry.matviews[best]["group_by"]
            ):
                best = name
        return MaterializedView(best, self) if best else None

    def aggregate_df(
        self, group_by: list, aggs: dict, use_matviews: bool = True
    ) -> DataFrame:
        """Aggregate the table — served FROM a covering materialized
        view's state when one is fresh (rollup: counts and sums add,
        min/max fold, HLL sketches union — cost is the VIEW's group
        count, never the base scan), else computed from the base. The
        OLAP serve path that makes the MV tier pay off: a dashboard
        query over a 100 TB table reads kilobytes of folded state.
        ``group_by`` entries are column names or time-bucket tuples
        ``(alias, src_col, step_us)`` (matched to view keys on source +
        step); ``aggs`` uses the create_materialized_view spec shape.
        Use :meth:`explain_aggregate` to see the routing decision."""
        from .matview import normalize_aggs, normalize_keys, rollup_from_state

        norm = normalize_aggs(self, aggs)
        specs = normalize_keys(self, group_by) if group_by else []
        if use_matviews:
            mv = self._route_aggregate(specs, norm)
            if mv is not None:
                return rollup_from_state(mv, specs, norm)
        inv = {p: l for l, p in self._physical_map().items()}
        exprs = []
        for out, (fn, src) in norm.items():
            col = F.col(inv.get(src, src)) if src else None
            if fn == "count":
                exprs.append(F.count(F.lit(1)).alias(out))
            elif fn == "approx_distinct":
                exprs.append(
                    F.hll_sketch_estimate(F.hll_sketch_agg(col)).alias(out)
                )
            else:
                exprs.append(getattr(F, fn)(col).alias(out))
        from .matview import _as_micros

        base_df = self.df()
        key_exprs = []
        for s in specs:
            src_logical = inv.get(s["src"], s["src"])
            if s["step_us"]:
                step = F.lit(int(s["step_us"]))
                key_exprs.append(
                    (F.floor(_as_micros(base_df, src_logical) / step) * step)
                    .alias(s["name"])
                )
            else:
                # plain keys surface under their CURRENT logical name,
                # same as the rollup path
                key_exprs.append(F.col(src_logical).alias(src_logical))
        return base_df.groupBy(*key_exprs).agg(*exprs)

    def explain_aggregate(self, group_by: list, aggs: dict) -> dict:
        """Routing decision for :meth:`aggregate_df`: which materialized
        view (if any) would serve it, and why the base would be scanned
        otherwise."""
        from .matview import normalize_aggs, normalize_keys

        norm = normalize_aggs(self, aggs)
        specs = normalize_keys(self, group_by) if group_by else []
        mv = self._route_aggregate(specs, norm)
        if mv is not None:
            return {"served_by": f"matview:{mv.name}"}
        return {"served_by": "base"}

    # ------------------------------------------------------------------
    # per-file Bloom column indexes (plans/bloom.py — planning-time file
    # skipping for point lookups on UNSORTED high-cardinality columns,
    # the case min/max stats and Elysium sort order leave open)

    def build_column_index(
        self, column: str, kind: str = "bloom", fpp: float = 0.01,
        seed: int = 42, max_bits: int = None,
    ) -> dict:
        """Build (or rebuild from scratch) a per-file Bloom index on an
        integer or string column. Bitmaps live in an immutable parquet
        sidecar DATASET (one row per data file), written task-side by
        the build job — the driver never holds the bitmaps; correctness
        is unconditional (see plans/bloom.py) — files added or rewritten
        later are simply not pruned until :meth:`refresh_column_index`.
        ``max_bits`` caps the per-file bitmap (default 2^20 bits =
        128 KiB); past it the false-positive rate degrades, never
        correctness."""
        from .plans import bloom as B

        if kind != "bloom":
            raise InvalidArgument(f"unsupported column index kind {kind!r}")
        if column not in self.arrow_schema.names:
            raise InvalidArgument(f"unknown column {column!r}")
        if not (0.0 < fpp < 0.5):
            raise InvalidArgument("fpp must be in (0, 0.5)")
        dt = self.arrow_schema.field(column).type
        if not (pa.types.is_integer(dt) or pa.types.is_string(dt)
                or pa.types.is_large_string(dt)):
            raise InvalidArgument(
                f"bloom index needs an integer or string column, got {dt}"
            )
        max_bits = B._MAX_BITS if max_bits is None else int(max_bits)
        if max_bits < B._MIN_BITS:
            raise InvalidArgument(
                f"max_bits must be >= {B._MIN_BITS}, got {max_bits}"
            )
        old_cfg = self.entry.properties.get("column_indexes", {}).get(
            self._physical_of(column)
        )
        paths = [fe.path for fe in self.entry.files]
        if paths:
            sidecars = [self._new_bloom_sidecar_dir(column)]
            n = self._write_bloom_sidecar(
                column, paths, fpp, seed, max_bits, sidecars[0]
            )
        else:
            # zero data files: record NO sidecar dirs (the write job never
            # ran, so the dir doesn't exist — a phantom entry would make
            # the first refresh crash reading it); refresh appends deltas
            sidecars, n = [], 0
        entry = TableEntry.from_json(self.entry.to_json())
        # keyed by PHYSICAL name so rename_column never detaches the index
        entry.properties.setdefault("column_indexes", {})[
            self._physical_of(column)
        ] = {
            "kind": "bloom",
            "fpp": fpp,
            "seed": seed,
            "max_bits": max_bits,
            # probe-side type gate: string columns only prune on string
            # literals (numeric literals make Spark cast the COLUMN with
            # Java parse semantics _canon can't replicate)
            "col_type": "integer" if pa.types.is_integer(dt) else "string",
            "format": B.FORMAT_VERSION,
            "hash_version": B.HASH_VERSION,
            "sidecars": sidecars,
        }
        self._mutate(entry, "build_column_index", column=column, kind=kind)
        self._drop_bloom_dirs(old_cfg, keep=sidecars)
        return {"indexed_files": n}

    @staticmethod
    def _drop_bloom_dirs(cfg: dict | None, keep: list[str] = ()) -> None:
        """Delete a superseded config's sidecar dirs (post-publish): every
        compaction/rebuild otherwise strands a full index copy on disk.
        Safe under concurrency and snapshots: a reader holding the old
        manifest degrades to keep-all when a dir vanishes mid-probe, and
        a refresh on a restored config falls back to a full rebuild."""
        import shutil

        for d in (cfg or {}).get("sidecars", []) or []:
            if d and d not in keep and "bloomidx-" in os.path.basename(d):
                shutil.rmtree(d, ignore_errors=True)

    def _new_bloom_sidecar_dir(self, column: str) -> str:
        d = os.path.join(
            self._state.store.table_data_dir(self.schema.name, self.name),
            f"bloomidx-{self._physical_of(column)}-{time.time_ns()}",
        )
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d

    def _write_bloom_sidecar(
        self, column: str, paths: list[str], fpp: float, seed: int,
        max_bits: int, out_dir: str,
    ) -> int:
        """Per-file Bloom bitmaps for ``paths``, written straight to a
        parquet sidecar dataset — fully distributed: per-file DISTINCT
        values (one shuffle keyed by (file, value)) feed an Arrow-batched
        applyInPandas that builds each file's bitmap numpy-vectorized in
        its task and the rows land in parquet from the tasks; only the
        row COUNT (from parquet metadata) returns to the driver.

        EVERY requested file gets a row: files whose indexed column is
        entirely null yield no aggregation group, so the driver appends
        all-zero-bitmap entries for them (no value can equal NULL, so a
        zero bitmap soundly prunes such files on every point probe) —
        without them refresh_column_index would see the file as
        never-indexed and re-'index' it on every call forever."""
        from .plans import bloom as B

        want = {os.path.abspath(p) for p in paths}
        if not want:
            return 0
        keep = [fe for fe in self.entry.files if os.path.abspath(fe.path) in want]
        df = self.df(files=keep, with_file_path=True).select(
            F.col("__source_file").alias("__f"),
            F.col(column).alias("__v"),
        ).filter(F.col("__v").isNotNull()).distinct()

        def _one(pdf):
            import warnings as _w

            import pandas as pd

            # _metadata.file_path is Hadoop's "file:/abs" form — key the
            # sidecar by plain absolute path, the form the pruner probes
            path = os.path.abspath(pdf["__f"].iloc[0].removeprefix("file:"))
            vals = pdf["__v"].tolist()
            with _w.catch_warnings():
                _w.simplefilter("ignore")  # cap warning re-raised driver-side
                m, k = B.sizing(len(vals), fpp, max_bits)
            bits = B.bitmap_bytes(vals, m, k, seed)
            return pd.DataFrame(
                {
                    "path": [path], "m": [m], "k": [k],
                    "n_values": [len(vals)], "bits": [bits],
                    "capped": [B.is_capped(len(vals), fpp, max_bits)],
                }
            )

        (
            df.groupBy("__f")
            .applyInPandas(
                _one,
                "path STRING, m LONG, k LONG, n_values LONG, bits BINARY,"
                " capped BOOLEAN",
            )
            .repartition(max(1, len(keep) // 256))
            .write.mode("overwrite").parquet(out_dir)
        )
        ds = B._parquet_dataset(out_dir)
        if ds.schema.names:
            meta = ds.to_table(columns=["path", "capped"])
            written = set(meta.column("path").to_pylist())
            capped_flags = meta.column("capped").to_pylist()
        else:  # zero groups (every file all-null): Spark wrote no parts
            written, capped_flags = set(), []
        absent = sorted(want - written)
        if absent:
            # entirely-null indexed column: one all-zero bitmap row each
            # (driver-side append, bounded by file count — metadata-sized)
            import pyarrow.parquet as _pq

            _pq.write_table(
                pa.table(
                    {
                        "path": pa.array(absent, pa.string()),
                        "m": pa.array([B._MIN_BITS] * len(absent), pa.int64()),
                        "k": pa.array([1] * len(absent), pa.int64()),
                        "n_values": pa.array([0] * len(absent), pa.int64()),
                        "bits": pa.array(
                            [b"\x00" * (B._MIN_BITS // 8)] * len(absent),
                            pa.binary(),
                        ),
                        "capped": pa.array([False] * len(absent), pa.bool_()),
                    }
                ),
                os.path.join(out_dir, "allnull-00000.parquet"),
            )
        n_capped = sum(1 for c in capped_flags if c)
        n_rows = len(written) + len(absent)
        if n_capped:
            import warnings

            warnings.warn(
                f"bloom bitmap capped at {max_bits} bits for {n_capped} of "
                f"{n_rows} files; their false-positive rate degrades "
                f"above the {fpp} target (raise max_bits to restore it)",
                stacklevel=3,
            )
        return n_rows

    # refresh compacts the sidecar list once it accumulates this many
    # delta directories, even with zero dead entries
    _BLOOM_COMPACT_DIRS = 16

    def refresh_column_index(self, column: str) -> dict:
        """Incremental maintenance: APPEND a delta sidecar for files not
        yet indexed; entries for dead files are retained (they are never
        probed — pruning keys on live manifest paths) until a refresh
        that observes dead entries compacts the dataset task-side. Cost
        tracks the NEW-file delta, never the table, except on
        compaction, which rewrites bitmap rows without rebuilding any
        bitmap. A pre-format-2 config triggers a full rebuild."""
        from .plans import bloom as B

        phys = self._physical_of(column)
        cfg = self.entry.properties.get("column_indexes", {}).get(phys)
        if cfg is None:
            raise MissingProjection(f"column index on {column!r}")
        if cfg.get("format") != B.FORMAT_VERSION:
            # v1 monolithic-JSON sidecar (pre-canonicalization hashes):
            # unreadable by design — rebuild from scratch at the same knobs
            res = self.build_column_index(
                column, fpp=cfg.get("fpp", 0.01), seed=cfg.get("seed", 42)
            )
            return {"added_files": res["indexed_files"], "dropped_files": 0}
        dirs = list(cfg["sidecars"])
        try:
            indexed = B.sidecar_paths(dirs)
        except OSError:
            # a sidecar dir is gone (config restored from a snapshot taken
            # before a rebuild deleted its dirs): rebuild from scratch —
            # probing already degrades to keep-all for the same reason
            res = self.build_column_index(
                column, fpp=cfg.get("fpp", 0.01), seed=cfg.get("seed", 42),
                max_bits=cfg.get("max_bits"),
            )
            return {"added_files": res["indexed_files"], "dropped_files": 0}
        live = {os.path.abspath(fe.path) for fe in self.entry.files}
        missing = sorted(live - indexed)
        dead = indexed - live
        max_bits = cfg.get("max_bits", B._MAX_BITS)
        if missing:
            delta = self._new_bloom_sidecar_dir(column)
            self._write_bloom_sidecar(
                column, missing, cfg["fpp"], cfg["seed"], max_bits, delta
            )
            dirs.append(delta)
        if dead or len(dirs) > self._BLOOM_COMPACT_DIRS:
            spark = self.spark
            compacted = self._new_bloom_sidecar_dir(column)
            from .localrel import local_df

            live_df = local_df(
                spark, [(p,) for p in sorted(live)], "path STRING"
            )
            (
                # explicit schema: delta dirs written before the `capped`
                # column existed read as null for it instead of poisoning
                # the merged schema
                spark.read.schema(
                    "path STRING, m LONG, k LONG, n_values LONG,"
                    " bits BINARY, capped BOOLEAN"
                )
                .parquet(*dirs)
                .join(F.broadcast(live_df), "path", "left_semi")
                .repartition(max(1, len(live) // 256))
                .write.mode("overwrite").parquet(compacted)
            )
            dirs = [compacted]
        entry = TableEntry.from_json(self.entry.to_json())
        new_cfg = {**cfg, "sidecars": dirs}
        if "col_type" not in new_cfg:
            # backfill the stamp for configs built before col_type existed:
            # the probe gate treats a missing stamp as "not integer", so an
            # old integer-column index silently stops pruning on numeric
            # probes and nothing would ever re-stamp it. The bitmaps
            # themselves are hash-compatible (hash_version matched above),
            # so stamping alone re-enables numeric pruning.
            dt = _resolve_field(self.arrow_schema, column).type
            new_cfg["col_type"] = "integer" if pa.types.is_integer(dt) else "string"
        entry.properties["column_indexes"][phys] = new_cfg
        self._mutate(entry, "refresh_column_index", column=column)
        self._drop_bloom_dirs(cfg, keep=dirs)
        return {"added_files": len(missing), "dropped_files": len(dead)}

    def drop_column_index(self, column: str) -> None:
        entry = TableEntry.from_json(self.entry.to_json())
        cidx = entry.properties.get("column_indexes", {})
        phys = self._physical_of(column)
        if phys not in cidx:
            raise MissingProjection(f"column index on {column!r}")
        cfg = cidx[phys]
        del cidx[phys]
        self._mutate(entry, "drop_column_index", column=column)
        self._drop_bloom_dirs(cfg)

    def column_indexes(self) -> dict[str, dict]:
        """Indexes keyed by the column's CURRENT logical name."""
        inv = {p: l for l, p in self._physical_map().items()}
        return {
            inv.get(col, col): cfg
            for col, cfg in self.entry.properties.get(
                "column_indexes", {}
            ).items()
        }

    def prune_preview(self, predicate: Any) -> dict:
        """Planning-time skipping summary for ``predicate``: how many
        manifest files survive min/max + partition + Bloom pruning. The
        observability hook for 'did my index actually help?'."""
        total = len(self.entry.files)
        pruned = self._pruned_files(predicate)
        return {
            "total_files": total,
            "candidate_files": total if pruned is None else len(pruned),
        }

    # ------------------------------------------------------------------
    # vector search (reference: vastdb/table.py:889-906 + _adbc.py:133-159)
    def build_vector_index(
        self,
        num_centroids: int = 64,
        seed: int = 42,
        *,
        kind: str = "ivf",
        num_subspaces: int = 8,
        num_codes: int = 256,
        train_rows: int = 20000,
    ) -> None:
        """Materialize an ANN index for the table's vector column
        (reference precedent: vector-index metadata rides table stats,
        vastdb/_internal.py:809-826; SURVEY.md §2.6 O5). Three layouts:

        - ``kind="ivf"`` (default): k-means centroids in the manifest,
          rows rewritten into per-centroid cluster files; search probes
          the nprobe nearest clusters.
        - ``kind="pq"``: flat product quantization — every row carries an
          m-byte ``pq_codes`` array; search is an ADC scan over codes
          (column-pruned, no full-vector read) with optional exact
          re-rank.
        - ``kind="ivfpq"``: IVFADC (Jegou 2011) — IVF routing plus PQ
          over residuals; search prunes to nprobe clusters AND scores
          ~(4+m) bytes/vector. The layout for corpora where two full
          vector copies don't fit.

        Centroids live inline in the manifest (small); PQ codebooks go in
        a JSON sidecar next to the cluster files (m*ksub*dsub floats
        would bloat every subsequent manifest version if inline), whose
        path the manifest records — both survive the session, so a fresh
        session object on the same warehouse searches without a rebuild.
        DML marks the index stale like projections; a stale index falls
        back to exact search until rebuilt."""
        entry = TableEntry.from_json(self.entry.to_json())
        if not entry.vector_index:
            raise NotSupportedCommand(f"table {self.path} has no vector index")
        if kind not in ("ivf", "pq", "ivfpq"):
            raise InvalidArgument(
                f"unknown vector index kind {kind!r}; use ivf | pq | ivfpq"
            )
        vcol = entry.vector_index["column"]
        metric = entry.vector_index.get("metric", "l2sq")
        if kind in ("pq", "ivfpq") and metric != "l2sq":
            raise NotSupportedCommand(
                f"{kind} indexes quantize squared-L2 residuals; metric "
                f"{metric!r} is not ADC-scorable — use kind='ivf'"
            )

        df = self.df(internal_row_id=True)
        data_dir = self._state.store.table_data_dir(self.schema.name, self.name)
        staging = os.path.join(data_dir, f"vecidx-{time.time_ns()}")
        vi = entry.vector_index
        codebooks = None

        if kind == "ivf":
            from .operators.similarity import build_ivf_index

            indexed, centroids = build_ivf_index(
                df, vec_col=vcol, num_centroids=num_centroids, seed=seed
            )
        elif kind == "ivfpq":
            from .operators.similarity import build_ivfpq_index

            indexed, centroids, codebooks = build_ivfpq_index(
                df,
                vec_col=vcol,
                num_centroids=num_centroids,
                num_subspaces=num_subspaces,
                num_codes=num_codes,
                seed=seed,
                train_rows=train_rows,
            )
        else:  # flat pq: no clustering — single partition dir
            from .operators.similarity import build_pq_index

            indexed, codebooks = build_pq_index(
                df,
                vec_col=vcol,
                num_subspaces=num_subspaces,
                num_codes=num_codes,
                seed=seed,
                train_rows=train_rows,
            )
            centroids = None

        files = []
        writer = indexed.withColumnRenamed(INTERNAL_ROW_ID, PHYSICAL_ROW_ID)
        if kind == "pq":
            writer.write.mode("overwrite").parquet(staging)
            for fn in sorted(os.listdir(staging)):
                if not fn.endswith(".parquet"):
                    continue
                fpath = os.path.join(staging, fn)
                nrows = pq.ParquetFile(fpath).metadata.num_rows
                if nrows:
                    files.append({"path": fpath, "rows": nrows})
                    self._state.staged_files.append(fpath)
        else:
            (
                writer.repartition("centroid_id")
                .write.mode("overwrite")
                .partitionBy("centroid_id")
                .parquet(staging)
            )
            for dirpath, _dirs, fnames in sorted(os.walk(staging)):
                seg = os.path.basename(dirpath)
                if not seg.startswith("centroid_id="):
                    continue
                cid = int(seg.split("=", 1)[1])
                for fn in sorted(fnames):
                    if not fn.endswith(".parquet"):
                        continue
                    fpath = os.path.join(dirpath, fn)
                    nrows = pq.ParquetFile(fpath).metadata.num_rows
                    if nrows:
                        files.append(
                            {"path": fpath, "rows": nrows, "centroid_id": cid}
                        )
                        self._state.staged_files.append(fpath)

        vi["kind"] = kind
        vi["base_dir"] = staging
        vi["files"] = files
        # incremental-refresh anchor: the committed version whose table
        # state this index reflects. Only recordable when the build ran on
        # a clean committed state (no staged DML in this transaction) —
        # otherwise the feed from any committed version would double-count
        # the staged rows, so refresh falls back to a full rebuild.
        vi["built_version"] = self._committed_state_version()
        vi["build_params"] = {
            "num_centroids": num_centroids,
            "seed": seed,
            "num_subspaces": num_subspaces,
            "num_codes": num_codes,
            "train_rows": train_rows,
        }
        vi["centroids"] = (
            [[float(x) for x in c] for c in centroids]
            if centroids is not None
            else None
        )
        if codebooks is not None:
            import json as _json

            cb_path = os.path.join(data_dir, f"pqbooks-{time.time_ns()}.json")
            with open(cb_path, "w") as fh:
                _json.dump(
                    {
                        "shape": list(codebooks.shape),
                        "data": [float(x) for x in codebooks.reshape(-1)],
                    },
                    fh,
                )
            self._state.staged_files.append(cb_path)
            vi["codebooks_path"] = cb_path
        else:
            vi.pop("codebooks_path", None)
        vi["stale"] = False
        self._mutate(entry, "build_vector_index", kind=kind, centroids=num_centroids)

    def _committed_state_version(self) -> int | None:
        """The pinned base version IF this table's staged file state equals
        the committed one (no DML staged in this transaction) — the anchor
        incremental index/projection refresh needs; None otherwise (a
        build over staged rows has no committed version to diff from)."""
        committed = self._state.manifest_base().tables.get(
            (self.schema.name, self.name)
        )
        clean = (
            committed is not None
            and committed.to_json().get("files")
            == self.entry.to_json().get("files")
        )
        return self._state.base_version if clean else None

    def _load_codebooks(self):
        import json as _json

        import numpy as np

        cb_path = self.entry.vector_index.get("codebooks_path")
        if not cb_path:
            raise NotSupportedCommand(
                f"table {self.path} has no PQ codebooks — build with "
                "kind='pq' or kind='ivfpq'"
            )
        with open(cb_path) as fh:
            d = _json.load(fh)
        return np.asarray(d["data"], dtype=np.float64).reshape(d["shape"])

    def refresh_vector_index(self, mode: str = "auto") -> dict:
        """Fold DML since the index build into the persisted cluster files
        via the change feed, instead of rebuilding from scratch — the
        incremental-view-maintenance path for indexes (centroids and PQ
        codebooks stay FROZEN, standard ANN practice: the coarse
        quantizer is retrained rarely, not per batch).

        Cost tracks the CHURN, not the corpus: the feed scans only
        changed table files (read_changes), removals rewrite only the
        clusters the removed rows map to, and additions append new
        cluster files without touching existing ones. A 0.1% DML day on
        a 100 TB corpus re-clusters ~0.1% of the index; a full rebuild
        re-encodes everything.

        ``mode``: "auto" (incremental when possible, else full rebuild
        with the original build params), "incremental" (raise
        NotSupportedCommand when unavailable), "full". Incremental needs
        ``built_version`` (the build ran on a clean committed state),
        kind ivf/ivfpq (flat pq folds append-only feeds; removals force
        full — codes aren't clustered, so removal targeting would scan
        the whole index anyway), an unchanged schema, and should run
        before other DML in its transaction. Returns a summary dict."""
        entry = TableEntry.from_json(self.entry.to_json())
        vi = entry.vector_index
        if not vi or not vi.get("files"):
            raise NotSupportedCommand(
                f"table {self.path} has no materialized vector index"
            )
        if mode not in ("auto", "incremental", "full"):
            raise InvalidArgument(f"unknown refresh mode {mode!r}")
        params = vi.get("build_params") or {}
        kind = vi.get("kind", "ivf")
        built = vi.get("built_version")
        cur = self._state.base_version

        def _full():
            self.build_vector_index(
                params.get("num_centroids", 64),
                params.get("seed", 42),
                kind=kind,
                num_subspaces=params.get("num_subspaces", 8),
                num_codes=params.get("num_codes", 256),
                train_rows=params.get("train_rows", 20000),
            )
            return {"mode": "full"}

        def _unavailable(why):
            if mode == "incremental":
                raise NotSupportedCommand(
                    f"incremental refresh unavailable for {self.path}: {why}"
                )
            return _full()

        if mode == "full":
            return _full()
        if built is None:
            return _unavailable("index was built alongside uncommitted DML")
        # DML always marks the index stale, so a non-stale index is
        # current even when unrelated commits moved the bucket version
        if not vi.get("stale"):
            return {"mode": "noop"}
        # the feed only covers the COMMITTED span [built, cur]; DML staged
        # earlier in THIS transaction is invisible to it, so folding the
        # feed and clearing `stale` would silently drop those rows from
        # the index. Route to full rebuild (which scans the staged state)
        if self._committed_state_version() is None:
            return _unavailable(
                "staged DML in this transaction (feed only covers "
                "committed spans)"
            )
        try:
            feed = self.read_changes(built, cur)
        except InvalidArgument as e:
            return _unavailable(f"feed span unreadable ({e})")

        import numpy as np

        from .operators.similarity import (
            assign_probe_centroids,
            ivfpq_encode,
            pq_encode,
        )

        vcol = vi["column"]
        cols = [f.name for f in self.arrow_schema]
        data_dir = self._state.store.table_data_dir(self.schema.name, self.name)
        staging = os.path.join(data_dir, f"vecidx-{time.time_ns()}")
        feed = feed.persist()
        try:
            rem = feed.filter(
                F.col("_change_type").isin("delete", "update_preimage")
            )
            add = feed.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).select(*[F.col(c) for c in cols], F.col("_row_id").alias(PHYSICAL_ROW_ID))

            if kind == "pq":
                if rem.limit(1).count():
                    return _unavailable("flat pq cannot fold removals")
                enc = pq_encode(add, self._load_codebooks(), vec_col=vcol)
                enc.write.mode("overwrite").parquet(staging)
                new_files = list(vi["files"])
                for fn in sorted(os.listdir(staging)):
                    if not fn.endswith(".parquet"):
                        continue
                    fpath = os.path.join(staging, fn)
                    nrows = pq.ParquetFile(fpath).metadata.num_rows
                    if nrows:
                        new_files.append({"path": fpath, "rows": nrows})
                        self._state.staged_files.append(fpath)
                n_add = sum(
                    f["rows"] for f in new_files[len(vi["files"]):]
                )
                touched = []
            else:
                cents = np.asarray(vi["centroids"], dtype=float)
                rem_a = assign_probe_centroids(
                    rem.select(F.col("_row_id"), F.col(vcol)), cents, vcol, 1
                )
                # bounded driver action: DISTINCT touched cluster ids,
                # <= num_centroids ints (metadata-sized at any corpus —
                # same class as build_ivf_index's count()); row data
                # never crosses to the driver
                touched = sorted(
                    r.centroid_id
                    for r in rem_a.select("centroid_id").distinct().collect()
                )
                add_a = assign_probe_centroids(add, cents, vcol, 1)
                if kind == "ivfpq":
                    add_a = ivfpq_encode(
                        add_a, cents, self._load_codebooks(), vec_col=vcol
                    )
                new_rows = add_a
                cid_files: dict[int, list[str]] = {}
                for f in vi["files"]:
                    cid_files.setdefault(f["centroid_id"], []).append(f["path"])
                rem_ids = rem_a.select(F.col("_row_id").alias(PHYSICAL_ROW_ID))
                for cid in touched:
                    paths = cid_files.get(cid)
                    if not paths:
                        continue
                    part = (
                        self.spark.read.parquet(*paths)
                        .withColumn("centroid_id", F.lit(int(cid)).cast("int"))
                        .join(rem_ids, PHYSICAL_ROW_ID, "left_anti")
                    )
                    new_rows = new_rows.unionByName(part)
                (
                    new_rows.repartition("centroid_id")
                    .write.mode("overwrite")
                    .partitionBy("centroid_id")
                    .parquet(staging)
                )
                # untouched clusters keep their existing files verbatim —
                # the rewrite set is exactly the removal-touched clusters
                # plus fresh append files for clusters receiving additions
                new_files = [
                    f for f in vi["files"] if f["centroid_id"] not in set(touched)
                ]
                n_add = 0
                for dirpath, _dirs, fnames in sorted(os.walk(staging)):
                    seg = os.path.basename(dirpath)
                    if not seg.startswith("centroid_id="):
                        continue
                    cid = int(seg.split("=", 1)[1])
                    for fn in sorted(fnames):
                        if not fn.endswith(".parquet"):
                            continue
                        fpath = os.path.join(dirpath, fn)
                        nrows = pq.ParquetFile(fpath).metadata.num_rows
                        if nrows:
                            new_files.append(
                                {"path": fpath, "rows": nrows, "centroid_id": cid}
                            )
                            self._state.staged_files.append(fpath)
                            n_add += nrows
        finally:
            feed.unpersist()

        vi["files"] = new_files
        vi["built_version"] = cur
        vi["stale"] = False
        self._mutate(
            entry, "refresh_vector_index", kind=kind, clusters=len(touched)
        )
        return {
            "mode": "incremental",
            "rewritten_clusters": list(touched),
            "rows_written": int(n_add),
        }

    def vector_search(
        self,
        vec: list[float],
        columns: list[str] | None = None,
        limit: int = 10,
        predicate: Any = None,
        *,
        approximate: bool = False,
        nprobe: int = 4,
        rerank: int | None = None,
    ) -> pa.Table:
        """Top-k by the index's distance function. The reference emits
        ``SELECT cols, dist(col, vec) AS vast_pysdk_vector_dist ... ORDER BY
        ... LIMIT k`` through ADBC; we build the same plan in Spark. Default
        is exact brute-force (contract-compatible: the API promises top-k);
        ``approximate=True`` routes through whatever index
        ``build_vector_index`` persisted — IVF cluster probing, flat-PQ
        ADC, or IVF-PQ (cluster pruning + residual ADC). ``rerank=r``
        (PQ kinds) exact-rescores an r-row ADC shortlist so the returned
        distances are true distances. A stale or absent index falls back
        to exact."""
        entry = self.entry
        if not entry.vector_index:
            raise NotSupportedCommand(f"table {self.path} has no vector index")
        vcol = entry.vector_index["column"]
        metric = entry.vector_index.get("metric", "l2sq")

        df = None
        vi = entry.vector_index
        if approximate and vi.get("files") and not vi.get("stale"):
            import numpy as np

            kind = vi.get("kind", "ivf")
            if kind in ("pq", "ivfpq"):
                return self._vector_search_adc(
                    vi, kind, vec, columns, limit, predicate, nprobe, rerank
                )
            cents = np.asarray(vi["centroids"], dtype=float)
            q = np.asarray(vec, dtype=float)
            d2 = ((cents - q) ** 2).sum(axis=1)
            probe = {int(i) for i in np.argsort(d2)[:nprobe]}
            paths = [
                f["path"] for f in vi["files"] if f["centroid_id"] in probe
            ]
            if paths:
                # cluster files are full row copies (clustered by
                # centroid): read the probed clusters directly — no join
                df = self.spark.read.parquet(*paths).drop(
                    PHYSICAL_ROW_ID, "centroid_id"
                )
        if df is None:
            df = self.df()

        pred_col = to_spark_predicate(predicate, self.arrow_schema)
        if pred_col is not None:
            df = df.filter(pred_col)
        from .functions.vector import distance_column

        dist = distance_column(vcol, vec, metric)
        out_cols = columns or [f.name for f in self.arrow_schema]
        df = (
            df.withColumn(VECTOR_DIST_COL, dist)
            .orderBy(F.col(VECTOR_DIST_COL).asc())
            .limit(limit)
            .select(*out_cols, VECTOR_DIST_COL)
        )
        return df.toArrow()

    def _vector_search_adc(
        self, vi, kind, vec, columns, limit, predicate, nprobe, rerank
    ) -> pa.Table:
        """PQ/IVF-PQ arm of vector_search: read the persisted code files
        (pruned to the probed clusters for ivfpq — manifest-level file
        pruning, centroid_id re-attached per cluster read), apply the
        predicate, project to the ADC-narrow column set, then score via
        the operator tier so persisted and operator-tier searches can
        never diverge. With ``rerank`` the shortlist is exact-rescored on
        the un-quantized column, so the emitted vast_pysdk_vector_dist is
        a true squared-L2."""
        import numpy as np

        from .operators.similarity import ivfpq_topk, pq_topk

        vcol = vi["column"]
        books = self._load_codebooks()
        q = [float(x) for x in vec]
        if kind == "ivfpq":
            cents = np.asarray(vi["centroids"], dtype=float)
            nprobe = min(int(nprobe), len(cents))
            d2 = ((cents - np.asarray(q)) ** 2).sum(axis=1)
            probe = {int(i) for i in np.argsort(d2, kind="stable")[:nprobe]}
            # per-cluster read + literal centroid_id (the partition column
            # is directory-encoded, and after an incremental refresh the
            # files span multiple staging dirs, so no single basePath)
            parts = []
            for cid in sorted(probe):
                paths = [f["path"] for f in vi["files"] if f["centroid_id"] == cid]
                if paths:
                    parts.append(
                        self.spark.read.parquet(*paths).withColumn(
                            "centroid_id", F.lit(int(cid)).cast("int")
                        )
                    )
            if not parts:
                return self.spark.createDataFrame(
                    [], self.df().schema.add(VECTOR_DIST_COL, T.DoubleType())
                ).toArrow()
            df = reduce(DataFrame.unionByName, parts)
        else:
            df = self.spark.read.parquet(*[f["path"] for f in vi["files"]])
        df = df.drop(PHYSICAL_ROW_ID)
        pred_col = to_spark_predicate(predicate, self.arrow_schema)
        if pred_col is not None:
            df = df.filter(pred_col)
        # ADC's scan width is the POINT of PQ: after the predicate, keep
        # only output columns + codes (+ the un-quantized vector only when
        # reranking, + centroid_id for per-cluster LUTs) — parquet column
        # pruning then skips the wide vector column entirely on the
        # no-rerank path instead of shipping it through every Arrow batch
        out_cols = columns or [f.name for f in self.arrow_schema]
        needed = list(dict.fromkeys(out_cols + ["pq_codes"]))
        if rerank is not None and vcol not in needed:
            needed.append(vcol)
        if kind == "ivfpq":
            needed.append("centroid_id")
        df = df.select(*[F.col(f"`{c}`") for c in dict.fromkeys(needed)])
        if kind == "ivfpq":
            out = ivfpq_topk(
                df,
                cents,
                books,
                q,
                k=limit,
                nprobe=nprobe,
                dist_col=VECTOR_DIST_COL,
                rerank=rerank,
                vec_col=vcol,
            )
            out = out.drop("centroid_id")
        else:
            out = pq_topk(
                df,
                books,
                q,
                k=limit,
                dist_col=VECTOR_DIST_COL,
                rerank=rerank,
                vec_col=vcol,
            )
        return out.select(*out_cols, VECTOR_DIST_COL).toArrow()

    # ------------------------------------------------------------------
    # blob expansion (reference: vastdb/table.py:55-71, 1053-1074, 1173-1215)
    def create_blob_expansion(
        self,
        name: str,
        *,
        source_column: str,
        target_schema: pa.Schema,
        copy_source: bool = True,
        flatten: bool = True,
        delimiter: str = "__",
        missing_values_column: str | None = None,
        excessive_values_column: str | None = None,
    ) -> None:
        """Declare that ``source_column`` holds JSON to be parsed into typed
        columns (reference: BlobExpansionConfig, vastdb/table.py:55-71 —
        JSON is the only supported format; options for copying the source
        column, flattening nested paths with a delimiter, and reporting
        missing/excessive JSON keys). The expansion is exposed as a derived
        DataFrame via ``blob_expansion_df`` and is always current because it
        is computed over the live table."""
        entry = TableEntry.from_json(self.entry.to_json())
        if source_column not in self.arrow_schema.names:
            raise InvalidArgument(f"no column {source_column!r}")
        entry.blob_expansions[name] = {
            "source_column": source_column,
            "target_schema_b64": schema_to_b64(target_schema),
            "copy_source": copy_source,
            "flatten": flatten,
            "delimiter": delimiter,
            "missing_values_column": missing_values_column,
            "excessive_values_column": excessive_values_column,
        }
        self._mutate(entry, "create_blob_expansion", name=name)

    def alter_blob_expansion(
        self,
        name: str,
        *,
        add_columns: pa.Schema | None = None,
        drop_columns: list[str] | None = None,
    ) -> None:
        """Add/drop expansion target columns (reference: alter/add/drop
        expansion columns, vastdb/table.py:1173-1215). Both directions are
        idempotent, matching the reference's contract — adding an existing
        column and dropping a missing one succeed silently
        (vastdb/tests/test_blob_expansion.py: add_already_added_columns,
        drop_already_dropped_columns, drop_non_existent_columns).

        Semantic delta vs the reference: there the server's expansion
        daemon continuously parses blobs into a physical target table
        (vastdb/_internal.py:2109-2402), so an added column starts NULL
        until rows are re-processed. Here the expansion is a derived view
        recomputed from the live source column at query time
        (``blob_expansion_df``), so an added column is immediately
        backfilled for ALL rows — past and future inserts alike — and a
        dropped column disappears immediately."""
        entry = TableEntry.from_json(self.entry.to_json())
        cfg = entry.blob_expansions.get(name)
        if cfg is None:
            raise MissingProjection(name)
        target = schema_from_b64(cfg["target_schema_b64"])
        for col in drop_columns or []:
            idx = target.get_field_index(col)
            if idx >= 0:
                target = target.remove(idx)
        for f in add_columns or []:
            if f.name not in target.names:
                target = target.append(f)
        cfg["target_schema_b64"] = schema_to_b64(target)
        self._mutate(entry, "alter_blob_expansion", name=name)

    def drop_blob_expansion(self, name: str) -> None:
        entry = TableEntry.from_json(self.entry.to_json())
        if name not in entry.blob_expansions:
            raise MissingProjection(name)
        del entry.blob_expansions[name]
        self._mutate(entry, "drop_blob_expansion", name=name)

    def blob_expansions(self) -> list[str]:
        return sorted(self.entry.blob_expansions)

    def blob_expansion_df(self, name: str) -> DataFrame:
        cfg = self.entry.blob_expansions.get(name)
        if cfg is None:
            raise MissingProjection(name)
        target = schema_from_b64(cfg["target_schema_b64"])
        spark_target = arrow_schema_to_spark(target)
        src = cfg["source_column"]
        df = self.df().withColumn("__parsed", F.from_json(F.col(src), spark_target))
        cols = []
        if cfg.get("copy_source", True):
            cols.append(F.col(src))
        if cfg.get("flatten", True):
            delim = cfg.get("delimiter", "__")
            for f in spark_target.fields:
                if isinstance(f.dataType, T.StructType):
                    for sub in f.dataType.fields:
                        cols.append(
                            F.col(f"__parsed.{f.name}.{sub.name}").alias(
                                f"{f.name}{delim}{sub.name}"
                            )
                        )
                else:
                    cols.append(F.col(f"__parsed.{f.name}").alias(f.name))
        else:
            cols.append(F.col("__parsed").alias(name))
        # missing / excessive top-level keys vs the declared schema
        declared = F.array(*[F.lit(f.name) for f in spark_target.fields])
        actual = F.json_object_keys(F.col(src))
        if cfg.get("missing_values_column"):
            cols.append(
                F.array_except(declared, actual).alias(cfg["missing_values_column"])
            )
        if cfg.get("excessive_values_column"):
            cols.append(
                F.array_except(actual, declared).alias(cfg["excessive_values_column"])
            )
        return df.select(*cols)

    def _sync_blob_expansions(self, entry: TableEntry) -> None:
        # expansions are derived views over the live table; nothing to do on
        # insert, present as a hook for future materialized expansions
        pass


class Projection:
    """Handle to a semi-sorted projection (reference: vastdb/table.py:1090-1138)."""

    def __init__(self, name: str, table: Table):
        self.name = name
        self.table = table

    @property
    def _cfg(self) -> dict:
        return self.table.entry.projections[self.name]

    def __repr__(self) -> str:
        return f"Projection({self.table.path}:{self.name})"

    @property
    def stale(self) -> bool:
        return bool(self._cfg.get("stale"))

    def columns(self) -> list[str]:
        return list(self._cfg["sorted"]) + list(self._cfg["unsorted"])

    def sorted_columns(self) -> list[str]:
        return list(self._cfg["sorted"])

    def drop(self) -> None:
        entry = TableEntry.from_json(self.table.entry.to_json())
        del entry.projections[self.name]
        self.table._mutate(entry, "drop_projection", projection=self.name)

    def rename(self, new_name: str) -> None:
        entry = TableEntry.from_json(self.table.entry.to_json())
        if new_name in entry.projections:
            raise ProjectionExists(new_name)
        entry.projections[new_name] = entry.projections.pop(self.name)
        self.table._mutate(entry, "rename_projection", old=self.name, new=new_name)
        self.name = new_name

    def rebuild(self) -> None:
        """Re-materialize from the current table state and clear staleness
        (DML marks projections stale; the scan router then bypasses them
        until rebuilt — this is the refresh half of that lifecycle)."""
        cfg = self._cfg
        files = self.table._materialize_projection(
            self.name, list(cfg["sorted"]), list(cfg["unsorted"])
        )
        entry = TableEntry.from_json(self.table.entry.to_json())
        entry.projections[self.name] = {
            "sorted": list(cfg["sorted"]),
            "unsorted": list(cfg["unsorted"]),
            "files": [f.to_json() for f in files],
            "stale": False,
            "built_version": self.table._committed_state_version(),
        }
        self.table._mutate(entry, "rebuild_projection", projection=self.name)

    def refresh(self, mode: str = "auto") -> dict:
        """Incremental projection maintenance via the change feed: an
        APPEND-ONLY span (the common corpus-growth case) materializes
        only the inserted rows as new projection files — cost tracks the
        insert delta, not the table. Any delete/update in the span forces
        a full rebuild: projection files carry no row ids, so removal
        targeting would read the whole projection anyway, at which point
        the rebuild IS the cheap path. Per-file min/max stats still prune
        (each appended file gets its own sorted-column stats; global
        sortedness is not assumed by the scan router).

        ``mode``: "auto" (incremental when the span is append-only and
        the build anchor exists, else full), "incremental" (raise when
        unavailable), "full". Returns a summary dict."""
        t = self.table
        if mode not in ("auto", "incremental", "full"):
            raise InvalidArgument(f"unknown refresh mode {mode!r}")

        def _full():
            self.rebuild()
            return {"mode": "full"}

        def _unavailable(why):
            if mode == "incremental":
                raise NotSupportedCommand(
                    f"incremental projection refresh unavailable for "
                    f"{t.path}:{self.name}: {why}"
                )
            return _full()

        if mode == "full":
            return _full()
        cfg = self._cfg
        if not cfg.get("stale"):
            return {"mode": "noop"}
        built = cfg.get("built_version")
        cur = t._state.base_version
        if built is None:
            return _unavailable("projection was built alongside uncommitted DML")
        # same staged-DML hazard as refresh_vector_index: the feed spans
        # committed versions only, so staged rows in this transaction
        # would be missing from the refreshed projection while `stale`
        # gets cleared — force the full path, which reads staged state
        if t._committed_state_version() is None:
            return _unavailable(
                "staged DML in this transaction (feed only covers "
                "committed spans)"
            )
        try:
            feed = t.read_changes(built, cur)
        except InvalidArgument as e:
            return _unavailable(f"feed span unreadable ({e})")
        feed = feed.persist()
        try:
            non_insert = feed.filter(
                F.col("_change_type") != F.lit("insert")
            ).limit(1).count()
            if non_insert:
                return _unavailable("span contains deletes/updates")
            adds = feed.select(*[F.col(c) for c in self.columns()])
            files = t._materialize_projection(
                self.name, self.sorted_columns(), list(cfg["unsorted"]),
                source_df=adds,
            )
        finally:
            feed.unpersist()
        entry = TableEntry.from_json(t.entry.to_json())
        pcfg = entry.projections[self.name]
        pcfg["files"] = list(pcfg["files"]) + [f.to_json() for f in files]
        pcfg["stale"] = False
        pcfg["built_version"] = cur
        t._mutate(
            entry, "refresh_projection", projection=self.name,
            appended=len(files),
        )
        return {"mode": "incremental", "appended_files": len(files)}

    def get_stats(self) -> TableStats:
        files = [FileEntry.from_json(fj) for fj in self._cfg["files"]]
        size = 0
        for fe in files:
            try:
                size += os.path.getsize(fe.path)
            except OSError:
                pass
        return TableStats(num_rows=sum(f.rows for f in files), size_in_bytes=size)

    def _split_plan(
        self,
        columns: list[str] | None,
        predicate: Any,
        config: QueryConfig | None,
        num_splits: int | None,
    ) -> tuple[list[list[FileEntry]], list[str], QueryConfig, pa.Schema]:
        """Guards + split grouping shared by :meth:`select_splits` and
        :meth:`split_record_batch_reader` — validates eagerly, groups the
        projection's files round-robin, runs NO Spark work."""
        t = self.table
        if self.stale:
            raise NotSupportedCommand(
                f"projection {t.path}:{self.name} is stale (DML since "
                "build); rebuild()/refresh() before reading it directly"
            )
        cfg_proj = self._cfg
        pcols = self.columns()
        names = pcols if columns is None else list(columns)
        missing = [c for c in names if c not in pcols]
        if missing:
            raise InvalidArgument(
                f"columns {missing} not in projection {self.name} "
                f"(projection columns: {pcols})"
            )
        if isinstance(predicate, Column):
            raise InvalidArgument(
                "projection split readers accept deferred/Expr predicates "
                "only (Spark Column predicates bypass projection routing)"
            )
        if predicate is not None and not isinstance(predicate, bool):
            extra = predicate.root_columns() - set(pcols)
            if extra:
                raise InvalidArgument(
                    f"predicate references {sorted(extra)} outside "
                    f"projection {self.name} (projection columns: {pcols})"
                )
        config = config or QueryConfig()
        forced = dataclasses.replace(
            config,
            use_semi_sorted_projections=True,
            semi_sorted_projection_name=self.name,
        )
        files = [FileEntry.from_json(fj) for fj in cfg_proj["files"]]
        out_schema = pa.schema(
            [_resolve_field(t.arrow_schema, c) for c in names]
        )
        explicit = num_splits is not None
        if num_splits is None:
            num_splits = forced.num_splits or max(
                1, sum(f.rows for f in files) // forced.rows_per_split
            )
        if not explicit:
            num_splits = min(max(1, num_splits), max(1, len(files)))
        num_splits = max(1, num_splits)
        groups: list[list[FileEntry]] = [[] for _ in range(num_splits)]
        for i, fe in enumerate(files):
            groups[i % num_splits].append(fe)
        return groups, names, forced, out_schema

    def _lazy_split_reader(
        self,
        grp: list[FileEntry],
        names: list[str],
        predicate: Any,
        forced: QueryConfig,
        out_schema: pa.Schema,
    ) -> pa.RecordBatchReader:
        """One split's reader. LAZY: the split's files + table entry are
        pinned here, but the plan is built and the Spark job run on first
        batch pull (reference semantics: vastdb/table.py:536-569)."""
        t = self.table
        entry_json = t.entry.to_json()
        cfg_proj = {**self._cfg, "files": [f.to_json() for f in grp]}
        proj_name = self.name

        def gen():
            if not grp:
                return
            sub = Table(t.name, t.schema)
            sub_entry = TableEntry.from_json(entry_json)
            # base files emptied: routing is FORCED to this projection,
            # so base-file pruning would be dead work
            sub_entry.files = []
            sub_entry.projections = {proj_name: cfg_proj}
            sub._entry_override = sub_entry
            # spill estimate: entry.num_rows is 0 with base files emptied;
            # carry the split's real row count so a big split streams
            # through the bounded-memory spill path instead of toArrow()
            sub._est_rows_override = sum(f.rows for f in grp)
            yield from sub.select(names, predicate, forced)

        return pa.RecordBatchReader.from_batches(out_schema, gen())

    def select_splits(
        self,
        columns: list[str] | None = None,
        predicate: Any = None,
        config: QueryConfig | None = None,
        *,
        num_splits: int | None = None,
    ) -> list[pa.RecordBatchReader]:
        """Per-split Arrow readers over THIS projection's files — the
        projection-handle analog of ``Table.select_splits``, closing the
        reference's per-split-reader-on-a-projection surface
        (``split_record_batch_reader``, vastdb/table.py:168, handed out by
        select_splits at :536-569). Each split is a disjoint group of the
        projection's (narrow, sorted) files, so a reader pays only for
        projection data; sort-key min/max pruning still applies inside
        each split via the routed scan.

        LAZY: constructing the list runs no Spark job; each split plans
        and runs on first pull. An explicit ``num_splits`` returns exactly
        that many readers (trailing ones possibly empty — the reference's
        fixed-count contract); a derived count is capped at the file
        count.

        Guards (explicit, not silent fallback — a projection handle must
        never quietly read base-table files): stale projections are
        refused (rebuild()/refresh() first), requested/predicate columns
        must be covered by the projection, and Spark ``Column``
        predicates are rejected (they bypass projection routing)."""
        groups, names, forced, out_schema = self._split_plan(
            columns, predicate, config, num_splits
        )
        return [
            self._lazy_split_reader(grp, names, predicate, forced, out_schema)
            for grp in groups
        ]

    def split_record_batch_reader(
        self,
        split: int = 0,
        columns: list[str] | None = None,
        predicate: Any = None,
        config: QueryConfig | None = None,
        *,
        num_splits: int | None = None,
    ) -> pa.RecordBatchReader:
        """Arrow reader for ONE split of this projection (reference:
        vastdb/table.py:168 — the per-split ``split_record_batch_reader``
        the reference's select machinery hands out, here surfaced on the
        Projection handle). Builds ONLY the requested split's reader —
        sibling splits are neither planned nor executed."""
        groups, names, forced, out_schema = self._split_plan(
            columns, predicate, config, num_splits
        )
        if not 0 <= split < len(groups):
            raise InvalidArgument(
                f"split {split} out of range (0..{len(groups) - 1})"
            )
        return self._lazy_split_reader(
            groups[split], names, predicate, forced, out_schema
        )


# ---------------------------------------------------------------------------
# helpers


def _file_col_for(phys: str, cmap: dict[str, str]) -> str:
    """cmap maps file-column -> physical; invert for reading."""
    for file_col, p in cmap.items():
        if p == phys:
            return file_col
    return phys


def _resolve_field(schema: pa.Schema, name: str) -> pa.Field:
    if name == INTERNAL_ROW_ID:
        return pa.field(INTERNAL_ROW_ID, _ROW_ID_ARROW, False)
    idx = schema.get_field_index(name)
    if idx < 0:
        raise InvalidArgument(f"unknown column {name!r}")
    return schema.field(idx)


def _strip_bucket(path: str) -> str:
    """Accept both plain paths and reference-style '/bucket/key' object
    paths; we only deal in filesystem paths."""
    return path
