"""Focused tests for the r14 DML fast paths:

- the literal-map row-id derivation in ``Table.df()`` (files <=
  RID_LITERAL_MAP_MAX_FILES resolve ``$row_id`` via a create_map lookup
  with zero extra Spark jobs; more files fall back to the broadcast join)
  must produce identical ids on both routes;
- deletion vectors in ``Table.df()``: a scan whose files carry at most
  DV_LITERAL_MAX_ROWS masked rows reads the sidecars at plan time and
  filters each file group's raw scan with a literal ``NOT (<raw row id>
  IN (...))`` predicate (physical ``_vastdb_row_id``, else
  ``_metadata.row_index`` shifted by the file's row-id base; qualified by
  file path in multi-file groups), so it runs the one Spark job of a
  scan without DVs; above the bound the scan falls back to the
  anti-join against the sidecars. Both routes must return the same rows
  and ``$row_id``s;
- ``delete()``'s heavy-file routing (id batches that provably push a file
  past DV_REWRITE_FRACTION rewrite the file directly, skipping the
  deletion-vector pass) must leave the same surviving rows, stable
  ``$row_id``s, and exact ``count_rows`` as the sidecar path;
- every deletion-vector statement commits through one path, so a
  statement matching no row is a true no-op (no history entry, no stale
  projection, no orphan file);
- a statement matching at most DV_LITERAL_MAX_ROWS rows writes its DV
  sidecars and replacement rows from one collect on the driver (one
  Spark job), and leaves the same table as the Spark writes; so do
  ``merge``, ``dedup_rows`` and ``cap_rows_per_group``, which hand the
  DV writer a frame, on both sides of its probe;
- ``_rewrite_files`` stays linear in the table's file count.
"""

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import vastdb_sdk_spark as vastdb
from vastdb_sdk_spark import table as table_mod
from vastdb_sdk_spark.catalog.manifest import FileEntry, TableEntry


@pytest.fixture(scope="module")
def session(spark, tmp_path_factory):
    s = vastdb.connect(
        str(tmp_path_factory.mktemp("dml_fastpaths")), spark=spark
    )
    s.create_bucket("b")
    return s


def _mk(session, name, n_files=3, rows_per_file=100, value=float):
    with session.transaction() as tx:
        sc = tx.bucket("b").create_schema(name)
        t = sc.create_table(
            "t", pa.schema([("k", pa.int64()), ("v", pa.float64())])
        )
        for f in range(n_files):
            base = f * rows_per_file
            t.insert(
                pa.table(
                    {
                        "k": pa.array(
                            range(base, base + rows_per_file), pa.int64()
                        ),
                        "v": pa.array(
                            [value(i) for i in range(base, base + rows_per_file)],
                            pa.float64(),
                        ),
                    }
                )
            )
    return name


def setup_module(module):
    pass


def test_rowid_literal_map_matches_broadcast_join(session, monkeypatch):
    name = _mk(session, "s_rid")
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        via_map = (
            t.select_df(internal_row_id=True)
            .select("k", "$row_id")
            .toArrow()
            .sort_by("k")
        )
        assert len(t.entry.files) > 1  # multi-file: map carries >1 entry
        monkeypatch.setattr(table_mod, "RID_LITERAL_MAP_MAX_FILES", 0)
        via_join = (
            t.select_df(internal_row_id=True)
            .select("k", "$row_id")
            .toArrow()
            .sort_by("k")
        )
        assert via_map.equals(via_join)


def _dv_state(t):
    """Rows (sorted by ``k``, with ``$row_id``), scanned count and optimized
    plan of ``t`` on the current deletion-vector route."""
    df = t.select_df(internal_row_id=True)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return df.toArrow().sort_by("k"), t.count_rows(t["k"] >= 0), plan


def _dv_multi_file(session, tmp_path, name="s_dv_multi"):
    _mk(session, name)
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        # row position 50 is masked in two files: without the file-path
        # qualifier each mask would also hide the other files' rows
        t.delete_where(t["k"].isin([3, 150, 250]))
        assert len(t.entry.files) == 3
        assert all(fe.dv_paths and not fe.has_physical_row_id for fe in t.entry.files)
    return name, {"k": [k for k in range(300) if k not in (3, 150, 250)]}


def _dv_imported(session, tmp_path):
    name = _mk(session, "s_dv_import", n_files=1, rows_per_file=10)
    path = str(tmp_path / "imported.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(10, 60), pa.int64()),
                "v": pa.array([float(k) for k in range(10, 60)]),
            }
        ),
        path,
    )
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        t.import_files([path])
        t.delete_where(t["k"].isin([11, 30, 59]))
        (imp,) = [fe for fe in t.entry.files if fe.path == path]
        # its row positions are the ids minus the file's nonzero base
        assert imp.row_id_base > 0 and imp.dv_paths
    return name, {"k": [k for k in range(60) if k not in (11, 30, 59)]}


def _dv_replacements(session, tmp_path):
    name = _mk(session, "s_dv_repl", n_files=1, rows_per_file=100)
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        before = _dv_state(t)[0]
        rid = dict(zip(before["k"].to_pylist(), before["$row_id"].to_pylist()))
        t.update_where(t["k"] < 10, {"v": -1.0})
        t.update_where(t["k"] < 2, {"v": -2.0})
        phys = [fe for fe in t.entry.files if fe.has_physical_row_id]
        # the first replacement file masks the ids of k 0 and 1, which the
        # second replacement file reuses: those rows must stay visible
        assert len(phys) == 2 and sum(bool(fe.dv_paths) for fe in phys) == 1
    return name, {
        "k": list(range(100)),
        "v": [-2.0] * 2 + [-1.0] * 8 + [float(k) for k in range(10, 100)],
        "$row_id": [rid[k] for k in range(100)],
    }


def _dv_partitioned(session, tmp_path):
    with session.transaction() as tx:
        t = tx.bucket("b").create_schema("s_dv_part").create_table(
            "t",
            pa.schema([("k", pa.int64()), ("g", pa.int64()), ("v", pa.float64())]),
            partition_by=["g"],
        )
        t.insert_df(
            t.spark.range(200).selectExpr(
                "id AS k", "id % 2 AS g", "CAST(id AS DOUBLE) AS v"
            )
        )
    with session.transaction() as tx:
        t = tx.bucket("b").schema("s_dv_part").table("t")
        t.delete_where(t["k"].isin([4, 7, 120, 199]))
        dv_parts = {tuple(fe.partition.items()) for fe in t.entry.files if fe.dv_paths}
        assert len(dv_parts) == 2
    return "s_dv_part", {"k": [k for k in range(200) if k not in (4, 7, 120, 199)]}


_DV_CASES = {
    "multi_file": _dv_multi_file,
    "imported": _dv_imported,
    "replacements": _dv_replacements,
    "partitioned": _dv_partitioned,
}


@pytest.mark.parametrize("case", sorted(_DV_CASES))
def test_dv_literal_route_matches_anti_join(session, tmp_path, monkeypatch, case):
    name, expect = _DV_CASES[case](session, tmp_path)
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        rows, count, plan = _dv_state(t)
        assert "LeftAnti" not in plan
        with monkeypatch.context() as m:
            m.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 0)
            rows_j, count_j, plan_j = _dv_state(t)
        assert "LeftAnti" in plan_j
        assert rows.equals(rows_j)
        assert count == count_j == t.count_rows() == rows.num_rows
        for col, want in expect.items():
            assert rows[col].to_pylist() == want, col


def test_dv_literal_route_select_splits(session, tmp_path, monkeypatch):
    name, expect = _dv_multi_file(session, tmp_path, "s_dv_splits")

    def read(t):
        readers = t.select_splits(internal_row_id=True, num_splits=2)
        return pa.Table.from_batches(
            [b for r in readers for b in r], readers[0].schema
        ).sort_by("k")

    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        via_literal = read(t)
        monkeypatch.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 0)
        via_join = read(t)
    assert via_literal.equals(via_join)
    assert via_literal["k"].to_pylist() == expect["k"]


def test_dv_literal_route_runs_one_job(session, monkeypatch, spark_jobs):
    name = _mk(session, "s_dv_jobs")
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")

        def read():
            return t.select_df(predicate=t["k"] < 260).toArrow().sort_by("k")

        assert spark_jobs(read)[0] == 1  # before any DV
        t.delete_where(t["k"].isin([3, 150, 250]))
        assert 0 < t.entry.live_rows < 300
        assert spark_jobs(read)[0] == 1
        want = [k for k in range(260) if k not in (3, 150, 250)]
        assert read()["k"].to_pylist() == want
        # select() of the same small read: the driver Arrow route, no job
        assert spark_jobs(lambda: t.select(predicate=t["k"] < 260).read_all())[0] == 0
        assert t.select(predicate=t["k"] < 260).read_all().sort_by("k")["k"].to_pylist() == want
        # below the DV row count: the anti-join fallback
        monkeypatch.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 2)
        assert spark_jobs(read)[0] > 1
        assert read()["k"].to_pylist() == want


def test_delete_heavy_routing_rewrites_and_matches_sidecar_path(session):
    name = _mk(session, "s_heavy")
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        rid = (
            t.select_df(internal_row_id=True)
            .select("k", "$row_id")
            .toArrow()
            .sort_by("k")
        )
        by_k = dict(zip(rid["k"].to_pylist(), rid["$row_id"].to_pylist()))
        # file 0: delete 60% (heavy -> direct rewrite); file 2: delete 5%
        # (light -> DV sidecar). file 1 untouched.
        del_ids = [by_k[k] for k in range(0, 60)] + [by_k[k] for k in range(200, 205)]
        t.delete(pa.table({"$row_id": pa.array(del_ids, pa.uint64())}))
        # heavy file was rewritten: no DV sidecars on any file covering
        # ids 0..99; light file carries a DV sidecar
        covering = {
            fe.path: fe
            for fe in t.entry.files
        }
        heavy_fes = [
            fe for fe in covering.values() if fe.row_id_range()[0] < 100
        ]
        light_fes = [
            fe for fe in covering.values() if fe.row_id_range()[0] >= 200
        ]
        assert heavy_fes and all(not fe.dv_paths for fe in heavy_fes)
        assert light_fes and any(fe.dv_paths for fe in light_fes)
        # exact count contract
        assert t.count_rows() == 300 - len(del_ids)
        # values + row-id stability for survivors
        after = (
            t.select_df(internal_row_id=True)
            .select("k", "$row_id")
            .toArrow()
            .sort_by("k")
        )
        ks = after["k"].to_pylist()
        assert ks == [k for k in range(300) if not (k < 60 or 200 <= k < 205)]
        assert all(by_k[k] == r for k, r in zip(ks, after["$row_id"].to_pylist()))


def test_delete_all_rows_heavy_path(session):
    name = _mk(session, "s_all", n_files=2)
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        ids = (
            t.select_df(internal_row_id=True).select("$row_id").toArrow()
        )["$row_id"]
        t.delete(pa.table({"$row_id": ids.cast(pa.uint64())}))
        assert t.count_rows() == 0
        assert t.select_df().count() == 0


_NO_MATCH = {
    # $row_id 5 is in the file's row-id range but already deleted
    "update": lambda t: t.update(
        pa.table({"$row_id": pa.array([5], pa.uint64()), "v": [1.0]})
    ),
    "delete": lambda t: t.delete(pa.table({"$row_id": pa.array([5], pa.uint64())})),
    "delete_where": lambda t: t.delete_where(t["k"] > 100),
    "update_where": lambda t: t.update_where(t["k"] > 100, {"v": 7.0}),
    "merge": lambda t: t.merge(
        t.spark.createDataFrame([(1000, 1.0)], "k long, v double"),
        ["k"],
        when_not_matched=None,
    ),
    # every source row matches, so the default insert branch writes 0 rows
    "merge_all_matched": lambda t: t.merge(
        t.spark.createDataFrame([(1, 1.0)], "k long, v double"),
        ["k"],
        when_matched=None,
    ),
}


@pytest.mark.parametrize("stmt", sorted(_NO_MATCH))
def test_no_match_dml_is_a_true_noop(session, stmt):
    _assert_no_match_is_noop(session, stmt, f"s_noop_{stmt}")


@pytest.mark.parametrize("stmt", sorted(_NO_MATCH))
def test_no_match_dml_is_a_true_noop_on_spark_writes(session, monkeypatch, stmt):
    monkeypatch.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 0)
    _assert_no_match_is_noop(session, stmt, f"s_noop_spark_{stmt}")


def _assert_no_match_is_noop(session, stmt, name):
    _mk(session, name, n_files=1, rows_per_file=10)
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        # 1 of 10 rows: stays a DV, so $row_id 5 remains inside the range
        t.delete_where(t["k"] == 5)
        t.create_projection("p", ["k"], ["v"])
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        ops_before = [r.op for r in t.history().collect()]
        data_dir = os.path.dirname(t.entry.files[0].path)
        files_before = sorted(os.listdir(data_dir))
        _NO_MATCH[stmt](t)
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        assert [r.op for r in t.history().collect()] == ops_before
        assert not t.projection("p").stale
        assert t.count_rows() == 9
        assert sorted(os.listdir(data_dir)) == files_before  # no orphan sidecar dir


# keys each statement below touches, spread over the case's files
_DV_STMT_KEYS = {
    "multi_file": [5, 160, 260],
    "imported": [2, 20, 40],
    "replacements": [1, 5, 50],
    "partitioned": [6, 9, 121],
}


def _ids_of(t, keys):
    return t.select(
        columns=["k"], predicate=t["k"].isin(keys), internal_row_id=True
    ).read_all()["$row_id"]


_DV_STMTS = {
    "update": lambda t, keys: t.update(
        pa.table({"$row_id": _ids_of(t, keys), "v": pa.array([-9.0] * len(keys))})
    ),
    "update_where": lambda t, keys: t.update_where(t["k"].isin(keys), {"v": -9.0}),
    "delete": lambda t, keys: t.delete(pa.table({"$row_id": _ids_of(t, keys)})),
    "delete_where": lambda t, keys: t.delete_where(t["k"].isin(keys)),
}


def _route_table(spark, root, case, stmt):
    """A fresh warehouse under ``root`` holding ``case``'s table after
    ``stmt``, each statement committed on the DV write route in effect."""
    session = vastdb.connect(str(root), spark=spark)
    session.create_bucket("b")
    name, expect = _DV_CASES[case](session, root)
    with session.transaction() as tx:
        _DV_STMTS[stmt](tx.bucket("b").schema(name).table("t"), _DV_STMT_KEYS[case])
    return session, name, expect


def _route_state(session, name):
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        rows, count, _plan = _dv_state(t)
        files = t.entry.files
        return {
            "rows": rows,
            "count": (count, t.count_rows()),
            "dv_rows": sorted((fe.row_id_range(), fe.dv_rows) for fe in files if fe.dv_rows),
            "dv_files": sum(len(fe.dv_paths) for fe in files),
            "file_rows": sum(fe.rows for fe in files),
            "data_files": len(files),
            "history": [(r.op, r.details) for r in t.history().collect()],
        }


@pytest.mark.parametrize("case", sorted(_DV_CASES))
@pytest.mark.parametrize("stmt", sorted(_DV_STMTS))
def test_small_dv_statement_route_matches_spark_writes(
    spark, tmp_path, monkeypatch, stmt, case
):
    """With the Arrow route off (ARROW_READ_MAX_ROWS at 0), a statement
    masking at most DV_LITERAL_MAX_ROWS rows writes its sidecars and
    replacement rows from one collect on the driver; that bound at 0
    forces every statement onto the Spark writes. Both give the same
    table."""
    monkeypatch.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
    session, name, expect = _route_table(spark, tmp_path / "driver", case, stmt)
    with monkeypatch.context() as m:
        m.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 0)
        session_s, name_s, _ = _route_table(spark, tmp_path / "spark", case, stmt)
    driver, via_spark = _route_state(session, name), _route_state(session_s, name_s)
    assert driver.pop("rows").equals(via_spark.pop("rows"))
    # Spark writes one replacement file per task holding matched rows, the
    # driver one per statement
    data_files, data_files_s = driver.pop("data_files"), via_spark.pop("data_files")
    assert data_files == data_files_s if stmt.startswith("delete") else data_files <= data_files_s
    assert driver == via_spark
    # driver-written sidecars read the same on the anti-join read route,
    # so their owner_fk is the scan's
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        rows, _count, _plan = _dv_state(t)
        with monkeypatch.context() as m:
            m.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 0)
            rows_j, _count_j, plan_j = _dv_state(t)
    assert "LeftAnti" in plan_j
    assert rows.equals(rows_j)
    keys = _DV_STMT_KEYS[case]
    if stmt.startswith("delete"):
        assert rows["k"].to_pylist() == [k for k in expect["k"] if k not in keys]
    else:
        assert rows["k"].to_pylist() == expect["k"]
        v = dict(zip(rows["k"].to_pylist(), rows["v"].to_pylist()))
        assert [v[k] for k in keys] == [-9.0] * len(keys)


def _frame_value(k):
    """``v`` of row ``k``: every tenth row of the third file repeats a
    ``v`` of the second, so dedup and the cap mask rows in two files."""
    return float(k - 100 if k >= 200 and k % 10 == 0 else k)


def _merge_all_clauses(t):
    from pyspark.sql import functions as F

    source = t.spark.createDataFrame(
        [(5, -1.0), (6, -2.0), (160, -3.0), (1000, 7.0)], "k long, v double"
    )
    return t.merge(
        source, ["k"],
        matched_clauses=[("delete", F.expr("s.v = -2.0"), None), ("update", None, None)],
        not_matched_by_source_clauses=[
            ("update", F.expr("t.k >= 295"), {"v": F.expr("t.v + 0.5")})
        ],
        target_alias="t", source_alias="s",
    )


# statements whose matched rows reach the DV writer only as a Spark frame
_FRAME_STMTS = {
    "merge": _merge_all_clauses,
    "dedup_rows": lambda t: t.dedup_rows(["v"]),
    "cap_rows_per_group": lambda t: t.cap_rows_per_group(["v"], 1),
}


def _frame_route_run(spark, root, stmt):
    session = vastdb.connect(str(root), spark=spark)
    session.create_bucket("b")
    name = _mk(session, "s_frame", value=_frame_value)
    with session.transaction() as tx:
        _FRAME_STMTS[stmt](tx.bucket("b").schema(name).table("t"))
    return _route_state(session, name)


@pytest.mark.parametrize("stmt", sorted(_FRAME_STMTS))
def test_frame_dv_statement_route_matches_spark_writes(spark, tmp_path, monkeypatch, stmt):
    """A statement that hands the DV writer a frame leaves the same rows,
    ``$row_id``s, per-file DV rows and audit details whether its masked
    rows are collected to the driver (at most DV_LITERAL_MAX_ROWS) or
    written from executors (that bound at 0)."""
    driver = _frame_route_run(spark, tmp_path / "driver", stmt)
    with monkeypatch.context() as m:
        m.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 0)
        via_spark = _frame_route_run(spark, tmp_path / "spark", stmt)
    assert driver.pop("rows").equals(via_spark.pop("rows"))
    # the driver writes one sidecar per owning file, Spark one per task
    assert 0 < driver.pop("dv_files") <= via_spark.pop("dv_files")
    assert driver == via_spark
    ops = [op for op, _details in driver["history"]]
    assert ops[-1] == stmt


# ---------------------------------------------------------------------------
# the Arrow route: statements and compaction read on the driver


def _many(session, tmp_path):
    """One 5000-row file: 1200 matches pass DV_LITERAL_MAX_ROWS and stay
    under DV_REWRITE_FRACTION."""
    return _mk(session, "s_many", n_files=1, rows_per_file=5000), {}


_ARROW_CASES = {**_DV_CASES, "many": _many}

# name -> (case, statement): every statement over every DV case, then
# more than DV_LITERAL_MAX_ROWS matches, delete's heavy route, a DV fold
# and a compaction into two files
_ARROW_STMTS = {
    **{
        f"{stmt}-{case}": (case, lambda t, s=stmt, c=case: _DV_STMTS[s](t, _DV_STMT_KEYS[c]))
        for stmt in _DV_STMTS
        for case in _DV_CASES
    },
    "delete_where-many": ("many", lambda t: t.delete_where(t["k"] < 1200)),
    "update_where-many": ("many", lambda t: t.update_where(t["k"] < 1200, {"v": -9.0})),
    "delete-heavy": (
        "multi_file",
        lambda t: t.delete(pa.table({"$row_id": _ids_of(t, [*range(60), 260])})),
    ),
    "fold": ("multi_file", lambda t: t.delete_where(t["k"] < 40)),
    "compact": ("multi_file", lambda t: t.compact(target_file_rows=150)),
}


def _no_df(*_args, **_kwargs):
    raise AssertionError("Table.df() called on the Arrow route")


def _arrow_route_run(spark, root, key, monkeypatch, spark_jobs, arrow):
    """State of a fresh warehouse under ``root`` after statement ``key``,
    and the Spark jobs the statement ran: on the Arrow route with df()
    disabled, or with ARROW_READ_MAX_ROWS at 0."""
    case, stmt = _ARROW_STMTS[key]
    session = vastdb.connect(str(root), spark=spark)
    session.create_bucket("b")
    name, _expect = _ARROW_CASES[case](session, root)
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        with monkeypatch.context() as m:
            if arrow:
                m.setattr(table_mod.Table, "df", _no_df)
            else:
                m.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
            jobs, _ = spark_jobs(lambda: stmt(t))
    return _route_state(session, name), jobs


@pytest.mark.parametrize("key", sorted(_ARROW_STMTS))
def test_arrow_route_matches_spark(spark, tmp_path, monkeypatch, spark_jobs, key):
    """A statement or compaction whose files _arrow_scan accepts runs no
    Spark job and leaves the same rows, ``$row_id``s, per-file DV counts
    and audit details as with ARROW_READ_MAX_ROWS at 0."""
    arrow, jobs = _arrow_route_run(spark, tmp_path / "arrow", key, monkeypatch, spark_jobs, True)
    via_spark, jobs_s = _arrow_route_run(
        spark, tmp_path / "spark", key, monkeypatch, spark_jobs, False
    )
    assert (jobs, jobs_s > 0) == (0, True)
    assert arrow.pop("rows").equals(via_spark.pop("rows"))
    # the driver writes one replacement file per statement, Spark one per
    # task; compaction keeps its file count on both
    data_files, data_files_s = arrow.pop("data_files"), via_spark.pop("data_files")
    assert data_files == data_files_s == 2 if key == "compact" else data_files <= data_files_s
    assert arrow == via_spark


def test_small_dv_statement_job_counts(session, monkeypatch, spark_jobs):
    """Each small statement runs no Spark job: its matched rows are read
    on the driver. With ARROW_READ_MAX_ROWS at 0 it is one job, the
    collect of its matched rows; with DV_LITERAL_MAX_ROWS also below the
    match count the Spark writes run too. All three leave the same rows."""

    def run(name):
        _mk(session, name)
        jobs = {}
        with session.transaction() as tx:
            t = tx.bucket("b").schema(name).table("t")
            jobs["update_where"], _ = spark_jobs(
                lambda: t.update_where(t["k"].isin([5, 105, 205]), {"v": -1.0})
            )
            jobs["delete_where"], _ = spark_jobs(
                lambda: t.delete_where(t["k"].isin([6, 106, 206]))
            )
            ids = _ids_of(t, [7, 107, 207])  # known before the statement
            jobs["update"], _ = spark_jobs(
                lambda: t.update(pa.table({"$row_id": ids, "v": [-2.0] * 3}))
            )
            # outside the replacement files' row-id ranges: a delete whose
            # ids may fill a small file rewrites it (delete's heavy route)
            ids = _ids_of(t, [1, 2, 299])
            jobs["delete"], _ = spark_jobs(lambda: t.delete(pa.table({"$row_id": ids})))
        with session.transaction() as tx:
            rows, _count, _plan = _dv_state(tx.bucket("b").schema(name).table("t"))
        return jobs, rows.select(["k", "v"])

    jobs, rows = run("s_jobs_arrow")
    assert jobs == dict.fromkeys(jobs, 0)
    with monkeypatch.context() as m:
        m.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
        jobs_c, rows_c = run("s_jobs_driver")
        m.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 2)
        jobs_s, rows_s = run("s_jobs_spark")
    assert jobs_c == dict.fromkeys(jobs_c, 1)
    assert all(n > 1 for n in jobs_s.values()), jobs_s
    assert rows.equals(rows_c) and rows.equals(rows_s)
    v = dict(zip(rows["k"].to_pylist(), rows["v"].to_pylist()))
    assert [v[k] for k in (5, 105, 205, 7, 107, 207)] == [-1.0] * 3 + [-2.0] * 3
    assert not {6, 106, 206, 1, 2, 299} & set(v)


@pytest.mark.parametrize("route", ["arrow", "driver", "spark"])
def test_dv_statements_under_a_quoted_path(spark, tmp_path, monkeypatch, route):
    """Spark's ``_metadata.file_path`` percent-encodes a space or ``%`` in
    the warehouse path: DV sidecars, the ``$row_id`` map and the source
    file of both write routes must key files the same way, so both read
    routes find their rows."""
    session = vastdb.connect(str(tmp_path / "ws p%20q" / "wh"), spark=spark)
    session.create_bucket("b")
    name = _mk(session, "s_quoted", n_files=2, rows_per_file=10)
    with monkeypatch.context() as m:
        if route != "arrow":
            m.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
        if route == "spark":
            m.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 0)
        with session.transaction() as tx:
            t = tx.bucket("b").schema(name).table("t")
            t.delete_where(t["k"].isin([1, 14]))
            t.update_where(t["k"].isin([2, 12]), {"v": -1.0})
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        assert sum(fe.dv_rows for fe in t.entry.files) == 4
        want = [k for k in range(20) if k not in (1, 14)]
        via_arrow = t.select(internal_row_id=True).read_all().sort_by("k")
        reads = [t.select_df(internal_row_id=True).toArrow().sort_by("k")]
        monkeypatch.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 0)  # the anti-join
        reads.append(t.select_df(internal_row_id=True).toArrow().sort_by("k"))
    assert via_arrow["k"].to_pylist() == want
    v = dict(zip(want, via_arrow["v"].to_pylist()))
    assert v[2] == v[12] == -1.0 and v[3] == 3.0
    for rows in reads:
        assert rows["k"].to_pylist() == want
        assert rows["v"].to_pylist() == via_arrow["v"].to_pylist()
        assert rows["$row_id"].to_pylist() == via_arrow["$row_id"].to_pylist()


def test_delete_keeps_sparse_replacement_file(session, spark_jobs):
    """A replacement file's row-id range can be far wider than its rows:
    ids inside the range are not its matches, so ``delete`` of other ids
    takes the DV route (on the driver: no Spark job) and leaves the file
    alone."""
    name = _mk(session, "s_sparse_delete")
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        t.update_where(t["k"].isin([5, 105, 205]), {"v": -1.0})
        (repl,) = [fe.path for fe in t.entry.files if fe.has_physical_row_id]
        ids = _ids_of(t, [8, 108, 208])
        assert spark_jobs(lambda: t.delete(pa.table({"$row_id": ids})))[0] == 0
        assert repl in [fe.path for fe in t.entry.files]
        ks = set(t.select(columns=["k"]).read_all()["k"].to_pylist())
        assert ks == set(range(300)) - {8, 108, 208}


def test_footer_stats_of_a_column_after_a_struct(session):
    """A struct's leaves shift the footer index of every later column: a
    Spark-written file's sort-key stats and a rewritten file's row-id
    range come from the column's own leaf, so ``delete`` finds its ids."""
    schema = pa.schema(
        [("st", pa.struct([("a", pa.int64()), ("b", pa.float64())])), ("k", pa.int64())]
    )
    with session.transaction() as tx:
        t = tx.bucket("b").create_schema("s_struct_stats").create_table(
            "t", schema, sorting_key=["k"]
        )
        t.insert_df(t.spark.range(3).selectExpr("named_struct('a', 100 - id, 'b', 0.5) AS st", "id AS k"))
        for fe in t.entry.files:
            ks = pq.read_table(fe.path, columns=["k"])["k"].to_pylist()
            assert fe.col_stats["k"] == [min(ks), max(ks)]
        t.insert(pa.table({"st": [{"a": 1, "b": 0.5}] * 3, "k": [10, 11, 12]}, schema=schema))
        t.delete_where(t["k"] == 10)  # 1 of 3 rows: the file is rewritten
        (repl,) = [fe for fe in t.entry.files if fe.has_physical_row_id]
        ids = _ids_of(t, [11, 12]).to_pylist()
        assert repl.row_id_range() == (min(ids), max(ids))
        t.delete(pa.table({"$row_id": _ids_of(t, [11])}))
        assert sorted(t.select(columns=["k"]).read_all()["k"].to_pylist()) == [0, 1, 2, 12]


class _NoRows:
    """Replacement frame without rows: writing it leaves an empty staging
    directory, so only the driver-side file bookkeeping is timed."""

    write = property(lambda self: self)

    def select(self, *cols):
        return self

    def mode(self, _mode):
        return self

    def parquet(self, path):
        os.makedirs(path)


def test_rewrite_files_is_linear_in_file_count(session):
    name = _mk(session, "s_rewrite_many", n_files=1, rows_per_file=1)
    with session.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        entry = TableEntry.from_json(t.entry.to_json())
        entry.files = [
            FileEntry(path=f"/nowhere/f{i}.parquet", rows=1) for i in range(20_000)
        ]
        start = time.perf_counter()
        t._rewrite_files(entry, list(entry.files), _NoRows(), "test")
        elapsed = time.perf_counter() - start
        assert entry.files == []
        # linear: ~10 ms; a per-file rebuild of the affected-path set is
        # quadratic and takes tens of seconds here
        assert elapsed < 2.0, elapsed
