"""Focused tests for the r14 DML fast paths:

- the literal-map row-id derivation in ``Table.df()`` (files <=
  RID_LITERAL_MAP_MAX_FILES resolve ``$row_id`` via a create_map lookup
  with zero extra Spark jobs; more files fall back to the broadcast join)
  must produce identical ids on both routes;
- ``delete()``'s heavy-file routing (id batches that provably push a file
  past DV_REWRITE_FRACTION rewrite the file directly, skipping the
  deletion-vector pass) must leave the same surviving rows, stable
  ``$row_id``s, and exact ``count_rows`` as the sidecar path;
- every deletion-vector statement commits through one path, so a
  statement matching no row is a true no-op (no history entry, no stale
  projection, no orphan file);
- ``_rewrite_files`` stays linear in the table's file count.
"""

import os
import time

import pyarrow as pa
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


def _mk(session, name, n_files=3, rows_per_file=100):
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
                            [float(i) for i in range(base, base + rows_per_file)],
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
}


@pytest.mark.parametrize("stmt", sorted(_NO_MATCH))
def test_no_match_dml_is_a_true_noop(session, stmt):
    name = _mk(session, f"s_noop_{stmt}", n_files=1, rows_per_file=10)
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
