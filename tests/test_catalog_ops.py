"""Schemas, snapshots, imports, projections, sorted tables, vector search,
blob expansion — the catalog/layout operator families (SURVEY.md §2.11)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import vastdb_sdk_spark as vastdb
from vastdb_sdk_spark import _ as D
from vastdb_sdk_spark.sources import ImportMergePolicy, create_table_from_files, merge_schemas

SF = "/root/testdata/sf0.001"


# -- schemas (reference: vastdb/tests/test_schemas.py) ----------------------


def test_schema_crud(session):
    with session.transaction() as tx:
        b = tx.bucket("bkt")
        s = b.create_schema("s1")
        s.create_schema("inner")  # nested "s1/inner"
        assert [x.name for x in b.schemas()] == ["s1"]
        assert [x.name for x in s.schemas()] == ["s1/inner"]
    with session.transaction() as tx:
        b = tx.bucket("bkt")
        with pytest.raises(vastdb.SchemaExists):
            b.create_schema("s1")
        b.schema("s1/inner").drop()
        b.schema("s1").rename("s2")
    with session.transaction() as tx:
        b = tx.bucket("bkt")
        assert b.schema("s1", fail_if_missing=False) is None
        assert b.schema("s2") is not None


def test_drop_nonempty_schema_conflicts(clean_schema):
    with clean_schema.transaction() as tx:
        tx.bucket("bkt").schema("s").create_table("t", pa.schema([("a", pa.int64())]))
    with pytest.raises(vastdb.Conflict):
        with clean_schema.transaction() as tx:
            tx.bucket("bkt").schema("s").drop()


# -- imports ---------------------------------------------------------------


def test_import_files_zero_copy(clean_schema):
    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        t = create_table_from_files(s, "li", [f"{SF}/lineitem.parquet"])
        n = pq.ParquetFile(f"{SF}/lineitem.parquet").metadata.num_rows
        assert t.count_rows() == n
        imp = t.imports_table().select().read_all()
        assert imp.column("NumRows").to_pylist() == [n]
        assert imp.column("ObjectName").to_pylist()[0].endswith("lineitem.parquet")
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("li")
        got = t.select(columns=["l_orderkey"], predicate=(D.l_linenumber == 1))
        assert got.read_all().num_rows > 0


def test_import_same_basename_different_dirs(clean_schema, tmp_path):
    """Row-id reconstruction must key on full paths: two imported files
    sharing a basename used to collide in the file->rowid-base map."""
    d1 = tmp_path / "d1"
    d2 = tmp_path / "d2"
    d1.mkdir()
    d2.mkdir()
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), d1 / "data.parquet")
    pq.write_table(pa.table({"a": pa.array([3, 4], pa.int64())}), d2 / "data.parquet")
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("t", pa.schema([("a", pa.int64())]))
        t.import_files([str(d1 / "data.parquet"), str(d2 / "data.parquet")])
        got = t.select(internal_row_id=True).read_all().sort_by("a")
        assert got.column("a").to_pylist() == [1, 2, 3, 4]
        assert got.column("$row_id").to_pylist() == [0, 1, 2, 3]


def test_double_import_rejected(clean_schema):
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "t", pq.ParquetFile(f"{SF}/region.parquet").schema_arrow
        )
        t.import_files([f"{SF}/region.parquet"])
        with pytest.raises(vastdb.InvalidArgument):
            t.import_files([f"{SF}/region.parquet"])


def test_import_partitioned(clean_schema):
    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        base = pq.ParquetFile(f"{SF}/region.parquet").schema_arrow
        schema = base.append(pa.field("batch", pa.string()))
        t = s.create_table("r", schema)
        t.import_partitioned_files({f"{SF}/region.parquet": {"batch": "b1"}})
        got = t.select(columns=["r_name", "batch"]).read_all()
        assert set(got.column("batch").to_pylist()) == {"b1"}
        assert got.num_rows == 5


def test_merge_policies():
    s1 = pa.schema([("a", pa.int64()), ("b", pa.string())])
    s2 = pa.schema([("a", pa.int64())])
    s3 = pa.schema([("c", pa.float64())])
    assert merge_schemas([s1, s2], ImportMergePolicy.containment) == s1
    assert merge_schemas([s1, s1], ImportMergePolicy.strict) == s1
    with pytest.raises(vastdb.InvalidArgument):
        merge_schemas([s1, s2], ImportMergePolicy.strict)
    u = merge_schemas([s2, s3], ImportMergePolicy.union)
    assert u.names == ["a", "c"]
    with pytest.raises(vastdb.InvalidArgument):
        merge_schemas([s2, s3], ImportMergePolicy.containment)


# -- snapshots -------------------------------------------------------------


def test_snapshot_time_travel(clean_schema):
    data = pa.table({"a": pa.array([1, 2, 3], pa.int64())})
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("t", data.schema)
        t.insert(data)
    with clean_schema.transaction() as tx:
        tx.bucket("bkt").create_snapshot("v1")
    with clean_schema.transaction() as tx:
        tx.bucket("bkt").schema("s").table("t").insert(data)
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        assert b.schema("s").table("t").count_rows() == 6
        snap = b.snapshot("v1")
        assert snap.schema("s").table("t").count_rows() == 3
        with pytest.raises(vastdb.NotSupportedCommand):
            snap.schema("s").table("t").insert(data)  # snapshots are read-only
        with pytest.raises(vastdb.MissingSnapshot):
            b.snapshot("nope")
        assert [s.snapshot_name for s in b.snapshots()] == ["v1"]


def test_export_parquet(clean_schema, tmp_path):
    import duckdb

    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        t = create_table_from_files(s, "li", [f"{SF}/lineitem.parquet"])
        out = str(tmp_path / "export")
        from vastdb_sdk_spark import _ as DD

        t.export_parquet(out, columns=["l_orderkey", "l_quantity"], predicate=(DD.l_quantity > 45))
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    exp = duckdb.sql(
        f"SELECT count(*) FROM '{SF}/lineitem.parquet' WHERE l_quantity > 45"
    ).fetchone()[0]
    assert n == exp


def test_fixed_size_list_roundtrip_and_predicate(clean_schema):
    """P9 + F5: fixed-size-list (vector) columns round-trip and are
    filterable (reference: vastdb/tests/test_fixed_list.py)."""
    schema = pa.schema(
        [("id", pa.int64()), ("v", pa.list_(pa.field("item", pa.float32(), False), 2))]
    )
    data = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "v": pa.array([[1.0, 2.0], [3.0, 4.0]], schema.field("v").type),
        }
    )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("v", schema)
        t.insert(data)
        got = t.select().read_all().sort_by("id")
        # storage widens fixed_size_list -> list; values round-trip
        assert got.column("v").to_pylist() == [[1.0, 2.0], [3.0, 4.0]]
        from pyspark.sql import functions as F

        n = t.df().filter(F.array_contains("v", 3.0)).count()
        assert n == 1


def test_forced_missing_projection_raises(clean_schema):
    from vastdb_sdk_spark.config import QueryConfig

    data = pa.table({"a": pa.array([1], pa.int64())})
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("t", data.schema)
        t.insert(data)
        t.create_projection("p", ["a"], [])
        with pytest.raises(vastdb.MissingProjection):
            t.select_df(config=QueryConfig(semi_sorted_projection_name="nope"))


# -- sorted (Elysium) tables ----------------------------------------------


def test_sorted_table_lifecycle(clean_schema):
    data = pa.table(
        {"k": pa.array([5, 3, 1, 4, 2], pa.int64()), "v": pa.array([50, 30, 10, 40, 20], pa.int64())}
    )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("e", data.schema, sorting_key=["k"])
        t.insert(data)
        assert not t.sorting_done()
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("e")
        t.optimize()
        assert t.sorting_done()
        assert t.sorting_score() == 100
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("e")
        got = t.select(predicate=(D.k >= 4)).read_all().sort_by("k")
        assert got.column("v").to_pylist() == [40, 50]
        # row ids preserved through the re-sort
        rid = t.select(internal_row_id=True).read_all().sort_by("k")
        assert rid.column("$row_id").to_pylist() == [2, 4, 1, 3, 0]


def test_add_sorting_key(clean_schema):
    data = pa.table({"k": pa.array([2, 1], pa.int64())})
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("e", data.schema)
        t.insert(data)
        t.add_sorting_key(["k"])
        with pytest.raises(vastdb.NotSupportedCommand):
            t.add_sorting_key(["k"])


# -- semi-sorted projections ----------------------------------------------


def test_projection_lifecycle_and_routing(clean_schema):
    data = pa.table(
        {
            "k": pa.array(list(range(100)), pa.int64()),
            "v": pa.array([i * 2 for i in range(100)], pa.int64()),
            "w": pa.array([str(i) for i in range(100)]),
        }
    )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("p", data.schema)
        t.insert(data)
        t.create_projection("by_k", ["k"], ["v"])
        assert [p.name for p in t.projections()] == ["by_k"]
        assert t.projection("by_k").columns() == ["k", "v"]
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("p")
        # covered query -> routed to projection; results identical
        got = t.select(columns=["v"], predicate=(D.k == 50)).read_all()
        assert got.column("v").to_pylist() == [100]
        # uncovered query (needs w) -> falls back to base files
        got2 = t.select(columns=["w"], predicate=(D.k == 50)).read_all()
        assert got2.column("w").to_pylist() == ["50"]
        # after DML the projection is stale and must not serve wrong data
        t.update(pa.table({"$row_id": pa.array([50], pa.uint64()), "v": pa.array([999], pa.int64())}))
        got3 = t.select(columns=["v"], predicate=(D.k == 50)).read_all()
        assert got3.column("v").to_pylist() == [999]
        assert t.projection("by_k").stale
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("p")
        # rebuild clears staleness and serves the post-DML data
        t.projection("by_k").rebuild()
        assert not t.projection("by_k").stale
        got4 = t.select(columns=["v"], predicate=(D.k == 50)).read_all()
        assert got4.column("v").to_pylist() == [999]
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("p")
        t.projection("by_k").rename("by_k2")
        t.projection("by_k2").drop()
        assert t.projections() == []


def test_projection_split_record_batch_reader(clean_schema):
    """VERDICT r12 #6: the reference exposes a per-split Arrow reader on a
    projection handle (vastdb/table.py:168). Round-trip: multi-file
    projection, split readers partition it disjointly, predicates stay
    inside projection columns, guards are loud."""
    import pytest as _pt

    from vastdb_sdk_spark.errors import InvalidArgument, NotSupportedCommand

    data1 = pa.table(
        {
            "k": pa.array(list(range(100)), pa.int64()),
            "v": pa.array([i * 2 for i in range(100)], pa.int64()),
            "w": pa.array([str(i) for i in range(100)]),
        }
    )
    data2 = pa.table(
        {
            "k": pa.array(list(range(100, 200)), pa.int64()),
            "v": pa.array([i * 2 for i in range(100, 200)], pa.int64()),
            "w": pa.array([str(i) for i in range(100, 200)]),
        }
    )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("psplit", data1.schema)
        t.insert(data1)
        t.create_projection("by_k", ["k"], ["v"])
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("psplit")
        t.insert(data2)  # second file; projection goes stale
        proj = t.projection("by_k")
        with _pt.raises(NotSupportedCommand, match="stale"):
            proj.select_splits()
        proj.rebuild()
        proj = t.projection("by_k")

        # single reader == full projection content
        whole = proj.split_record_batch_reader().read_all()
        assert sorted(whole.column("k").to_pylist()) == list(range(200))
        assert whole.schema.names == ["k", "v"]

        # multi-split: disjoint union equals the whole, schema per split
        readers = proj.select_splits(num_splits=4)
        assert 1 <= len(readers) <= 4
        ks: list[int] = []
        for r in readers:
            tb = r.read_all()
            assert tb.schema.names == ["k", "v"]
            ks.extend(tb.column("k").to_pylist())
        assert sorted(ks) == list(range(200))

        # predicate on projection columns prunes inside splits
        got = [
            x
            for r in proj.select_splits(predicate=(D.k >= 150), num_splits=4)
            for x in r.read_all().column("v").to_pylist()
        ]
        assert sorted(got) == [i * 2 for i in range(150, 200)]

        # guards: out-of-projection column / predicate, bad split index
        with _pt.raises(InvalidArgument):
            proj.select_splits(columns=["w"])
        with _pt.raises(InvalidArgument):
            proj.select_splits(predicate=(D.w == "1"))
        with _pt.raises(InvalidArgument):
            proj.split_record_batch_reader(split=99)


# -- vector search ---------------------------------------------------------


def test_vector_search_exact_topk(clean_schema):
    import numpy as np

    rng = np.random.default_rng(42)
    vecs = rng.random((50, 8)).astype("float32")
    data = pa.table(
        {
            "id": pa.array(range(50), pa.int64()),
            "emb": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        }
    )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "v", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
        q = vecs[0].tolist()
        got = t.vector_search(q, columns=["id"], limit=5)
        dists = ((vecs - vecs[0]) ** 2).sum(axis=1)
        expected = list(np.argsort(dists, kind="stable")[:5])
        assert got.column("id").to_pylist() == [int(i) for i in expected]
        assert got.schema.names == ["id", "vast_pysdk_vector_dist"]
        # with predicate
        got2 = t.vector_search(q, columns=["id"], limit=3, predicate=(D.id >= 10))
        expected2 = [int(i) for i in np.argsort(dists, kind="stable") if i >= 10][:3]
        assert got2.column("id").to_pylist() == expected2


def test_vector_index_ivf_approximate(clean_schema):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.random((200, 16)).astype("float32")
    data = pa.table(
        {
            "id": pa.array(range(200), pa.int64()),
            "emb": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        }
    )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "v", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
        t.build_vector_index(num_centroids=8, seed=42)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("v")
        q = vecs[5].tolist()
        approx = t.vector_search(q, columns=["id"], limit=5, approximate=True, nprobe=3)
        exact = t.vector_search(q, columns=["id"], limit=5)
        # query's own vector always found; decent overlap with exact top-5
        assert approx.column("id").to_pylist()[0] == 5
        overlap = set(approx.column("id").to_pylist()) & set(exact.column("id").to_pylist())
        assert len(overlap) >= 3
        # DML invalidates the index -> approximate falls back to exact
        t.delete(pa.table({"$row_id": pa.array([0], pa.uint64())}))
        assert t.entry.vector_index.get("stale") is True
        fallback = t.vector_search(q, columns=["id"], limit=5, approximate=True)
        assert fallback.column("id").to_pylist() == [
            i for i in exact.column("id").to_pylist() if i != 0
        ][:5] or fallback.num_rows == 5


# -- blob expansion --------------------------------------------------------


def test_blob_expansion(clean_schema):
    data = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "j": pa.array(
                ['{"a": 1, "nested": {"x": "u"}}', '{"a": 2, "nested": {"x": "w"}}']
            ),
        }
    )
    target = pa.schema([("a", pa.int64()), ("nested", pa.struct([("x", pa.string())]))])
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("b", data.schema)
        t.insert(data)
        t.create_blob_expansion("exp", source_column="j", target_schema=target)
        assert t.blob_expansions() == ["exp"]
        df = t.blob_expansion_df("exp")
        rows = {tuple(r) for r in df.collect()}
        assert rows == {
            ('{"a": 1, "nested": {"x": "u"}}', 1, "u"),
            ('{"a": 2, "nested": {"x": "w"}}', 2, "w"),
        }
        assert df.columns == ["j", "a", "nested__x"]
        t.drop_blob_expansion("exp")
        assert t.blob_expansions() == []


def test_blob_expansion_missing_excessive_and_alter(clean_schema):
    data = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "j": pa.array(['{"a": 1, "zz": true}', '{"a": 2, "b": 5}']),
        }
    )
    target = pa.schema([("a", pa.int64()), ("b", pa.int64())])
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("b", data.schema)
        t.insert(data)
        t.create_blob_expansion(
            "exp",
            source_column="j",
            target_schema=target,
            copy_source=False,
            missing_values_column="missing_keys",
            excessive_values_column="extra_keys",
        )
        rows = {r.a: r for r in t.blob_expansion_df("exp").collect()}
        assert rows[1].missing_keys == ["b"] and rows[1].extra_keys == ["zz"]
        assert rows[2].missing_keys == [] and rows[2].extra_keys == []
        t.alter_blob_expansion(
            "exp", add_columns=pa.schema([("zz", pa.bool_())]), drop_columns=["b"]
        )
        df = t.blob_expansion_df("exp")
        assert "zz" in df.columns and "b" not in df.columns
        byid = {r.a: r for r in df.collect()}
        assert byid[1].zz is True and byid[1].missing_keys == []


def test_blob_expansion_alter_idempotent_and_backfills(clean_schema):
    """Reference parity (vastdb/tests/test_blob_expansion.py:105-220):
    add-existing / drop-missing succeed silently, and — the delta our
    derived-view design makes stronger than the reference daemon — a column
    added AFTER rows were inserted is backfilled for those old rows too,
    while a dropped column retires for all rows immediately."""
    old = pa.table(
        {
            "id": pa.array([1], pa.int64()),
            "j": pa.array(['{"a": 1, "b": 10, "c": "old"}']),
        }
    )
    new = pa.table(
        {
            "id": pa.array([2], pa.int64()),
            "j": pa.array(['{"a": 2, "b": 20, "c": "new"}']),
        }
    )
    target = pa.schema([("a", pa.int64()), ("b", pa.int64())])
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("b", old.schema)
        t.insert(old)
        t.create_blob_expansion(
            "exp", source_column="j", target_schema=target, copy_source=False
        )
        # idempotent alters: re-add an existing column, drop a missing one
        t.alter_blob_expansion("exp", add_columns=pa.schema([("a", pa.int64())]))
        t.alter_blob_expansion("exp", drop_columns=["nope"])
        df = t.blob_expansion_df("exp")
        assert df.columns == ["a", "b"]
        # add c / drop b, then insert another row: c is backfilled for the
        # pre-alter row, b is retired for every row
        t.alter_blob_expansion(
            "exp", add_columns=pa.schema([("c", pa.string())]), drop_columns=["b"]
        )
        t.insert(new)
        rows = {r.a: r for r in t.blob_expansion_df("exp").collect()}
        assert set(t.blob_expansion_df("exp").columns) == {"a", "c"}
        assert rows[1].c == "old" and rows[2].c == "new"
        # dropping the same column again is still silent
        t.alter_blob_expansion("exp", drop_columns=["b"])


# -- paginated listings (reference: _internal.py list_* protocol) -----------


def test_paginated_listings(session):
    session.create_bucket("pgb")
    with session.transaction() as tx:
        b = tx.bucket("pgb")
        for i in range(7):
            b.create_schema(f"sc{i:02d}")
        parent = b.schema("sc00")
        for i in range(3):
            parent.create_schema(f"kid{i}")
        s = b.schema("sc01")
        for i in range(9):
            s.create_table(f"t{i:02d}", pa.schema([("a", pa.int64())]))
    with session.transaction() as tx:
        b = tx.bucket("pgb")
        # schema pages: 7 items in pages of 3 -> 3,3,1
        page, key, trunc = b.list_schemas(max_keys=3)
        assert [x.name for x in page] == ["sc00", "sc01", "sc02"] and trunc
        page, key, trunc = b.list_schemas(next_key=key, max_keys=3)
        assert len(page) == 3 and trunc
        page, key, trunc = b.list_schemas(next_key=key, max_keys=3)
        assert len(page) == 1 and not trunc
        # batch_size convenience loops to completion
        assert len(b.schemas(batch_size=2)) == 7
        # prefix + exact match
        page, _, trunc = b.list_schemas(name_prefix="sc0", max_keys=100)
        assert len(page) == 7 and not trunc
        page, _, _ = b.list_schemas(name_prefix="sc03", exact_match=True)
        assert [x.name for x in page] == ["sc03"]
        # nested-schema pages use the short name for matching
        kids, _, trunc = b.schema("sc00").list_schemas(name_prefix="kid", max_keys=2)
        assert [x.name for x in kids] == ["sc00/kid0", "sc00/kid1"] and trunc
        # table pages, names_only, count-only
        s = b.schema("sc01")
        names, key, trunc = s.list_tables(max_keys=4, names_only=True)
        assert names == ["t00", "t01", "t02", "t03"] and trunc
        names2, _, trunc = s.list_tables(next_key=key, max_keys=100, names_only=True)
        assert len(names2) == 5 and not trunc
        assert s.table_count() == 9
        assert len(s.tables(batch_size=2)) == 9
        assert [t.name for t in s.tables("t05")] == ["t05"]
        assert s.tablenames(batch_size=4) == [f"t{i:02d}" for i in range(9)]
        with pytest.raises(ValueError):
            s.list_tables(max_keys=0)


def test_wide_table_column_pagination(session):
    # reference test_tables.py:1430-1464 — wide tables must list columns in
    # pages; names-only path stays cheap
    session.create_bucket("pgw")
    cols = [f"long_f_name{i}" for i in range(2500)]
    schema = pa.schema([(c, pa.int32()) for c in cols])
    with session.transaction() as tx:
        s = tx.bucket("pgw").create_schema("s")
        t = s.create_table("wide", schema)
        assert t.retrieve_column_names() == cols  # default page 1000 -> 3 pages
        page, key, trunc = t.list_columns(max_keys=1000)
        assert len(page) == 1000 and trunc and page[0].name == "long_f_name0"
        page, key, trunc = t.list_columns(next_key=2000, max_keys=1000)
        assert len(page) == 500 and not trunc
        assert t.retrieve_column_names(batch_size=999) == cols


def test_manifest_scale_many_files(tmp_path):
    """Manifest operations at a many-file table (SCALING.md's 200k-file
    claim is measured by tools/manifest_scale_bench.py; this is the pinned
    20k-file regression): serialize/parse/prune/commit all complete, a
    SMALL commit against the big bucket works, and version_at's bisect
    answers from the version-file HEAD without a full manifest parse."""
    import json
    import time

    from vastdb_sdk_spark.catalog.manifest import (
        ChangeSet,
        Manifest,
        ManifestStore,
    )
    from vastdb_sdk_spark.plans.pruning import prune_files
    from tools.manifest_scale_bench import synth_entry

    n = 20_000
    entry = synth_entry(n)
    m = Manifest(version=1)
    m.schemas["s"] = {"properties": {}}
    m.tables[("s", "big")] = entry

    js = json.dumps(m.to_json())
    m2 = Manifest(version=1, data=json.loads(js))
    assert len(m2.tables[("s", "big")].files) == n

    # manifest-level point prune hits exactly one file out of 20k
    hit = prune_files(entry.files, "ts", D.ts == 4_000_000 * (n // 2) + 17)
    assert [f.path for f in hit] == [f"data/part-{n // 2:08d}.parquet"]

    store = ManifestStore(str(tmp_path))
    store.init_bucket()
    cs = ChangeSet()
    cs.record("create_schema", "s", touched=[("schema", "s")])
    cs.record("create_table", entry.to_json(), touched=[("table", "s", "big")])
    committed = store.commit(store.load(), cs)
    assert committed.version == 2

    # small commit against the big bucket: bounded latency, correct result
    cs2 = ChangeSet()
    cs2.record("create_schema", "s2", touched=[("schema", "s2")])
    t0 = time.time()
    v3 = store.commit(store.load(), cs2)
    small_commit = time.time() - t0
    assert v3.version == 3 and "s2" in store.load().schemas
    assert len(store.load().tables[("s", "big")].files) == n
    # generous bound: at 20k files the whole cycle is sub-second measured;
    # 10s trips only on a reintroduced O(files) deep copy or chunked write
    assert small_commit < 10, small_commit

    # version_at fast path: head-read commit times, no full parse
    times = {v: store._commit_time(v) for v in store.available_versions()}
    assert times[2] <= times[3]
    assert store.version_at(times[2]) == 2
    assert store.version_at(time.time() + 1) == 3
    # the head regex actually matched (fast path, not the full-load
    # fallback): committed_at is the second serialized key
    with open(store._version_path(3)) as f:
        head = f.read(64)
    assert store._HEAD_RE.match(head), head


# -- JSONL / CSV ingestion (engine extension) -------------------------------


def test_ingest_jsonl_round_trip(clean_schema, tmp_path, spark):
    from vastdb_sdk_spark.sources import ingest_table_from_files

    src = spark.read.parquet(f"{SF}/documents.parquet")
    dump = str(tmp_path / "dump")
    src.write.mode("overwrite").json(dump)
    import glob

    files = sorted(glob.glob(dump + "/*.json"))
    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        t = ingest_table_from_files(s, "docs", files, format="json")
        assert t.count_rows() == src.count()
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("docs")
        got = t.select_df(columns=["doc_id", "text", "lang"]).orderBy("doc_id")
        want = src.select("doc_id", "text", "lang").orderBy("doc_id")
        assert got.collect() == want.collect()
        # predicate pushdown works on ingested data like native tables
        assert (
            t.select_df(columns=["doc_id"])
            .filter("doc_id < 10")
            .count()
            == src.filter("doc_id < 10").count()
        )


def test_ingest_csv_with_explicit_schema_and_partitioning(
    clean_schema, tmp_path, spark
):
    import pyarrow as _pa

    from vastdb_sdk_spark.sources import ingest_table_from_files

    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)],
        "id LONG, grp STRING, val DOUBLE",
    )
    dump = str(tmp_path / "csvdump")
    src.write.mode("overwrite").option("header", "true").csv(dump)
    import glob

    files = sorted(glob.glob(dump + "/*.csv"))
    schema = _pa.schema(
        [("id", _pa.int64()), ("grp", _pa.utf8()), ("val", _pa.float64())]
    )
    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        t = ingest_table_from_files(
            s, "c", files, format="csv", arrow_schema=schema, partition_by=["grp"]
        )
        assert t.count_rows() == 3
        assert t.arrow_schema == schema
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("c")
        rows = t.select_df().orderBy("id").collect()
        assert [r.id for r in rows] == [1, 2, 3]
        # partition pruning: the grp='a' scan reads only that partition
        assert {r.grp for r in t.select_df().filter("grp = 'a'").collect()} == {"a"}


def test_ingest_validation_errors(clean_schema):
    from vastdb_sdk_spark.sources import ingest_table_from_files

    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        with pytest.raises(vastdb.InvalidArgument, match="format"):
            ingest_table_from_files(s, "x", ["f.parquet"], format="parquet")
        with pytest.raises(vastdb.InvalidArgument, match="no input files"):
            ingest_table_from_files(s, "x", [], format="json")


# -- change feed (CDF-style incremental read) -------------------------------


def test_read_changes_insert_delete_update(clean_schema):
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "cf", pa.schema([("a", pa.int64()), ("s", pa.string())])
        )
        t.insert(pa.table({"a": [1, 2, 3], "s": ["one", "two", "three"]}))
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        v1 = b.manifest.version
        t = b.schema("s").table("cf")
        t.delete_where(D.a == 2)
        t.update_where(D.a == 3, {"s": "THREE"})
        t.insert(pa.table({"a": [4], "s": ["four"]}))
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        v2 = b.manifest.version
        t = b.schema("s").table("cf")
        rows = t.read_changes(v1, v2).collect()
        by_type = {}
        for r in rows:
            by_type.setdefault(r._change_type, []).append((r.a, r.s))
        assert by_type["insert"] == [(4, "four")]
        assert by_type["delete"] == [(2, "two")]
        assert by_type["update_preimage"] == [(3, "three")]
        assert by_type["update_postimage"] == [(3, "THREE")]
        # row 1 is untouched: absent from the feed
        assert all(r.a != 1 for r in rows)
        # pre/post share the stable row id
        pre = [r._row_id for r in rows if r._change_type == "update_preimage"]
        post = [r._row_id for r in rows if r._change_type == "update_postimage"]
        assert pre == post
        # to_version defaults to current
        assert len(t.read_changes(v1).collect()) == len(rows)


def test_read_changes_rewrites_report_nothing(clean_schema):
    """Compaction rewrites every file without logical change — the
    row-identity diff must report ZERO rows (a file-level diff would
    report the whole table as churn)."""
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "cmp", pa.schema([("a", pa.int64())])
        )
        for i in range(4):
            t.insert(pa.table({"a": list(range(i * 10, i * 10 + 10))}))
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        v1 = b.manifest.version
        t = b.schema("s").table("cmp")
        assert t.compact(target_file_rows=100) > 0
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        t = b.schema("s").table("cmp")
        assert t.read_changes(v1).count() == 0


def test_read_changes_schema_evolution_raises(clean_schema):
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "ev", pa.schema([("a", pa.int64())])
        )
        t.insert(pa.table({"a": [1]}))
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        v1 = b.manifest.version
        b.schema("s").table("ev").add_column(pa.field("b", pa.int64()))
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("ev")
        with pytest.raises(vastdb.InvalidArgument, match="schema"):
            t.read_changes(v1)


def test_consume_changes_exactly_once(clean_schema):
    """Cursor-based feed consumption: first call bootstraps (empty feed,
    cursor at current), each later call returns exactly the span since the
    last COMMITTED consumption, and a rolled-back consumption replays."""
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "cc", pa.schema([("a", pa.int64())])
        )
        t.insert(pa.table({"a": [1, 2]}))
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("cc")
        assert t.consume_changes("etl").count() == 0  # bootstrap
    with clean_schema.transaction() as tx:
        tx.bucket("bkt").schema("s").table("cc").insert(pa.table({"a": [3]}))
    # rolled-back consumption must not advance the cursor
    try:
        with clean_schema.transaction() as tx:
            t = tx.bucket("bkt").schema("s").table("cc")
            assert t.consume_changes("etl").count() == 1
            raise RuntimeError("abort")
    except RuntimeError:
        pass
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("cc")
        feed = t.consume_changes("etl").collect()
        assert [(r.a, r._change_type) for r in feed] == [(3, "insert")]
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("cc")
        assert t.consume_changes("etl").count() == 0  # drained


def test_read_changes_reconciles_random_dml(clean_schema):
    """Reconciliation property: for every committed version step,
    state(v_prev) + feed(v_prev, v_cur) == state(v_cur) — applied by
    _row_id (delete preimages and update pairs keyed on the stable id).
    Runs a mixed DML sequence including an insert-heavy step and a
    compaction (which must contribute nothing to the feed)."""

    def table_state(t):
        return {
            r._1: r._2
            for r in t.df(internal_row_id=True)
            .selectExpr("`$row_id` as _1", "named_struct('a', a, 's', s) as _2")
            .collect()
        }

    def apply_feed(state, feed_rows):
        out = dict(state)
        for r in feed_rows:
            if r._change_type == "insert":
                out[r._row_id] = {"a": r.a, "s": r.s}
            elif r._change_type == "delete":
                del out[r._row_id]
            elif r._change_type == "update_postimage":
                out[r._row_id] = {"a": r.a, "s": r.s}
        return out

    versions = []
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "rec", pa.schema([("a", pa.int64()), ("s", pa.string())])
        )
        t.insert(pa.table({"a": list(range(20)), "s": [f"v{i}" for i in range(20)]}))

    ops = [
        lambda t: t.delete_where(D.a % 3 == 0),
        lambda t: t.update_where(D.a % 5 == 1, {"s": "UPD"}),
        lambda t: t.insert(pa.table({"a": [100, 101], "s": ["x", "y"]})),
        lambda t: t.compact(target_file_rows=1000),
        lambda t: (t.delete_where(D.a == 100), t.update_where(D.a == 101, {"a": -1}))[0],
    ]
    for op in ops:
        with clean_schema.transaction() as tx:
            b = tx.bucket("bkt")
            versions.append(b.manifest.version)
            op(b.schema("s").table("rec"))
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        versions.append(b.manifest.version)
        t = b.schema("s").table("rec")
        for v_prev, v_cur in zip(versions, versions[1:]):
            old_t = b.as_of(version=v_prev).schema("s").table("rec")
            new_t = b.as_of(version=v_cur).schema("s").table("rec")
            feed = t.read_changes(v_prev, v_cur).collect()
            # update images come in matched pre/post pairs
            pre = sorted(r._row_id for r in feed if r._change_type == "update_preimage")
            post = sorted(r._row_id for r in feed if r._change_type == "update_postimage")
            assert pre == post
            got = apply_feed(
                {k: dict(v.asDict()) for k, v in table_state(old_t).items()},
                feed,
            )
            want = {k: dict(v.asDict()) for k, v in table_state(new_t).items()}
            assert got == want, (v_prev, v_cur)


def test_read_changes_refused_past_vacuum_horizon(clean_schema):
    """A feed span starting before the vacuum horizon binds as_of to a
    version whose files may be gone — refused at bind time (the consumer
    re-bootstraps), never a mid-scan file-not-found."""
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "vh", pa.schema([("a", pa.int64())])
        )
        t.insert(pa.table({"a": [1, 2, 3]}))
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        v1 = b.manifest.version
        t = b.schema("s").table("vh")
        t.update_where(D.a == 2, {"a": -2})  # rewrites a file
    clean_schema.vacuum("bkt")
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vh")
        with pytest.raises(vastdb.MissingSnapshot):
            t.read_changes(v1)


def test_read_changes_inverted_span_raises(clean_schema):
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "inv", pa.schema([("a", pa.int64())])
        )
        t.insert(pa.table({"a": [1]}))
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        v = b.manifest.version
        t = b.schema("s").table("inv")
        with pytest.raises(vastdb.InvalidArgument, match="inverted"):
            t.read_changes(v, v - 1)


def test_ingest_orc_round_trip(clean_schema, tmp_path, spark):
    from vastdb_sdk_spark.sources import ingest_table_from_files

    src = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id LONG, s STRING"
    )
    dump = str(tmp_path / "orcdump")
    src.write.mode("overwrite").orc(dump)
    import glob

    files = sorted(glob.glob(dump + "/*.orc"))
    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        t = ingest_table_from_files(s, "o", files, format="orc")
        assert t.count_rows() == 2
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("o")
        assert [r.s for r in t.select_df().orderBy("id").collect()] == ["a", "b"]


def test_export_files_formats(clean_schema, tmp_path, spark):
    import pyarrow as _pa

    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "ex", _pa.schema([("a", _pa.int64()), ("s", _pa.string())])
        )
        t.insert(pa.table({"a": [1, 2], "s": ["x", "y"]}))
        t.export_files(str(tmp_path / "j"), format="json")
        t.export_files(str(tmp_path / "c"), format="csv")
        t.export_files(str(tmp_path / "o"), format="orc", predicate=D.a == 2)
        with pytest.raises(vastdb.InvalidArgument, match="export format"):
            t.export_files(str(tmp_path / "bad"), format="avro")
    assert spark.read.json(str(tmp_path / "j")).count() == 2
    assert spark.read.option("header", "true").csv(str(tmp_path / "c")).count() == 2
    assert [r.a for r in spark.read.orc(str(tmp_path / "o")).collect()] == [2]


def test_read_changes_map_column_order_invariant(clean_schema):
    """to_json emits map entries in PHYSICAL order, so the change feed's
    content hash must canonicalize maps: a rewrite that re-materializes a
    map with its entries reordered is NOT churn, while a genuine value
    change still reports an update pre/post pair."""
    from pyspark.sql import functions as F

    schema = pa.schema(
        [
            ("a", pa.int64()),
            ("m", pa.map_(pa.string(), pa.int64())),
            ("nested", pa.struct([("inner", pa.map_(pa.string(), pa.int64()))])),
        ]
    )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("mapcf", schema)
        t.insert(
            pa.table(
                {
                    "a": [1, 2],
                    "m": pa.array(
                        [[("x", 1), ("y", 2)], [("k", 9)]],
                        type=pa.map_(pa.string(), pa.int64()),
                    ),
                    "nested": pa.array(
                        [{"inner": [("p", 1), ("q", 2)]}, {"inner": [("r", 3)]}],
                        type=schema.field("nested").type,
                    ),
                }
            )
        )

    def _map_lit(pairs):
        return F.map_from_entries(
            F.array(*[F.struct(F.lit(k).alias("key"), F.lit(v).alias("value")) for k, v in pairs])
        )

    # rewrite row 1's map with entries REORDERED but logically identical
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        v1 = b.manifest.version
        t = b.schema("s").table("mapcf")
        t.update_where(D.a == 1, {"m": _map_lit([("y", 2), ("x", 1)])})
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        t = b.schema("s").table("mapcf")
        assert t.read_changes(v1).count() == 0, (
            "reordered-but-equal map misreported as churn"
        )

    # genuine value change is still reported
    with clean_schema.transaction() as tx:
        b = tx.bucket("bkt")
        v2 = b.manifest.version
        t = b.schema("s").table("mapcf")
        t.update_where(D.a == 1, {"m": _map_lit([("x", 1), ("y", 99)])})
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("mapcf")
        rows = t.read_changes(v2).collect()
        kinds = sorted(r._change_type for r in rows)
        assert kinds == ["update_postimage", "update_preimage"]
        post = [r for r in rows if r._change_type == "update_postimage"][0]
        assert dict(post.m) == {"x": 1, "y": 99}


def _vec_table(n=300, dim=16, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    vecs = rng.random((n, dim)).astype("float32")
    return vecs, pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "emb": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        }
    )


def test_vector_index_ivfpq_persists_across_sessions(session, spark, tmp_path):
    """build_vector_index(kind='ivfpq') stores centroids in the manifest
    and PQ codebooks in a sidecar; a FRESH session object on the same
    warehouse must return the bit-identical search result — the index
    survives the session, not just the process."""
    import numpy as np

    import vastdb_sdk_spark as vastdb

    vecs, data = _vec_table()
    with session.transaction() as tx:
        t = tx.bucket("bkt").create_schema("s").create_table(
            "v", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
        t.build_vector_index(
            kind="ivfpq", num_centroids=4, num_subspaces=4, seed=42
        )
    q = vecs[5].tolist()
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("v")
        got1 = t.vector_search(
            q, columns=["id"], limit=5, approximate=True, nprobe=2, rerank=25
        )
        exact = t.vector_search(q, columns=["id"], limit=5)
    assert got1.num_rows == 5
    # reranked distances are TRUE squared-L2: ids shared with exact carry
    # identical distances
    e = dict(zip(exact.column("id").to_pylist(), exact.column(1).to_pylist()))
    for i, d in zip(got1.column("id").to_pylist(), got1.column(1).to_pylist()):
        if i in e:
            assert abs(d - e[i]) < 1e-9
    assert len(set(got1.column("id").to_pylist()) & set(e)) >= 3

    # fresh session object, same warehouse -> identical result
    s2 = vastdb.connect(str(tmp_path / "warehouse"), spark=spark)
    with s2.transaction() as tx:
        t2 = tx.bucket("bkt").schema("s").table("v")
        assert t2.entry.vector_index.get("kind") == "ivfpq"
        got2 = t2.vector_search(
            q, columns=["id"], limit=5, approximate=True, nprobe=2, rerank=25
        )
        assert got2.column("id").to_pylist() == got1.column("id").to_pylist()
        assert got2.column(1).to_pylist() == got1.column(1).to_pylist()

        # DML marks it stale -> falls back to exact (still 5 rows)
        t2.insert(pa.table({"id": pa.array([9999], pa.int64()),
                            "emb": pa.array([[0.0] * 16], pa.list_(pa.float32()))}))
        assert t2.entry.vector_index.get("stale") is True
        fb = t2.vector_search(q, columns=["id"], limit=5, approximate=True)
        assert fb.num_rows == 5


def test_vector_index_flat_pq_and_validation(clean_schema):
    vecs, data = _vec_table(n=120, dim=8, seed=3)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "vpq", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
        t.build_vector_index(kind="pq", num_subspaces=4, seed=42)
    q = vecs[11].tolist()
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vpq")
        got = t.vector_search(
            q, columns=["id"], limit=5, approximate=True, rerank=30
        )
        exact = t.vector_search(q, columns=["id"], limit=5)
        assert got.num_rows == 5
        assert got.column("id").to_pylist()[0] == 11  # own vector found
        assert len(set(got.column("id").to_pylist())
                   & set(exact.column("id").to_pylist())) >= 3
        # predicate pushes into the ADC scan
        flt = t.vector_search(
            q, columns=["id"], limit=3, predicate=(D.id >= 50),
            approximate=True, rerank=30,
        )
        assert all(i >= 50 for i in flt.column("id").to_pylist())

    with clean_schema.transaction() as tx:
        with pytest.raises(vastdb.InvalidArgument, match="kind"):
            tx.bucket("bkt").schema("s").table("vpq").build_vector_index(kind="hnsw")
        cos = tx.bucket("bkt").schema("s").create_table(
            "vcos", data.schema, vector_index={"column": "emb", "metric": "cosine"}
        )
        cos.insert(data)
        with pytest.raises(vastdb.NotSupportedCommand, match="ADC"):
            cos.build_vector_index(kind="ivfpq")


def test_vacuum_keeps_live_vector_index_files(clean_schema):
    """VACUUM must treat the live index's cluster files as referenced —
    deleting them would leave the manifest routing approximate searches
    to missing paths."""
    vecs, data = _vec_table(n=100, dim=8, seed=1)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "vv", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
        t.build_vector_index(num_centroids=4, seed=42)
    clean_schema.vacuum("bkt")
    q = vecs[0].tolist()
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vv")
        assert not t.entry.vector_index.get("stale")
        got = t.vector_search(q, columns=["id"], limit=5, approximate=True, nprobe=2)
        assert got.num_rows == 5


def test_refresh_vector_index_incremental_equals_rebuild(clean_schema):
    """DML + incremental refresh must leave the SAME cluster contents a
    frozen-centroid reassignment of the current table would produce, while
    rewriting ONLY removal-touched clusters (untouched clusters keep
    their file paths verbatim — the churn-bounded cost claim)."""
    import numpy as np

    from vastdb_sdk_spark.operators.similarity import assign_probe_centroids

    vecs, data = _vec_table(n=240, dim=8, seed=11)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "vr", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
    with clean_schema.transaction() as tx:  # clean committed state
        t = tx.bucket("bkt").schema("s").table("vr")
        t.build_vector_index(num_centroids=6, seed=42)
        assert t.entry.vector_index["built_version"] is not None
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vr")
        before = [dict(f) for f in t.entry.vector_index["files"]]
        t.delete_where(D.id == 7)  # narrow churn: most clusters untouched
        t.update_where(D.id == 100, {"emb": [0.5] * 8})
        t.insert(pa.table({
            "id": pa.array([1000, 1001], pa.int64()),
            "emb": pa.array([[0.9] * 8, [0.1] * 8], pa.list_(pa.float32())),
        }))
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vr")
        assert t.entry.vector_index["stale"] is True
        res = t.refresh_vector_index(mode="incremental")
        assert res["mode"] == "incremental"
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vr")
        vi = t.entry.vector_index
        assert not vi["stale"]
        # expected: frozen-centroid assignment of the CURRENT table
        cents = np.asarray(vi["centroids"])
        exp = {
            (r["$row_id"], r.centroid_id)
            for r in assign_probe_centroids(
                t.select_df(internal_row_id=True).select("$row_id", "emb"),
                cents, "emb", 1,
            ).collect()
        }
        got = set()
        for f in vi["files"]:
            got |= {
                (r.id_phys, f["centroid_id"])
                for r in t.spark.read.parquet(f["path"])
                .selectExpr("`_vastdb_row_id` AS id_phys")
                .collect()
            }
        assert got == exp
        # untouched clusters keep every pre-refresh file verbatim (additions
        # append NEW files; only removal-touched clusters are rewritten)
        touched = set(res["rewritten_clusters"])
        assert touched and len(touched) < 6  # narrow churn by construction
        after_paths = {f["path"] for f in vi["files"]}
        untouched_old = [f for f in before if f["centroid_id"] not in touched]
        assert untouched_old
        assert all(f["path"] in after_paths for f in untouched_old)
        # search still serves
        q = vecs[50].tolist()
        out = t.vector_search(q, columns=["id"], limit=5, approximate=True, nprobe=3)
        assert out.num_rows == 5
        # noop on a second refresh
        assert t.refresh_vector_index()["mode"] == "noop"


def test_refresh_vector_index_ivfpq_frozen_codebooks(clean_schema):
    """IVF-PQ incremental refresh encodes the ADDED rows with the index's
    ORIGINAL codebooks (never a refit), and final contents equal the
    frozen-parameter encode of the current table."""
    import numpy as np

    from vastdb_sdk_spark.operators.similarity import (
        assign_probe_centroids,
        ivfpq_encode,
    )

    vecs, data = _vec_table(n=200, dim=8, seed=23)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "vq", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
    with clean_schema.transaction() as tx:
        tx.bucket("bkt").schema("s").table("vq").build_vector_index(
            kind="ivfpq", num_centroids=4, num_subspaces=4, seed=42
        )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vq")
        t.delete_where(D.id % 10 == 3)
        t.insert(pa.table({
            "id": pa.array([5000], pa.int64()),
            "emb": pa.array([[0.7] * 8], pa.list_(pa.float32())),
        }))
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vq")
        assert t.refresh_vector_index()["mode"] == "incremental"
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vq")
        vi = t.entry.vector_index
        cents = np.asarray(vi["centroids"])
        books = t._load_codebooks()
        cur = assign_probe_centroids(
            t.select_df(internal_row_id=True).select("$row_id", "emb"),
            cents, "emb", 1,
        )
        exp = {
            r["$row_id"]: (r.centroid_id, tuple(r.pq_codes))
            for r in ivfpq_encode(cur, cents, books, vec_col="emb").collect()
        }
        got = {}
        for f in vi["files"]:
            for r in t.spark.read.parquet(f["path"]).selectExpr(
                "`_vastdb_row_id` AS rid", "pq_codes"
            ).collect():
                got[r.rid] = (f["centroid_id"], tuple(r.pq_codes))
        assert got == exp


def test_refresh_vector_index_fallbacks(clean_schema):
    """Index built alongside uncommitted DML has no refresh anchor. While
    no DML follows, it is current (noop); once DML commits,
    mode='incremental' raises, mode='auto' falls back to a full rebuild."""
    vecs, data = _vec_table(n=80, dim=8, seed=5)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "vf", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
        t.build_vector_index(num_centroids=4, seed=1)  # same-tx DML
        assert t.entry.vector_index["built_version"] is None
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vf")
        assert t.refresh_vector_index(mode="incremental")["mode"] == "noop"
        t.delete_where(D.id == 0)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vf")
        with pytest.raises(vastdb.NotSupportedCommand, match="uncommitted"):
            t.refresh_vector_index(mode="incremental")
        assert t.refresh_vector_index(mode="auto")["mode"] == "full"
        assert t.entry.vector_index["built_version"] is not None


_DERIVED = {
    "projection": (
        lambda t: t.create_projection("p", ["k"], ["v"]),
        lambda t, mode: t.projection("p").refresh(mode),
    ),
    "matview": (
        lambda t: t.create_materialized_view("mv", ["k"], {"n": "count"}),
        lambda t, mode: t.materialized_view("mv").refresh(mode),
    ),
    "vector_index": (
        lambda t: t.build_vector_index(num_centroids=2, seed=1),
        lambda t, mode: t.refresh_vector_index(mode),
    ),
}


@pytest.mark.parametrize("kind", sorted(_DERIVED))
def test_derived_structure_refresh_contract(clean_schema, kind):
    """The refresh lifecycle every derived structure shares: an unknown
    mode is refused; a fresh structure is current, even one built in the
    same transaction as DML (no built_version anchor); with DML staged in
    the refreshing transaction, 'incremental' refuses and 'auto'
    rebuilds."""
    build, refresh = _DERIVED[kind]
    data = pa.table({
        "k": pa.array([i % 5 for i in range(40)], pa.int64()),
        "v": pa.array(range(40), pa.int64()),
        "emb": pa.array([[float(i % 7), 1.0] for i in range(40)],
                        pa.list_(pa.float32())),
    })
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "d", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
        build(t)  # same-tx DML: no anchor
        with pytest.raises(vastdb.InvalidArgument, match="unknown refresh mode"):
            refresh(t, "sometimes")
        assert refresh(t, "incremental")["mode"] == "noop"
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("d")
        assert refresh(t, "auto")["mode"] == "noop"
        assert refresh(t, "full")["mode"] == "full"  # anchored build
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("d")
        t.insert(data.slice(0, 1))
        with pytest.raises(vastdb.NotSupportedCommand, match="staged DML"):
            refresh(t, "incremental")
        assert refresh(t, "auto")["mode"] == "full"


def test_refresh_with_staged_dml_forces_full(clean_schema):
    """DML staged in the SAME transaction is invisible to the change feed
    (it spans committed versions only), so an incremental refresh there
    would clear `stale` while silently missing the staged rows. The
    guard: mode='incremental' raises, mode='auto' routes to a full
    rebuild — which scans the staged state and therefore indexes the
    staged rows."""
    vecs, data = _vec_table(n=80, dim=8, seed=9)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "vsg", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
    with clean_schema.transaction() as tx:  # clean committed build
        t = tx.bucket("bkt").schema("s").table("vsg")
        t.build_vector_index(num_centroids=4, seed=42)
        assert t.entry.vector_index["built_version"] is not None
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("vsg")
        # staged, uncommitted DML: the feed cannot see this row
        t.insert(pa.table({
            "id": pa.array([9000], pa.int64()),
            "emb": pa.array([[0.42] * 8], pa.list_(pa.float32())),
        }))
        assert t.entry.vector_index["stale"] is True
        with pytest.raises(vastdb.NotSupportedCommand, match="staged DML"):
            t.refresh_vector_index(mode="incremental")
        assert t.refresh_vector_index(mode="auto")["mode"] == "full"
        # the full rebuild indexed the staged row: an approximate search
        # at its exact vector must surface it
        got = t.vector_search(
            [0.42] * 8, columns=["id"], limit=1, approximate=True, nprobe=4
        )
        assert got.column("id").to_pylist() == [9000]


def test_projection_refresh_with_staged_dml_forces_full(clean_schema):
    """Projection twin of the staged-DML guard: a staged insert in this
    transaction must not be silently dropped by an incremental refresh
    that reads only the committed feed span."""
    data = pa.table(
        {
            "k": pa.array(list(range(50)), pa.int64()),
            "v": pa.array([i * 2 for i in range(50)], pa.int64()),
        }
    )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("prs", data.schema)
        t.insert(data)
    with clean_schema.transaction() as tx:  # clean committed build
        t = tx.bucket("bkt").schema("s").table("prs")
        t.create_projection("by_k", ["k"], ["v"])
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("prs")
        t.insert(pa.table({"k": pa.array([777], pa.int64()),
                           "v": pa.array([1554], pa.int64())}))
        p = t.projection("by_k")
        assert p.stale
        with pytest.raises(vastdb.NotSupportedCommand, match="staged DML"):
            p.refresh(mode="incremental")
        assert p.refresh(mode="auto")["mode"] == "full"
        got = t.select(columns=["v"], predicate=(D.k == 777)).read_all()
        assert got.column("v").to_pylist() == [1554]


def test_projection_incremental_refresh_append_only(clean_schema):
    """Append-only DML + Projection.refresh materializes ONLY the insert
    delta as new projection files (old files kept verbatim); a span with
    deletes/updates forces a full rebuild. Routed queries serve the
    refreshed data identically to the base files."""
    data = pa.table(
        {
            "k": pa.array(list(range(100)), pa.int64()),
            "v": pa.array([i * 2 for i in range(100)], pa.int64()),
        }
    )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("pr", data.schema)
        t.insert(data)
    with clean_schema.transaction() as tx:  # clean committed build
        t = tx.bucket("bkt").schema("s").table("pr")
        t.create_projection("by_k", ["k"], ["v"])
        assert t.entry.projections["by_k"]["built_version"] is not None
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pr")
        before = [f["path"] for f in t.entry.projections["by_k"]["files"]]
        t.insert(pa.table({"k": pa.array([500, 501], pa.int64()),
                           "v": pa.array([1000, 1002], pa.int64())}))
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pr")
        p = t.projection("by_k")
        assert p.stale
        res = p.refresh(mode="incremental")
        assert res["mode"] == "incremental" and res["appended_files"] >= 1
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pr")
        cfg = t.entry.projections["by_k"]
        assert not cfg["stale"]
        paths = [f["path"] for f in cfg["files"]]
        assert paths[: len(before)] == before  # old files untouched
        got = t.select(columns=["v"], predicate=(D.k == 501)).read_all()
        assert got.column("v").to_pylist() == [1002]
        assert t.projection("by_k").refresh()["mode"] == "noop"

    # a delete in the span forces full rebuild (and incremental raises)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pr")
        t.delete_where(D.k == 0)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pr")
        p = t.projection("by_k")
        with pytest.raises(vastdb.NotSupportedCommand, match="deletes"):
            p.refresh(mode="incremental")
        assert p.refresh(mode="auto")["mode"] == "full"
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pr")
        got = t.select(columns=["v"], predicate=(D.k == 0)).read_all()
        assert got.num_rows == 0


def test_refresh_flat_pq_append_only_and_removal_fallback(clean_schema):
    """Flat PQ refresh: an append-only span encodes the delta with the
    FROZEN codebooks and appends files; a span with removals falls back
    to a full rebuild (codes aren't clustered, so removal targeting
    would scan the whole index anyway) — and mode='incremental' raises."""
    vecs, data = _vec_table(n=100, dim=8, seed=9)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "pqr", data.schema, vector_index={"column": "emb", "metric": "l2sq"}
        )
        t.insert(data)
    with clean_schema.transaction() as tx:
        tx.bucket("bkt").schema("s").table("pqr").build_vector_index(
            kind="pq", num_subspaces=4, seed=42
        )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pqr")
        before = [f["path"] for f in t.entry.vector_index["files"]]
        t.insert(pa.table({"id": pa.array([7000], pa.int64()),
                           "emb": pa.array([[0.3] * 8], pa.list_(pa.float32()))}))
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pqr")
        assert t.refresh_vector_index(mode="incremental")["mode"] == "incremental"
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pqr")
        vi = t.entry.vector_index
        paths = [f["path"] for f in vi["files"]]
        assert paths[: len(before)] == before  # old files untouched
        got = t.vector_search([0.3] * 8, columns=["id"], limit=3,
                              approximate=True, rerank=20)
        assert got.column("id").to_pylist()[0] == 7000  # new row searchable
        # removal in the span -> incremental refuses, auto rebuilds
        t.delete_where(D.id == 0)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("pqr")
        with pytest.raises(vastdb.NotSupportedCommand, match="removals"):
            t.refresh_vector_index(mode="incremental")
        assert t.refresh_vector_index()["mode"] == "full"
        got = t.vector_search(vecs[1].tolist(), columns=["id"], limit=3,
                              approximate=True, rerank=20)
        assert 0 not in got.column("id").to_pylist()


def test_session_page_size_default(spark, tmp_path):
    """Session(page_size=) sets the default page for EVERY paginated
    listing (reference 2.0.12: session-level pagination config); per-call
    max_keys still overrides it."""
    session = vastdb.connect(str(tmp_path / "wh"), spark=spark, page_size=2)
    session.create_bucket("bkt")
    with session.transaction() as tx:
        b = tx.bucket("bkt")
        sc = b.create_schema("s0")
        for i in range(5):
            b.create_schema(f"s{i + 1}")
            sc.create_schema(f"inner{i}")
            sc.create_table(f"t{i}", pa.schema([("a", pa.int64())]))
    with session.transaction() as tx:
        b = tx.bucket("bkt")
        page, key, truncated = b.list_schemas()
        assert len(page) == 2 and truncated  # session default applies
        page2, _, _ = b.list_schemas(max_keys=4)
        assert len(page2) == 4  # per-call override wins
        sc = b.schema("s0")
        tpage, _, ttrunc = sc.list_tables()
        assert len(tpage) == 2 and ttrunc
        spage, _, strunc = sc.list_schemas()
        assert len(spage) == 2 and strunc
        cpage, ckey, ctrunc = sc.table("t0").list_columns()
        assert len(cpage) == 1 and not ctrunc  # table narrower than page
        # full drains still see everything
        assert len(b.schemas()) == 6
    with pytest.raises(ValueError, match="page_size"):
        vastdb.connect(str(tmp_path / "wh2"), spark=spark, page_size=0)


def test_import_many_files_distributed_footer_scan(session, tmp_path):
    """Above FOOTER_SCAN_PARALLEL_MIN files the import reads footers in a
    Spark job instead of a driver loop — registered rows, row-id bases,
    stats and dedup detection must be identical to the sequential path."""
    import vastdb_sdk_spark.table as tbl_mod

    paths = []
    for i in range(tbl_mod.FOOTER_SCAN_PARALLEL_MIN + 6):
        p = tmp_path / f"part{i:03d}.parquet"
        pq.write_table(
            pa.table({"a": pa.array([i * 10, i * 10 + 1], pa.int64()),
                      "b": pa.array([f"x{i}", f"y{i}"])}),
            p,
        )
        paths.append(str(p))
    with session.transaction() as tx:
        sc = tx.bucket("bkt").create_schema("imp")
        t = sc.create_table(
            "many", pa.schema([("a", pa.int64()), ("b", pa.string())]),
            sorting_key=["a"],
        )
        t.import_files(paths)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("imp").table("many")
        n = len(paths)
        assert t.count_rows() == 2 * n
        assert len(t.entry.files) == n
        # row-id bases follow import order contiguously
        bases = [fe.row_id_base for fe in t.entry.files]
        assert bases == sorted(bases) and bases[0] == 0
        # footer min/max stats captured for the sorting key
        fe0 = t.entry.files[0]
        assert fe0.col_stats.get("a") == [0, 1]
        # point read lands correctly across the many files
        got = t.select(columns=["b"], predicate=(D.a == 641)).read_all()
        assert got.column("b").to_pylist() == ["y64"]
        # re-import of any member is still rejected
        with pytest.raises(vastdb.InvalidArgument, match="already imported"):
            t.import_files([paths[3]])


def test_import_rejects_type_mismatch(session, tmp_path):
    """A file whose column TYPE conflicts with the table schema must fail
    the import with a clear error, not poison later scans."""
    p = tmp_path / "bad.parquet"
    pq.write_table(pa.table({"a": pa.array(["not", "an", "int"])}), p)
    with session.transaction() as tx:
        t = tx.bucket("bkt").create_schema("timp").create_table(
            "t", pa.schema([("a", pa.int64())])
        )
        with pytest.raises(vastdb.InvalidArgument, match="has type"):
            t.import_files([str(p)])
    # and a matching-typed file still imports fine afterwards
    good = tmp_path / "good.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), good)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("timp").table("t")
        t.import_files([str(good)])
        assert t.count_rows() == 3
