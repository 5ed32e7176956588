"""Table.select() and exact vector_search() have two read routes over the
same files: a small read runs on the driver in pyarrow with no Spark job,
any other read is one Spark job. ``ARROW_READ_MAX_ROWS`` at 0 forces every
read onto Spark. Both routes must give the same schema and the same rows:

- a hypothesis fuzz of predicate trees over every engine column type,
  with NaN, +-inf, -0.0 and null in the data and literals of every kind
  (each comparison with no exact Arrow twin keeps the Spark route);
- fixed cases for ``$row_id``, deletion vectors, renamed, imported and
  added columns, hive and import partitions, limits, projections and the
  four vector metrics;
- Spark job counts: 0 per small read, 1 with the bound at 0;
- a reader pins its snapshot at construction on both routes.
"""

from __future__ import annotations

import datetime as dt
import decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import vastdb_sdk_spark as vastdb
from vastdb_sdk_spark import _ as D
from vastdb_sdk_spark import table as table_mod

UTC = dt.timezone.utc
NY = "America/New_York"
STRUCT = pa.struct([("q", pa.int32()), ("r", pa.float64()), ("w", pa.string())])
SCHEMA = pa.schema(
    [
        ("k", pa.int64()),
        ("i8", pa.int8()),
        ("i32", pa.int32()),
        ("u8", pa.uint8()),
        ("u64", pa.uint64()),
        ("f32", pa.float32()),
        ("f64", pa.float64()),
        ("dec", pa.decimal128(10, 2)),
        ("s", pa.string()),
        ("b", pa.bool_()),
        ("d", pa.date32()),
        ("ts", pa.timestamp("us")),
        ("tz", pa.timestamp("us", tz=NY)),
        ("st", STRUCT),
    ]
)
FLOATS = [0.0, -0.0, 1.5, -2.25, 3.0, float("nan"), float("inf"), float("-inf"), 7.5, None]
STRINGS = ["a", "abc", "", "zz", "été", "ab", None]
T0 = dt.datetime(2021, 3, 1, 12, 0, 0)


def _row(k: int) -> dict:
    f = FLOATS[k % len(FLOATS)]
    return {
        "k": k,
        "i8": None if k % 11 == 0 else (k * 37) % 256 - 128,
        "i32": None if k % 13 == 0 else (k * 7919) % 2000 - 1000,
        "u8": (k * 29) % 256,
        "u64": None if k % 9 == 0 else 2**64 - 1 - k * 3 if k % 2 else k * 3,
        "f32": FLOATS[(k * 3) % len(FLOATS)],
        "f64": f,
        "dec": None if k % 8 == 0 else decimal.Decimal(k * 37 % 1000 - 500) / 100,
        "s": STRINGS[k % len(STRINGS)],
        "b": None if k % 5 == 0 else k % 2 == 0,
        "d": None if k % 10 == 0 else dt.date(2021, 1, 1) + dt.timedelta(days=k * 5),
        "ts": None if k % 12 == 0 else T0 + dt.timedelta(hours=k * 7),
        "tz": None if k % 7 == 0 else (T0 + dt.timedelta(hours=k * 5)).replace(tzinfo=UTC),
        "st": None if k % 15 == 0 else {"q": k % 6 - 2, "r": FLOATS[(k + 4) % len(FLOATS)], "w": STRINGS[(k + 2) % len(STRINGS)]},
    }


BATCHES = [pa.Table.from_pylist([_row(k) for k in range(lo, lo + 30)], schema=SCHEMA) for lo in (0, 30, 60)]


def _outcome(read):
    """(schema, rows in a canonical order) of ``read()``, or the type of
    the exception it raised."""
    try:
        tbl = read()
    except Exception as e:  # noqa: BLE001 - both routes must raise alike
        return type(e).__name__
    return tbl.schema, sorted(map(repr, tbl.to_pylist()))


def _arrow_route(t, columns=None, predicate=None, internal_row_id=False):
    """``select()``'s driver read of ``t``, or None where it takes Spark."""
    scan = t._scan_files(columns, predicate, table_mod.QueryConfig(), internal_row_id)
    return t._arrow_scan(*scan, columns, predicate, internal_row_id=internal_row_id)


def _both_routes(monkeypatch, read):
    arrow = _outcome(read)
    with monkeypatch.context() as m:
        m.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
        spark = _outcome(read)
    return arrow, spark


@pytest.fixture(scope="module")
def typed(spark, tmp_path_factory):
    session = vastdb.connect(str(tmp_path_factory.mktemp("arrow_route") / "wh"), spark=spark)
    session.create_bucket("b")
    with session.transaction() as tx:
        t = tx.bucket("b").create_schema("s").create_table("t", SCHEMA)
        t.insert(BATCHES[0])
        # a Spark-written file too: its writer keeps NaN in min/max
        t.insert_df(_storage_df(spark, BATCHES[1]))
        t.insert(BATCHES[2])
        t.delete_where(D.k.isin([3, 31, 65]))
    return session


def _storage_df(spark, tbl):
    """``tbl`` as a Spark frame in the table's storage types."""
    storage = table_mod.storage_arrow_schema(SCHEMA)
    return spark.createDataFrame(
        table_mod.cast_to_storage(tbl, storage).to_pylist(),
        table_mod.arrow_schema_to_spark(storage),
    )


def _lits(*vals):
    return st.sampled_from(vals)


INTS = _lits(0, 1, -1, 5, 127, -128, 300, 2**31, 2**40, 1.5, -0.0, decimal.Decimal("2.50"), "5", None)
FLOAT_LITS = _lits(0.0, -0.0, 1.5, 3, float("nan"), float("inf"), float("-inf"), decimal.Decimal("1.5"), 2**30, None)
LEAF_LITS = {
    "k": INTS,
    "i8": INTS,
    "i32": INTS,
    "u8": _lits(0, 100, 255, 300, -1, 2.5),
    "u64": _lits(0, 3, 2**63 - 1, 2**63, 2**64 - 4, decimal.Decimal("3.0"), 1.0),
    "f32": FLOAT_LITS,
    "f64": FLOAT_LITS,
    "dec": _lits(decimal.Decimal("1.50"), decimal.Decimal("-3.1"), 2, 2**40, 2.5, decimal.Decimal("0.005"), None),
    "s": _lits("a", "abc", "", "zz", "é", "b", 5, None),
    "b": _lits(True, False, 1, None),
    "d": _lits(dt.date(2021, 2, 1), dt.date(2021, 6, 30), dt.datetime(2021, 2, 1), "2021-02-01"),
    "ts": _lits(T0, T0.replace(tzinfo=UTC), dt.date(2021, 3, 2), 5),
    "tz": _lits(T0, T0.replace(tzinfo=UTC), (T0 + dt.timedelta(days=3)).replace(tzinfo=UTC), dt.date(2021, 3, 2)),
    ("st", "q"): _lits(0, -2, 3, 2.0),
    ("st", "r"): FLOAT_LITS,
    ("st", "w"): _lits("a", "ab", ""),
}
OPS = ["==", "!=", "<", "<=", ">", ">="]


def _ref(col):
    return D[col] if isinstance(col, str) else D[col[0]][col[1]]


@st.composite
def leaf(draw):
    col = draw(st.sampled_from(sorted(LEAF_LITS, key=str)))
    ref = _ref(col)
    kind = draw(st.sampled_from(["cmp", "cmp", "cmp", "isin", "isnull", "between", "col"]))
    if kind == "isnull":
        return ref.isnull()
    lits = LEAF_LITS[col]
    if kind == "isin":
        return ref.isin(draw(st.lists(lits, min_size=1, max_size=4)))
    if kind == "between":
        return ref.between(draw(lits), draw(lits))
    if kind == "col":
        other = draw(st.sampled_from(sorted(LEAF_LITS, key=str)))
        return getattr(ref, f"__{draw(st.sampled_from(['eq', 'lt', 'ge']))}__")(_ref(other))
    op = draw(st.sampled_from(OPS))
    lit = draw(lits)
    if col in ("s", ("st", "w")) and isinstance(lit, str) and draw(st.booleans()):
        return getattr(ref, draw(st.sampled_from(["contains", "startswith", "endswith"])))(lit)
    if draw(st.booleans()) and op in ("<", ">"):
        # a literal on the left
        return {"<": lambda: lit > ref, ">": lambda: lit < ref}[op]()
    return {
        "==": ref.__eq__, "!=": ref.__ne__, "<": ref.__lt__,
        "<=": ref.__le__, ">": ref.__gt__, ">=": ref.__ge__,
    }[op](lit)


tree = st.recursive(
    leaf(),
    lambda sub: st.one_of(
        sub.map(lambda p: ~p),
        st.lists(sub, min_size=2, max_size=3).map(lambda ps: _fold(ps, "and")),
        st.lists(sub, min_size=2, max_size=3).map(lambda ps: _fold(ps, "or")),
    ),
    max_leaves=5,
)


def _fold(preds, how):
    out = preds[0]
    for p in preds[1:]:
        out = (out & p) if how == "and" else (out | p)
    return out


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tree, st.booleans())
def test_route_identity_fuzz_every_type(typed, monkeypatch, pred, rid):
    with typed.transaction() as tx:
        t = tx.bucket("b").schema("s").table("t")
        arrow, spark = _both_routes(
            monkeypatch, lambda: t.select(predicate=pred, internal_row_id=rid).read_all()
        )
    assert arrow == spark, repr(pred)


def test_fuzz_table_takes_the_arrow_route(typed):
    """The fuzz compares two routes, not one route with itself: its data
    and a sample of its comparisons read on the driver route."""
    with typed.transaction() as tx:
        t = tx.bucket("b").schema("s").table("t")
        assert t.entry.live_rows == 87
        assert 0 < sum(f.dv_rows for f in t.entry.files) <= table_mod.DV_LITERAL_MAX_ROWS
        storage = table_mod.storage_arrow_schema(t.arrow_schema)
        for pred in [
            D.f64 > 1.5, D.f32 == float("nan"), ~(D.f64 < 3), D.dec < 2, D.i8 >= 2.5,
            D.u64 > 2**63 - 1, D.d < dt.date(2021, 6, 30), D.tz > T0.replace(tzinfo=UTC),
            D.st["q"].isin([0, -2]), D.s.contains("b"), D.b == False,  # noqa: E712
            D.f64 > D.f64, D.st["r"] <= float("inf"),
        ]:
            assert pred.to_arrow(storage) is not None, repr(pred)
            assert _arrow_route(t, predicate=pred) is not None
        for pred in [
            D.k + 1 > 2, D.s == 5, D.f64 == decimal.Decimal("1.5"), D.ts > T0,
            D.d == "2021-02-01", D.f64.isin([0.0, 1.5]), D.k.isin([1, 2.5]),
        ]:
            assert pred.to_arrow(storage) is None, repr(pred)


@pytest.mark.parametrize(
    "pred",
    [D.f64 >= D.st["r"], ~(D.f64 < D.st["r"]), D.st["r"] <= D.f64, ~(D.f64 != D.st["r"])],
    ids=repr,
)
def test_float_column_null_beside_nan(typed, monkeypatch, pred):
    """A null on one side of a float comparison makes it null, also when
    the other side is NaN (rows k % 10 == 5: f64 NaN, st.r null)."""
    with typed.transaction() as tx:
        t = tx.bucket("b").schema("s").table("t")
        assert _arrow_route(t, predicate=pred) is not None
        arrow, spark = _both_routes(monkeypatch, lambda: t.select(predicate=pred).read_all())
    assert arrow == spark
    assert not any("'k': 5," in row for row in arrow[1])


# ---------------------------------------------------------------------------
# fixed cases


def _kv(n, lo=0):
    return pa.table({
        "k": pa.array(range(lo, lo + n), pa.int64()),
        "v": pa.array([float(i) / 2 for i in range(lo, lo + n)], pa.float64()),
    })


def _kv_table(session, name, files=3, rows=40):
    with session.transaction() as tx:
        t = tx.bucket("b").create_schema(name).create_table("t", _kv(0).schema)
        for f in range(files):
            t.insert(_kv(rows, f * 100))
    return name


@pytest.fixture(scope="module")
def fixed(spark, tmp_path_factory):
    session = vastdb.connect(str(tmp_path_factory.mktemp("arrow_fixed") / "wh"), spark=spark)
    session.create_bucket("b")
    return session


def _assert_routes_agree(monkeypatch, t, **kw):
    assert _arrow_route(
        t, kw.get("columns"), kw.get("predicate"), kw.get("internal_row_id", False)
    ) is not None
    arrow, spark = _both_routes(monkeypatch, lambda: t.select(**kw).read_all())
    assert arrow == spark, kw
    assert not isinstance(arrow, str), arrow
    return arrow


def test_row_ids_and_dvs_on_both_id_kinds(fixed, monkeypatch):
    name = _kv_table(fixed, "s_rid")
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        # row-id-base files, with and without deletion vectors
        _assert_routes_agree(monkeypatch, t, internal_row_id=True)
        t.delete_where(D.k.isin([5, 105, 110]))
        # physical-id replacement files, one masking an id the next reuses
        t.update_where(D.k < 20, {"v": -1.0})
        t.update_where(D.k < 2, {"v": -2.0})
        t.delete_where(D.k.isin([7, 8]))
        files = t.entry.files
        assert any(f.has_physical_row_id and f.dv_paths for f in files)
        assert any(not f.has_physical_row_id and f.dv_paths for f in files)
        got = _assert_routes_agree(monkeypatch, t, internal_row_id=True)
        assert len(got[1]) == 120 - 5
        _assert_routes_agree(monkeypatch, t, columns=["v"], predicate=D.k < 50, internal_row_id=True)
        _assert_routes_agree(monkeypatch, t, columns=[], predicate=D.v < 0)


def test_renamed_imported_and_added_columns(fixed, monkeypatch, tmp_path):
    name = _kv_table(fixed, "s_cols", files=1)
    path = str(tmp_path / "imp.parquet")
    pq.write_table(_kv(30, 500).rename_columns(["k", "value"]).select(["value", "k"]), path)
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        t.rename_column("v", "value")
        t.import_files([path])  # file columns named by the user: column_map
        t.add_column(pa.field("extra", pa.string()))  # old files lack it
        t.insert(pa.table({"k": [900], "value": [1.0], "extra": ["x"]}))
        t.delete_where(D.k == 510)
        assert any(f.column_map for f in t.entry.files)
        got = _assert_routes_agree(monkeypatch, t, internal_row_id=True)
        assert len(got[1]) == 40 + 30 + 1 - 1
        _assert_routes_agree(monkeypatch, t, predicate=D.extra.isnull() & (D.value > 10))
        _assert_routes_agree(monkeypatch, t, columns=["extra", "k"], predicate=D.extra == "x")


def test_row_positions_across_row_groups(fixed, monkeypatch, tmp_path):
    """An imported file of several row groups: ``$row_id`` and its
    deletion vectors use the parquet row position, counted from each row
    group's offset, also when the filter skips row groups."""
    name = _kv_table(fixed, "s_rowgroups", files=1, rows=5)
    path = str(tmp_path / "groups.parquet")
    pq.write_table(_kv(60, 1000), path, row_group_size=10)
    assert pq.ParquetFile(path).metadata.num_row_groups == 6
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        t.import_files([path])
        t.delete_where(D.k.isin([1003, 1027, 1041]))
        for pred in [None, D.k > 1025, (D.k >= 1010) & (D.k < 1045), D.v > 510.0]:
            got = _assert_routes_agree(monkeypatch, t, predicate=pred, internal_row_id=True)
        assert len(got[1]) == 39 - 2  # v = k / 2 > 510: k in 1021..1059


def test_partitions_hive_and_imported(fixed, monkeypatch, tmp_path):
    with fixed.transaction() as tx:
        s = tx.bucket("b").create_schema("s_part")
        t = s.create_table(
            "t", pa.schema([("k", pa.int64()), ("g", pa.int64()), ("v", pa.float64())]),
            partition_by=["g"],
        )
        t.insert_df(t.spark.range(60).selectExpr("id AS k", "id % 3 AS g", "CAST(id AS DOUBLE) AS v"))
        t.delete_where(D.k.isin([4, 7]))
        u = s.create_table("u", pa.schema([("k", pa.int64()), ("day", pa.int32()), ("tag", pa.string())]))
        paths = {}
        for i, day in enumerate([20240101, 20240102]):
            paths[str(tmp_path / f"p{i}.parquet")] = {"day": day, "tag": f"t{i}"}
            pq.write_table(pa.table({"k": pa.array(range(i * 10, i * 10 + 10), pa.int64())}), str(tmp_path / f"p{i}.parquet"))
        u.import_partitioned_files(paths)
        for pred in [None, D.g == 1, (D.g > 0) & (D.v < 30)]:
            _assert_routes_agree(monkeypatch, t, predicate=pred, internal_row_id=True)
        for pred in [None, D.day == 20240102, D.tag.startswith("t") & (D.k > 5)]:
            _assert_routes_agree(monkeypatch, u, predicate=pred, internal_row_id=True)


def test_nan_sort_key_is_never_pruned(fixed):
    """min/max leave NaN out, so a float sort key holding NaN gets no
    manifest range: ``x > 3`` keeps the NaN row (above every value in
    Spark's ordering) on every read, before and after compact()."""
    schema = pa.schema([("x", pa.float64()), ("k", pa.int64())])
    nan = float("nan")
    with fixed.transaction() as tx:
        t = tx.bucket("b").create_schema("s_nan_key").create_table("t", schema, sorting_key=["x"])
        t.insert(pa.table({"x": [1.0, 2.0, nan], "k": [0, 1, 2]}, schema=schema))
        t.insert(pa.table({"x": [5.0, 6.0], "k": [3, 4]}, schema=schema))
        # Spark's writer keeps NaN in its footer range
        t.insert_df(t.spark.createDataFrame([(nan, 5), (1.0, 6), (0.5, 7)], "x double, k long").coalesce(1))

        def check():
            assert sorted(t.select(predicate=D.x > 3).read_all()["k"].to_pylist()) == [2, 3, 4, 5]
            assert t.count_rows(D.x > 3) == 4
            assert t.select_df().filter("x > 3").count() == 4

        check()
        assert t.compact(target_file_rows=100) == 2
        (fe,) = t.entry.files
        assert "x" not in fe.col_stats
        check()


def test_imported_float_sort_key_gets_no_range(fixed, tmp_path):
    """A parquet footer carries no NaN count and pyarrow writers leave NaN
    out of a float's min/max, so an imported file's float sort key gets no
    manifest range and ``x > 3`` keeps its NaN row. With Spark's parquet
    filter pushdown off (the footer's row-group range drops the row there
    too), the Spark reads keep it as well."""
    path = str(tmp_path / "nan.parquet")
    pq.write_table(pa.table({"x": [1.0, 2.0, float("nan")]}), path)
    with fixed.transaction() as tx:
        t = tx.bucket("b").create_schema("s_nan_import").create_table(
            "t", pa.schema([("x", pa.float64())]), sorting_key=["x"]
        )
        t.import_files([path])
        t.insert(pa.table({"x": [5.0, 6.0]}))
        (imp,) = [fe for fe in t.entry.files if fe.path == path]
        assert "x" not in imp.col_stats
        xs = t.select(predicate=D.x > 3).read_all()["x"].to_pylist()
        assert sorted(x for x in xs if x == x) == [5.0, 6.0] and len(xs) == 3
        conf, key = t.spark.conf, "spark.sql.parquet.filterPushdown"
        pushdown = conf.get(key)
        conf.set(key, "false")
        try:
            assert t.count_rows(D.x > 3) == 3
            assert t.select_df().filter("x > 3").count() == 3
        finally:
            conf.set(key, pushdown)


def test_driver_written_files_carry_no_arrow_schema_key(fixed):
    """Every reader passes its own schema, so driver-written data files
    and DV sidecars leave pyarrow's ``ARROW:schema`` footer key out."""
    name = _kv_table(fixed, "s_no_arrow_key", files=1)
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        t.update_where(D.k < 3, {"v": -1.0})
        (repl,) = [fe for fe in t.entry.files if fe.has_physical_row_id]
        (dv,) = [p for fe in t.entry.files for p in fe.dv_paths]
    for path in (repl.path, dv):
        assert b"ARROW:schema" not in (pq.read_metadata(path).metadata or {})


def test_import_partitioned_rejects_a_date_value(fixed, tmp_path):
    path = str(tmp_path / "d.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    schema = pa.schema([("k", pa.int64()), ("d", pa.date32())])
    with fixed.transaction() as tx:
        tx.bucket("b").create_schema("s_date_part").create_table("t", schema)
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema("s_date_part").table("t")
        with pytest.raises(vastdb.errors.InvalidArgument, match="'d'"):
            t.import_partitioned_files({path: {"d": dt.date(2021, 1, 1)}})
        assert t.entry.files == []
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema("s_date_part").table("t")
        assert t.entry.files == [] and t.select().read_all().num_rows == 0
        assert [r.op for r in t.history().collect()] == ["create_table"]


def test_limit_rows(fixed, monkeypatch):
    name = _kv_table(fixed, "s_limit")
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        t.delete_where(D.k.isin([1, 2, 101]))
        keys = set(t.select().read_all()["k"].to_pylist())
        for limit, rid, pred in [(0, False, None), (5, False, None), (50, True, None), (7, True, D.v > 10), (500, False, None)]:
            got = t.select(predicate=pred, limit_rows=limit, internal_row_id=rid).read_all()
            with monkeypatch.context() as m:
                m.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
                via_spark = t.select(predicate=pred, limit_rows=limit, internal_row_id=rid).read_all()
            assert got.schema == via_spark.schema
            assert got.num_rows == via_spark.num_rows == min(limit, t.count_rows(pred))
            assert set(got["k"].to_pylist()) <= keys


def test_projection_reads(fixed, monkeypatch):
    name = _kv_table(fixed, "s_proj")
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        t.create_projection("by_v", ["v"], ["k"])
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        assert t._scan_files(["k"], D.v > 20, table_mod.QueryConfig(), False)[1].names == ["v", "k"]
        _assert_routes_agree(monkeypatch, t, columns=["k"], predicate=D.v > 20)
        _assert_routes_agree(monkeypatch, t, columns=["v", "k"], predicate=D.v.between(10, 60))


@pytest.mark.parametrize("metric", ["l2sq", "l2", "cosine", "ip"])
def test_vector_metrics_bit_identical(fixed, monkeypatch, metric):
    rng = np.random.default_rng(7)
    schema = pa.schema([("id", pa.int64()), ("lab", pa.string()), ("e", pa.list_(pa.float32()))])
    with fixed.transaction() as tx:
        t = tx.bucket("b").create_schema(f"s_vec_{metric}").create_table(
            "t", schema, vector_index={"column": "e", "metric": metric}
        )
        for f in range(3):
            vecs = rng.normal(size=(50, 12)).astype(np.float32)
            t.insert(pa.table({
                "id": pa.array(range(f * 50, f * 50 + 50), pa.int64()),
                "lab": [f"l{i % 4}" for i in range(50)],
                "e": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            }))
        t.delete_where(D.id.isin([3, 77]))
        q = rng.normal(size=12).tolist()
        for cols, pred in [(["id"], None), (["id", "e", "lab"], D.lab == "l2"), (None, D.id > 40)]:
            def search():
                return t.vector_search(q, columns=cols, limit=9, predicate=pred)

            arrow = search()
            with monkeypatch.context() as m:
                m.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
                via_spark = search()
            assert arrow.schema == via_spark.schema
            # the same rows in the same order, distances equal bit for bit
            assert arrow.to_pylist() == via_spark.to_pylist()
        # a float sort key holding NaN: the file gets no manifest range,
        # and both routes read every file and keep the NaN row of x > 3
        srt = t.schema.create_table(
            "sorted", pa.schema([("x", pa.float64()), ("e", pa.list_(pa.float32()))]),
            sorting_key=["x"], vector_index={"column": "e", "metric": metric},
        )
        for lo, xs in [(0, [1.0, 2.0, float("nan")]), (3, [5.0, 6.0])]:
            srt.insert(pa.table({"x": xs, "e": [[1.0, float(lo + i + 1)] for i in range(len(xs))]}))
        assert [f.col_stats.get("x") for f in srt.entry.files] == [None, [5.0, 6.0]]

        def search():
            return srt.vector_search([1.0, 0.5], columns=["x"], limit=5, predicate=D.x > 3)

        arrow = search()
        with monkeypatch.context() as m:
            m.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
            via_spark = search()
        assert arrow.num_rows == 3
        assert arrow.schema == via_spark.schema
        assert repr(arrow.to_pylist()) == repr(via_spark.to_pylist())


def test_vector_null_or_ragged_vectors_keep_spark(fixed):
    from vastdb_sdk_spark.functions.vector import distances

    ok = pa.chunked_array([pa.array([[1.0, 2.0], [0.5, 0.0]])])
    assert distances(ok, [1.0, 1.0], "l2sq").tolist() == [1.0, 1.25]
    for bad in ([[1.0, 2.0], None], [[1.0, None], [0.0, 1.0]], [[1.0], [0.0, 1.0]]):
        assert distances(pa.chunked_array([pa.array(bad)]), [1.0, 1.0], "l2sq") is None
    # a zero norm divides by zero in the cosine SQL
    assert distances(ok, [0.0, 0.0], "cosine") is None


# ---------------------------------------------------------------------------
# Spark jobs and snapshots


def test_small_reads_run_no_spark_job(fixed, monkeypatch, spark_jobs):
    with fixed.transaction() as tx:
        t = tx.bucket("b").create_schema("s_jobs").create_table(
            "t", pa.schema([("k", pa.int64()), ("e", pa.list_(pa.float64()))]),
            vector_index={"column": "e", "metric": "l2sq"},
        )
        t.insert(pa.table({"k": range(30), "e": [[float(i), 1.0] for i in range(30)]}))
        t.delete_where(D.k == 4)

        reads = [
            lambda: t.select(columns=["k"], predicate=D.k < 20, internal_row_id=True)
            .read_all()
            .sort_by("k"),
            lambda: t.vector_search([3.2, 1.0], columns=["k"], limit=3),
        ]
        for read in reads:
            jobs, got = spark_jobs(read)
            assert jobs == 0
            with monkeypatch.context() as m:
                m.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
                jobs_s, via_spark = spark_jobs(read)
            assert jobs_s == 1
            assert got.equals(via_spark)
        assert got["k"].to_pylist() == [3, 2, 5]


@pytest.mark.parametrize("bound", [table_mod.ARROW_READ_MAX_ROWS, 0])
def test_reader_pins_snapshot_before_delete(fixed, monkeypatch, bound):
    monkeypatch.setattr(table_mod, "ARROW_READ_MAX_ROWS", bound)
    name = _kv_table(fixed, f"s_pin_{bound}", files=2, rows=20)
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        t.delete_where(D.k == 3)
        reader = t.select(columns=["k"], predicate=D.k < 110)
        t.delete_where(D.k.isin([1, 2, 100]))
        assert t.count_rows(D.k < 110) == 26
        got = sorted(reader.read_all()["k"].to_pylist())
    assert got == [k for k in [*range(20), *range(100, 110)] if k != 3]


def test_arrow_reader_reads_files_on_pull(fixed, monkeypatch):
    reads = []
    group_read = table_mod._read_arrow_group
    monkeypatch.setattr(
        table_mod, "_read_arrow_group", lambda *a: reads.append(1) or group_read(*a)
    )
    name = _kv_table(fixed, "s_lazy", files=2, rows=10)
    with fixed.transaction() as tx:
        t = tx.bucket("b").schema(name).table("t")
        reader = t.select(predicate=D.k > 3)
        assert not reads
        assert reader.read_all().num_rows == 16
        assert reads
