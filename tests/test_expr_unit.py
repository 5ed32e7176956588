"""Unit tests for the expression DSL, its SQL rendering and the pruning
math — reference pattern 7 (vastdb/tests/test_util.py etc.)."""

import datetime as dt
import re
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import vastdb_sdk_spark as vastdb
from vastdb_sdk_spark import _ as D
from vastdb_sdk_spark.expr import sql_literal, validate_predicate, to_spark_predicate
from vastdb_sdk_spark.plans.pruning import Interval, extract_intervals

SCHEMA = pa.schema(
    [
        ("a", pa.int64()),
        ("s", pa.struct([("x", pa.int32()), ("q", pa.struct([("q1", pa.string())]))])),
    ]
)


def test_bool_coercion_rejected():
    """`and`/`or`/`not` on expressions must raise (they silently coerce in
    naive DSLs); users must use &, |, ~."""
    with pytest.raises(TypeError):
        bool(D.a > 1)
    with pytest.raises(TypeError):
        (D.a > 1) and (D.a < 5)  # noqa: B015


def test_validate_paths():
    validate_predicate(D.s["q"]["q1"] == "x", SCHEMA)
    with pytest.raises(vastdb.InvalidArgument):
        validate_predicate(D.nope == 1, SCHEMA)
    with pytest.raises(vastdb.InvalidArgument):
        validate_predicate(D.a["sub"] == 1, SCHEMA)  # int has no subfield
    with pytest.raises(vastdb.InvalidArgument):
        validate_predicate(D.s["missing"] == 1, SCHEMA)


def test_true_false_shortcuts(spark):
    # (spark fixture needed: F.lit requires an active SparkContext)
    assert to_spark_predicate(None) is None
    assert to_spark_predicate(True) is None
    assert to_spark_predicate(False) is not None


def test_interval_math():
    iv = Interval(1, 10).intersect(Interval(5, 20))
    assert (iv.lo, iv.hi) == (5, 10)
    assert Interval().overlaps(-1e18, 1e18)
    assert not Interval(hi=3).overlaps(4, 9)
    assert Interval(lo=3).overlaps(3, 3)


def test_extract_between_and_not():
    ivs = extract_intervals(D.k.between(2, 8), "k")
    assert ivs and ivs[0].overlaps(5, 5) and not ivs[0].overlaps(9, 12)
    # NOT is conservatively unprunable
    assert extract_intervals(~(D.k > 5), "k") is None


def test_empty_and_intersection_prunes_everything():
    ivs = extract_intervals((D.k > 10) & (D.k < 5), "k")
    assert ivs is not None
    assert all(not iv.overlaps(-1000, 1000) for iv in ivs)


def test_arithmetic_predicates_never_prune():
    """Any arithmetic in a predicate must make the pruner bail (None =
    unconstrained), never mis-prune: (k+1) > 5 is NOT a bound on k."""
    for pred in [
        (D.k + 1) > 5,
        (2 * D.k) <= 10,
        (D.k / 2) == 3,
        (D.k % 7) == 0,
        (10 - D.k) < 4,
        (-D.k) < 0,
    ]:
        assert extract_intervals(pred, "k") is None
    # and arithmetic on ONE conjunct doesn't poison the other
    ivs = extract_intervals(((D.k + 1) > 5) & (D.k <= 100), "k")
    assert ivs and ivs[0].overlaps(100, 100) and not ivs[0].overlaps(101, 200)


def test_arithmetic_compiles_to_spark(spark):
    df = spark.range(10).withColumnRenamed("id", "k")
    pred = ((D.k * 2 + 1) % 3 == 0) & ((20 / (D.k + 1)) >= 4)
    rows = sorted(r.k for r in df.filter(pred.to_spark()).collect())
    # k in 0..9 with (2k+1)%3==0 and 20/(k+1)>=4: k=1 (3%3, 10>=4), k=4 (9%3, 4>=4)
    assert rows == [1, 4]


def test_connect_compat_kwargs(tmp_path):
    # reference signature: connect(endpoint=..., access=..., secret=...)
    s = vastdb.connect(
        str(tmp_path / "wh"), endpoint="http://x", access="a", secret="b", ssl_verify=False
    )
    assert s.warehouse.endswith("wh")


# ---------------------------------------------------------------------------
# plan identity: predicates render to SQL text; each must parse to the plan
# the hand-built PySpark Column gives, with the same rows

_NAN, _INF = float("nan"), float("inf")
_IST = dt.timezone(dt.timedelta(hours=5, minutes=30))
_KINDS_DDL = (
    "i INT, l BIGINT, d DOUBLE, s STRING, b BOOLEAN, dec DECIMAL(10,3), "
    "bin BINARY, dt DATE, ts TIMESTAMP, "
    "st STRUCT<x: INT, q: STRUCT<q1: STRING>>, "
    "`a.b` BIGINT, `sp ace` BIGINT, `back``tick` BIGINT, k INT, arr ARRAY<INT>"
)
_KINDS_ROWS = [
    (2**31 - 1, 2**31, _NAN, "it's \\ ü☃", True, Decimal("1.250"), b"\x00\xff",
     dt.date(2024, 2, 29), dt.datetime(2024, 1, 2, 3, 4, 5), (1, ("x",)), 1, 2, 3, 1, [1, 2]),
    (-(2**31), -(2**63), -0.0, "it", False, Decimal("-0.001"), b"ab",
     dt.date(1970, 1, 1), dt.datetime(1969, 12, 31, 23, 59, 59, 5), (2, ("y",)), 4, 0, 6, 4, []),
    (None, 2**63 - 1, _INF, None, None, None, None, None, None, None, None, None, None, None, None),
    (3, -(2**31) - 1, -_INF, "ends ü☃", True, Decimal("0.000"), b"",
     dt.date(2024, 2, 28), dt.datetime(2024, 1, 2, 3, 4, 5, 678901), (3, (None,)), 1, 9, 4, 7, [2, 1]),
    (1, 7, 1.5, "x", False, Decimal("9.999"), b"\x00\xff",
     dt.date(2000, 1, 1), dt.datetime(2030, 6, 1), (4, ("x",)), 0, -1, 5, 2, [1, 2]),
]
_PLAN_CASES = {
    # literal kinds
    "int32_max": (D.i == 2**31 - 1, lambda: F.col("i") == F.lit(2**31 - 1)),
    "int32_min": (D.i >= -(2**31), lambda: F.col("i") >= F.lit(-(2**31))),
    "int64_above_int32": (D.l == 2**31, lambda: F.col("l") == F.lit(2**31)),
    "int64_below_int32": (D.l < -(2**31) - 1, lambda: F.col("l") < F.lit(-(2**31) - 1)),
    "int64_max": (D.l == 2**63 - 1, lambda: F.col("l") == F.lit(2**63 - 1)),
    "int64_min": (D.l == -(2**63), lambda: F.col("l") == F.lit(-(2**63))),
    "float": (D.d == 1.5, lambda: F.col("d") == F.lit(1.5)),
    "float_nan": (D.d == _NAN, lambda: F.col("d") == F.lit(_NAN)),
    "float_inf": (D.d < _INF, lambda: F.col("d") < F.lit(_INF)),
    "float_neg_inf": (D.d > -_INF, lambda: F.col("d") > F.lit(-_INF)),
    "float_neg_zero": (D.d == -0.0, lambda: F.col("d") == F.lit(-0.0)),
    "numpy_float32": (D.d < np.float32(1.1), lambda: F.col("d") < F.lit(np.float32(1.1))),
    "numpy_int64": (D.i == np.int64(3), lambda: F.col("i") == F.lit(np.int64(3))),
    "list": (D.arr == [1, 2], lambda: F.col("arr") == F.lit([1, 2])),
    "str_quote_backslash_unicode": (
        D.s == "it's \\ ü☃", lambda: F.col("s") == F.lit("it's \\ ü☃")),
    "bool": (D.b == True, lambda: F.col("b") == F.lit(True)),  # noqa: E712
    "none": (D.s != None, lambda: F.col("s") != F.lit(None)),  # noqa: E711
    "decimal": (D.dec >= Decimal("1.250"), lambda: F.col("dec") >= F.lit(Decimal("1.250"))),
    "decimal_neg": (D.dec > Decimal("-0.001"), lambda: F.col("dec") > F.lit(Decimal("-0.001"))),
    "bytes": (D.bin == b"\x00\xff", lambda: F.col("bin") == F.lit(b"\x00\xff")),
    "date": (D.dt == dt.date(2024, 2, 29), lambda: F.col("dt") == F.lit(dt.date(2024, 2, 29))),
    "datetime_naive": (
        D.ts >= dt.datetime(2024, 1, 2, 3, 4, 5, 1),
        lambda: F.col("ts") >= F.lit(dt.datetime(2024, 1, 2, 3, 4, 5, 1)),
    ),
    "datetime_tz_aware": (
        D.ts < dt.datetime(2024, 1, 2, 8, 34, 5, 678901, tzinfo=_IST),
        lambda: F.col("ts") < F.lit(dt.datetime(2024, 1, 2, 8, 34, 5, 678901, tzinfo=_IST)),
    ),
    # every node
    "struct_path": (
        D.st["q"]["q1"] == "x",
        lambda: F.col("st").getField("q").getField("q1") == F.lit("x"),
    ),
    "arith_and_or": (
        ((D.k - 1) * 2 % 3 == 0) | ((20 / (D.k + 1)) >= 4),
        lambda: (((F.col("k") - F.lit(1)) * F.lit(2) % F.lit(3)) == F.lit(0))
        | ((F.lit(20) / (F.col("k") + F.lit(1))) >= F.lit(4)),
    ),
    "neg": (-D.k < -3, lambda: (F.lit(0) - F.col("k")) < F.lit(-3)),
    "or_chain": (
        (D.k == 1) | (D.k == 2) | (D.k == 7),
        lambda: (F.col("k") == F.lit(1)) | (F.col("k") == F.lit(2)) | (F.col("k") == F.lit(7)),
    ),
    "not_ne_and": (~(D.i != 3) & D.b, lambda: ~(F.col("i") != F.lit(3)) & F.col("b")),
    "isnull": (D.s.isnull(), lambda: F.col("s").isNull()),
    "notnull": (D.s.notnull(), lambda: ~F.col("s").isNull()),
    "isin": (
        D.i.isin([1, None, 2**31 - 1]),
        lambda: F.col("i").isin([1, None, 2**31 - 1]),
    ),
    "contains": (D.s.contains("'s \\"), lambda: F.col("s").contains("'s \\")),
    "startswith": (D.s.startswith("it"), lambda: F.col("s").startswith("it")),
    "endswith": (D.s.endswith("ü☃"), lambda: F.col("s").endswith("ü☃")),
    # top-level names F.col would read as struct paths or fail to parse
    "name_with_dot": (D["a.b"] == 1, lambda: F.col("`a.b`") == F.lit(1)),
    "name_with_space": (D["sp ace"] > 0, lambda: F.col("`sp ace`") > F.lit(0)),
    "name_with_backtick": (D["back`tick"] < 5, lambda: F.col("`back``tick`") < F.lit(5)),
}


@pytest.fixture(scope="module")
def kinds_df(spark):
    return spark.createDataFrame(_KINDS_ROWS, _KINDS_DDL)


def _optimized(df) -> str:
    return re.sub(r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString())


@pytest.mark.parametrize("case", list(_PLAN_CASES))
def test_predicate_plan_identity(kinds_df, case):
    pred, hand = _PLAN_CASES[case]
    got = kinds_df.filter(to_spark_predicate(pred))
    want = kinds_df.filter(hand())
    assert _optimized(got) == _optimized(want), pred.to_sql()
    rows = sorted(map(repr, want.collect()))
    assert sorted(map(repr, got.collect())) == rows
    assert rows or case == "none", "case selects no row"


def test_long_or_chain_parses(spark):
    """A 1000-term chain renders flat: nested parentheses overflow Spark's
    parser at ~150 levels."""
    df = spark.range(2000).withColumnRenamed("id", "k")
    pred = D.k == 0
    for i in range(1, 1000):
        pred = pred | (D.k == 2 * i)
    assert df.filter(to_spark_predicate(pred)).count() == 1000


def test_sql_literal_rejects_what_lit_cannot_type():
    with pytest.raises(vastdb.InvalidArgument):
        sql_literal(2**63)
    with pytest.raises(vastdb.InvalidArgument):
        sql_literal(object())


def test_literal_vector_distances_match_column_built(spark):
    """distance_column / cosine_similarity_to_lit render the query vector
    as SQL text; values must be bit-identical to the same expression built
    from F.lit per element."""
    from vastdb_sdk_spark.functions.vector import (
        cosine_similarity,
        cosine_similarity_to_lit,
        distance_column,
        dot,
    )

    q = [0.25, -1.5, 3.0e-7, 2.0, -0.0, 1e10]
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0, 4.0, 5.0, 6.0],), ([-0.5, 0.125, 7.0, -2.0, 1e-300, 3.5],)],
        "`e v` ARRAY<FLOAT>",
    )
    v = F.col("`e v`")
    lit = F.array(*[F.lit(x) for x in q])
    sq = F.aggregate(
        F.zip_with(
            v, lit, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    got = df.select(
        distance_column("e v", q, "l2sq").alias("l2sq"),
        distance_column("e v", q, "ip").alias("ip"),
        distance_column("e v", q, "cosine").alias("cos_d"),
        cosine_similarity_to_lit("e v", q).alias("cos"),
    ).collect()
    want = df.select(
        sq.alias("l2sq"),
        (-dot(v, lit)).alias("ip"),
        (F.lit(1.0) - cosine_similarity(v, lit)).alias("cos_d"),
        cosine_similarity(v, lit).alias("cos"),
    ).collect()
    assert got == want
