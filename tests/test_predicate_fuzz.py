"""Hypothesis fuzz over random predicate trees: the deferred-predicate DSL
(`vastdb_sdk_spark._`) compiled through the engine (including manifest
min/max pruning) must agree with a pyarrow.compute oracle on every
generated tree.

The fixed matrix in test_predicates.py pins each operator; this fuzz pins
their *composition* — arbitrary &/|/~ nesting is exactly what stresses the
pruning interval extraction (plans/pruning.py): a pruning bug that drops a
file it shouldn't shows up here as missing rows vs the oracle, across
hundreds of shapes no hand-written matrix would contain.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import vastdb_sdk_spark as vastdb
from vastdb_sdk_spark import _ as D

# several insert batches -> several files with distinct min/max envelopes,
# so the manifest pruner actually has pruning decisions to make
BATCHES = [
    pa.table(
        {
            "i": pa.array(range(lo, lo + 40), pa.int64()),
            "v": pa.array(
                [None if k % 11 == 0 else (k * 7) % 100 for k in range(lo, lo + 40)],
                pa.int64(),
            ),
            "s": pa.array(
                [
                    None if k % 13 == 0 else ["alpha", "beta", "gamma", "", "delta"][k % 5]
                    for k in range(lo, lo + 40)
                ],
                pa.string(),
            ),
        }
    )
    for lo in (0, 100, 200, 300)
]
ALL = pa.concat_tables(BATCHES)


@pytest.fixture(scope="module")
def fuzz_table(spark, tmp_path_factory):
    session = vastdb.connect(
        str(tmp_path_factory.mktemp("predfuzz") / "wh"), spark=spark
    )
    session.create_bucket("b")
    with session.transaction() as tx:
        t = tx.bucket("b").create_schema("s").create_table("t", BATCHES[0].schema)
        for b in BATCHES:
            t.insert(b)
    return session


int_leaf = st.sampled_from(
    [
        lambda c: (D.v == c, pc.field("v") == c),
        lambda c: (D.v != c, pc.field("v") != c),
        lambda c: (D.v < c, pc.field("v") < c),
        lambda c: (D.v <= c, pc.field("v") <= c),
        lambda c: (D.v > c, pc.field("v") > c),
        lambda c: (D.v >= c, pc.field("v") >= c),
        lambda c: (D.i < c * 4, pc.field("i") < c * 4),
        lambda c: (D.i >= c * 4, pc.field("i") >= c * 4),
        lambda c: (
            D.v.between(c, c + 25),
            (pc.field("v") >= c) & (pc.field("v") <= c + 25),
        ),
        # pyarrow's is_in is NOT three-valued (null -> false, so ~isin
        # would wrongly keep null rows); wrap it to propagate null like
        # SQL's IN — the engine follows Spark/SQL Kleene semantics
        lambda c: (
            D.v.isin([c, c + 1, c + 50]),
            pc.if_else(
                pc.field("v").is_null(),
                pa.scalar(None, pa.bool_()),
                pc.field("v").isin([c, c + 1, c + 50]),
            ),
        ),
        lambda c: (D.v.isnull(), pc.field("v").is_null()),
    ]
).flatmap(
    lambda mk: st.integers(min_value=-5, max_value=105).map(mk)
)

str_leaf = st.sampled_from(
    [
        lambda p: (D.s == p, pc.field("s") == p),
        lambda p: (D.s.startswith(p[:2]), pc.starts_with(pc.field("s"), p[:2])),
        lambda p: (D.s.contains(p[1:3]), pc.match_substring(pc.field("s"), p[1:3])),
        lambda p: (D.s.isnull(), pc.field("s").is_null()),
    ]
).flatmap(
    lambda mk: st.sampled_from(["alpha", "beta", "gamma", "delta", "zeta"]).map(mk)
)

leaf = st.one_of(int_leaf, str_leaf)


def _combine(children):
    kind, subtrees = children
    if kind == "not":
        (d, o) = subtrees[0]
        return (~d, ~o)
    pairs = iter(subtrees)
    d, o = next(pairs)
    for dn, on in pairs:
        if kind == "and":
            d, o = d & dn, o & on
        else:
            d, o = d | dn, o | on
    return (d, o)


tree = st.recursive(
    leaf,
    lambda sub: st.one_of(
        st.tuples(st.just("not"), st.lists(sub, min_size=1, max_size=1)).map(_combine),
        st.tuples(st.just("and"), st.lists(sub, min_size=2, max_size=3)).map(_combine),
        st.tuples(st.just("or"), st.lists(sub, min_size=2, max_size=3)).map(_combine),
    ),
    max_leaves=6,
)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree)
def test_fuzz_predicate_tree_matches_oracle(fuzz_table, dsl_and_oracle):
    dsl, oracle = dsl_and_oracle
    with fuzz_table.transaction() as tx:
        got = (
            tx.bucket("b").schema("s").table("t")
            .select(predicate=dsl)
            .read_all()
            .sort_by("i")
        )
    expected = ALL.filter(oracle).sort_by("i")
    assert got.equals(expected), (
        f"predicate {dsl!r}: {got.num_rows} rows != {expected.num_rows}"
    )


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree)
def test_fuzz_predicate_tree_routes_agree(fuzz_table, monkeypatch, dsl_and_oracle):
    """The same trees on select()'s driver Arrow route and, with
    ARROW_READ_MAX_ROWS at 0, on its Spark route."""
    from vastdb_sdk_spark import table as table_mod

    dsl, _oracle = dsl_and_oracle
    with fuzz_table.transaction() as tx:
        t = tx.bucket("b").schema("s").table("t")
        scan = t._scan_files(None, dsl, table_mod.QueryConfig(), False)
        assert t._arrow_scan(*scan, None, dsl) is not None
        got = t.select(predicate=dsl, internal_row_id=True).read_all().sort_by("i")
        with monkeypatch.context() as m:
            m.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
            via_spark = t.select(predicate=dsl, internal_row_id=True).read_all().sort_by("i")
    assert got.schema == via_spark.schema
    assert got.equals(via_spark), repr(dsl)
