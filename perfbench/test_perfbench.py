"""Unit tests of the benchmark's pure pieces (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
from layertrace import Span, Tracer, covered, self_times  # noqa: E402
from workloads import (  # noqa: E402
    DML_CYCLE, LOOKUP_SHAPES, DmlWorkload, LookupWorkload, analytics_ops, dml_ops,
    lookup_ops, same_rows, table_digest,
)


# -- percentile rule -------------------------------------------------------

@pytest.mark.parametrize("n,q", [(1, 0.5), (19, 0.5), (20, 0.5), (40, 0.75), (100, 0.9), (1000, 0.9)])
def test_tail_quantile_leaves_ten_samples_beyond(n, q):
    assert stats.tail_quantile(n) == pytest.approx(q)
    if q > 0.5:
        assert n * (1 - stats.tail_quantile(n)) >= stats.TAIL_SAMPLES - 1e-9


def test_tail_value_and_percentile_interpolation():
    xs = list(range(1, 101))  # 1..100
    q, v = stats.tail(xs)
    assert q == pytest.approx(0.9)
    assert v == pytest.approx(90.1)
    assert stats.percentile([5.0], 0.9) == 5.0
    assert stats.percentile([1.0, 3.0], 0.5) == 2.0
    with pytest.raises(ValueError):
        stats.tail([])


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 20.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / med)


def test_window_drift_and_warm_up_rule():
    assert stats.window_drift([2.0] * 10 + [1.0] * 10, 10) == pytest.approx(0.5)
    assert stats.window_drift([1.0] * 6, 10) == pytest.approx(1.0)
    assert not stats.warmed_up([3.0], 0.03)
    assert not stats.warmed_up([3.0, 2.0], 0.03)  # still falling
    assert stats.warmed_up([3.0, 2.0, 1.99], 0.03)  # within 3% of the best
    assert stats.warmed_up([3.0, 2.0, 2.5], 0.03)  # rose: no longer falling


# -- span self-time arithmetic ----------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(0, 10)], 2, 4) == pytest.approx(2)
    assert covered([(5, 4)], 0, 10) == 0
    assert covered([], 0, 1) == 0


def test_self_times_subtract_direct_children_only():
    spans = [
        Span("op", 0.0, 10.0, -1, 0),
        Span("plan", 1.0, 4.0, 0, 0),
        Span("predicate", 2.0, 3.0, 1, 0),
        Span("job", 3.5, 8.0, 0, 0),  # overlaps plan: union counts once
    ]
    assert self_times(spans) == pytest.approx([10 - 7, 3 - 1, 1, 4.5])


def test_tracer_nests_spans_and_restores_wrapped_functions():
    class Thing:
        def work(self, x):
            return x + 1

    tracer = Tracer()
    tracer.op = 7
    tracer.wrap(Thing, "work", "thing.work", lambda t, a, k, r: t.count("thing.results", r))
    with tracer.span("outer"):
        assert Thing().work(1) == 2
    outer, inner = tracer.spans
    assert (outer.name, inner.name, inner.parent, inner.op) == ("outer", "thing.work", 0, 7)
    assert tracer.op_counts({7}) == {"thing.results": 2}
    tracer.uninstall()
    assert Thing.work.__name__ == "work" and not hasattr(Thing.work, "__wrapped__")


# -- op lists -----------------------------------------------------------------

@pytest.mark.parametrize("make", [lookup_ops, dml_ops, analytics_ops])
def test_op_lists_are_deterministic_per_seed(make):
    assert make(5, 60) == make(5, 60)
    assert make(5, 30) == make(5, 60)[:30]


@pytest.mark.parametrize("make", [lookup_ops, dml_ops])
def test_seed_changes_literals_not_the_mix(make):
    a, b = make(1, 44), make(2, 44)
    assert [o.kind for o in a] == [o.kind for o in b]
    assert a != b


def test_mixes_follow_the_fixed_rotation():
    assert [o.kind for o in lookup_ops(3, len(LOOKUP_SHAPES))] == LOOKUP_SHAPES
    assert [o.kind for o in dml_ops(3, len(DML_CYCLE))] == DML_CYCLE
    keys = [r[0] for o in dml_ops(3, 200) if o.kind == "insert" for r in o.args]
    assert len(keys) == len(set(keys))  # inserts never reuse a key


def test_corpus_is_deterministic_per_seed():
    a, b, c = datagen.make_tables(4), datagen.make_tables(4), datagen.make_tables(5)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["events"].equals(c["events"])
    assert a["events"].num_rows == datagen.N_EVENTS


# -- where the order statistics fall ------------------------------------------
#
# Op kinds differ in cost far more than one kind varies, so a run's sorted
# latencies are clusters, one per kind (and per place in the cycle, where
# that changes the cost). These tests take the cost order seen in runs as
# given and check that both samples the median and the tail percentile
# interpolate between come from one cluster.

LOOKUP_SLOW_FIRST = ["vector", "users_isin", "or_ranges", "ts_between", "type_in",
                     "key_and_value", "point"]
# place in the cycle matters: the update_where after the $row_id statements
# reads more deletion vectors than the one after maintenance, and the read
# before any write reads a freshly compacted table
DML_SLOW_FIRST = ["maintain", "rowid_update", "rowid_delete", "update_where_late",
                  "update_where_early", "delete_where", "read", "read_after_maintain",
                  "insert"]


def _dml_key(i: int) -> str:
    kind = DML_CYCLE[i]
    earlier = DML_CYCLE[:i]
    if kind == "update_where":
        return "update_where_late" if "rowid_delete" in earlier else "update_where_early"
    if kind == "read" and not set(earlier) - {"insert", "read"}:
        return "read_after_maintain"
    return kind


def _clusters_at(keys: list[str], slow_first: list[str], q: float) -> set[str]:
    """The clusters of the two sorted samples quantile ``q`` interpolates
    between."""
    ordered = sorted(keys, key=lambda k: -slow_first.index(k))
    pos = q * (len(keys) - 1)
    return {ordered[int(pos)], ordered[min(int(pos) + 1, len(keys) - 1)]}


@pytest.mark.parametrize("windows", range(LookupWorkload.timed_min_windows, 10))
def test_lookup_tail_lies_inside_one_shape(windows):
    keys = LOOKUP_SHAPES * windows
    assert _clusters_at(keys, LOOKUP_SLOW_FIRST, stats.tail_quantile(len(keys))) == {"users_isin"}


def test_lookup_tail_with_five_windows_straddles_two_shapes():
    keys = LOOKUP_SHAPES * 5
    assert len(_clusters_at(keys, LOOKUP_SLOW_FIRST, stats.tail_quantile(len(keys)))) == 2


def test_dml_median_and_tail_lie_inside_one_cluster():
    keys = [_dml_key(i) for i in range(len(DML_CYCLE))] * DmlWorkload.timed_min_windows
    assert _clusters_at(keys, DML_SLOW_FIRST, 0.5) == {"read"}
    assert _clusters_at(keys, DML_SLOW_FIRST, stats.tail_quantile(len(keys))) == {"update_where_late"}


def test_dml_tail_over_two_cycles_straddles_two_kinds():
    keys = [_dml_key(i) for i in range(len(DML_CYCLE))] * 2
    assert _clusters_at(keys, DML_SLOW_FIRST, stats.tail_quantile(len(keys))) == {
        "update_where_early", "delete_where"}


# -- result comparison ----------------------------------------------------------

def test_comparisons_ignore_row_order_and_width():
    x = pa.table({"k": pa.array([1, 2], pa.int32()), "v": ["a", "b"]})
    y = pa.table({"v": ["b", "a"], "k": pa.array([2, 1], pa.int64())})
    assert same_rows(x, y, "k")
    assert table_digest(x) == table_digest(y)
    z = pa.table({"k": [1, 2], "v": ["a", "c"]})
    assert not same_rows(x, z, "k")
    assert table_digest(x) != table_digest(z)


# -- metric names -------------------------------------------------------------

@pytest.mark.parametrize("name,ok", [
    ("p50_ms", True), ("py4j.calls_per_op", True), ("host.steal-pct", True),
    ("9lives", True), ("", False), ("_x", False), ("a b", False), ("a/b", False),
    ("x" * 65, False),
])
def test_metric_name_pattern(name, ok):
    assert bool(stats.METRIC_NAME.fullmatch(name)) is ok


def test_benchmark_json_names_follow_the_pattern():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    names = [m["name"] for sec in ("end_to_end", "per_layer") for m in spec[sec]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.METRIC_NAME.fullmatch(n) for n in names)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
