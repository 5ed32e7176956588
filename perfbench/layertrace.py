"""Outside-in layer tracing for the benchmark.

Spans are recorded around calls into the engine's public functions by
wrapping them at run time from here; no library file is edited. Every span
keeps its name, start, end, parent span and op id, stays in memory, and is
written out once the run ends. Counters sit at the same boundaries (py4j
round trips, files pruned, manifest bytes) so ratios are measured where the
work happens.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Any, Callable

SETUP_OP = -1  # op id of everything outside the op loop


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root span
    op: int


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent >= 0:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children[i], s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Span and counter recorder for one single-threaded client."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self.op = SETUP_OP
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    # -- spans and counters -------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {self.spans[idx].name} closed out of order")

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield idx
        finally:
            self.end(idx)

    def count(self, name: str, n: float = 1.0) -> None:
        self.counts[(self.op, name)] += n

    def current(self, name: str) -> int | None:
        """Index of the innermost open span called ``name``."""
        for idx in reversed(self._stack):
            if self.spans[idx].name == name:
                return idx
        return None

    # -- wrapping -------------------------------------------------------------
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        after: Callable[["Tracer", tuple, dict, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a spanned call; ``after`` sees the
        call's arguments and result and may record counters."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        func = original.__func__ if isinstance(original, (staticmethod, classmethod)) else original

        @functools.wraps(func)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                result = func(*args, **kwargs)
            finally:
                self.end(idx)
            if after is not None:
                after(self, args, kwargs, result)
            return result

        if isinstance(original, staticmethod):
            traced = staticmethod(traced)
        elif isinstance(original, classmethod):
            traced = classmethod(traced)
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def counter_wrap(self, owner: Any, attr: str, name: str) -> None:
        """Count calls and their time without a span each: for calls made
        hundreds of times per op, such as py4j round trips."""
        original = owner.__dict__[attr]

        @functools.wraps(original)
        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.counts[(self.op, name)] += 1
                self.counts[(self.op, name + "_s")] += time.perf_counter() - t0

        setattr(owner, attr, counted)
        self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- output ------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    def op_self_totals(self, ops: set[int]) -> dict[str, float]:
        """Sum of span self times per name over the given ops (seconds)."""
        out: dict[str, float] = defaultdict(float)
        for s, st in zip(self.spans, self_times(self.spans)):
            if s.op in ops:
                out[s.name] += st
        return out

    def op_counts(self, ops: set[int]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for (op, name), v in self.counts.items():
            if op in ops:
                out[name] += v
        return out


# ---------------------------------------------------------------------------
# the engine's layer boundaries


def _after_prune(tracer: Tracer, args: tuple, kwargs: dict, result: Any) -> None:
    # a scan's pruning chain narrows one file list: the widest input is the
    # table's file count, the last output is what the scan reads
    key_in, key_kept = (tracer.op, "plans.files_in"), (tracer.op, "plans.files_kept")
    files_in = len(args[0]) if args else len(kwargs["files"])
    tracer.counts[key_in] = max(tracer.counts[key_in], files_in)
    tracer.counts[key_kept] = len(result)


def _after_commit(tracer: Tracer, args: tuple, kwargs: dict, result: Any) -> None:
    store = args[0]
    tracer.count("catalog.commits")
    try:
        import os

        size = os.path.getsize(store._version_path(result.version))
    except (AttributeError, OSError):
        return
    tracer.count("catalog.manifest_bytes", size)


def _after_load(tracer: Tracer, args: tuple, kwargs: dict, result: Any) -> None:
    tracer.count("catalog.loads")
    if tracer.current("catalog.commit") is not None:
        tracer.count("catalog.commit_loads")


def _after_vacuum(tracer: Tracer, args: tuple, kwargs: dict, result: Any) -> None:
    tracer.count("session.vacuum_files", len(result or []))


def install_layer_wraps(tracer: Tracer) -> None:
    """Wrap the public entry points of each engine layer."""
    import py4j.clientserver
    import py4j.java_gateway
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import vastdb_sdk_spark.expr as expr_mod
    import vastdb_sdk_spark.functions.vector as vector_mod
    import vastdb_sdk_spark.plans.pruning as pruning_mod
    import vastdb_sdk_spark.table as table_mod
    from vastdb_sdk_spark.catalog.manifest import ManifestStore
    from vastdb_sdk_spark.session import Session
    from vastdb_sdk_spark.transaction import Transaction

    tracer.counter_wrap(py4j.clientserver.ClientServerConnection, "send_command", "py4j.calls")
    tracer.counter_wrap(py4j.java_gateway.GatewayConnection, "send_command", "py4j.calls")

    tracer.wrap(Session, "vacuum", "session.vacuum", _after_vacuum)
    tracer.wrap(Transaction, "commit", "transaction.commit")
    tracer.wrap(ManifestStore, "load", "catalog.load", _after_load)
    tracer.wrap(ManifestStore, "commit", "catalog.commit", _after_commit)

    for meth in (
        "select_df", "select", "vector_search", "insert", "insert_df",
        "update", "delete", "update_where", "delete_where", "compact",
        "optimize",
    ):
        tracer.wrap(table_mod.Table, meth, f"table.{meth}")

    # to_spark_predicate is bound into table's namespace at import time
    tracer.wrap(expr_mod, "to_spark_predicate", "expr.predicate")
    tracer.wrap(table_mod, "to_spark_predicate", "expr.predicate")
    tracer.wrap(pruning_mod, "prune_files_by_partition", "plans.prune", _after_prune)
    tracer.wrap(pruning_mod, "prune_files", "plans.prune", _after_prune)
    tracer.wrap(vector_mod, "distance_column", "functions.distance")

    for meth in ("toArrow", "collect", "count", "toPandas"):
        tracer.wrap(DataFrame, meth, "spark.action")
    tracer.wrap(DataFrameWriter, "save", "spark.action")
    tracer.wrap(DataFrameWriter, "parquet", "spark.action")
