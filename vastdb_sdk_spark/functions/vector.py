"""Vector distance/similarity expressions — JVM-side, no Python UDFs.

Used by ``Table.vector_search`` (reference: vastdb/table.py:889-906 maps an
index metric name to a SQL distance fn, ``l2sq -> array_distance``,
vastdb/_internal.py:809-826) and by the ANN operators in
``operators/similarity.py``.

All expressions are ``zip_with``/``aggregate`` higher-order functions, so
the distance evaluation stays in the JVM and nothing crosses into Python.
Spark interprets higher-order functions (CodegenFallback) inside the
whole-stage-generated code rather than compiling them into it.

A distance to a literal query vector is built as one parsed SQL expression
(``distance_column``, ``cosine_similarity_to_lit``): built from ``F.lit``
per element, a 64-d query cost ~420 py4j round trips of plan construction.
:func:`distances` computes the same values on the driver, bit for bit.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..expr import quote_ident, sql_literal

# Why higher-order functions and not the dimensions unrolled into plain
# arithmetic, which codegen would compile: the unrolled form is
# bit-identical, but it inlines the query's literals into the generated
# Java, so Janino compiles it again for every query. A top-10 over
# 2k x 64-d took 460-810 ms unrolled vs 144-149 ms with zip_with/aggregate.


def vec_sql(vec) -> str:
    """SQL text of a literal DOUBLE array."""
    return "array(" + ", ".join(sql_literal(float(v)) for v in vec) + ")"


def dot(a: Column, b: Column) -> Column:
    """Sum of elementwise products, computed in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` over two array expressions given as SQL."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _l2sq_sql(a: str, b: str) -> str:
    """Squared Euclidean distance (reference metric 'l2sq')."""
    d = "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {d} * {d}), 0.0D, (acc, x) -> acc + x)"


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _lit_norm(q: list[float]) -> float:
    # explicit left fold, NOT builtin sum(): CPython >= 3.12 gives float
    # sum() Neumaier compensation, which would break the bit-identical
    # claim against Spark's plain left-fold aggregate in the last ulp
    qn = 0.0
    for v in q:
        qn += v * v
    return qn**0.5


def _cosine_to_lit_sql(col: str, vec: list[float]) -> str:
    q = [float(v) for v in vec]
    return f"({dot_sql(col, vec_sql(q))} / (sqrt({dot_sql(col, col)}) * {sql_literal(_lit_norm(q))}))"


def cosine_similarity_to_lit(col: str, vec: list[float]) -> Column:
    """``cosine_similarity(F.col(col), lit(vec))`` with the LITERAL's norm
    computed at plan time: ``norm`` over an array literal is a HOF
    aggregate Catalyst does not constant-fold, so the generic form
    re-evaluates an O(d) fold per ROW for a value known when the plan is
    built. Python's left-fold sum over doubles performs the identical
    IEEE operation sequence as the aggregate, so values are
    bit-identical with the generic expression."""
    return F.expr(_cosine_to_lit_sql(quote_ident(col), vec))


_METRICS = {
    "l2sq": lambda c, v: _l2sq_sql(c, vec_sql(v)),
    "l2": lambda c, v: _l2sq_sql(c, vec_sql(v)),
    # plan-time literal norm (see cosine_similarity_to_lit)
    "cosine": lambda c, v: f"(1.0D - {_cosine_to_lit_sql(c, v)})",
    # negative inner product: larger dot => closer
    "ip": lambda c, v: f"(-{dot_sql(c, vec_sql(v))})",
}


def distance_column(col: str, vec: list[float], metric: str = "l2sq") -> Column:
    """Distance of the array column named ``col`` to the literal ``vec``."""
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; have {sorted(_METRICS)}")
    return F.expr(_METRICS[metric](quote_ident(col), vec))


def distances(vectors: pa.ChunkedArray, vec: list[float], metric: str) -> np.ndarray | None:
    """:func:`distance_column`'s values over the Arrow array column
    ``vectors``, in float64 NumPy: each metric is the same left fold over
    the dimensions, one IEEE operation at a time in the SQL's order, so
    the values are bit-identical. None where the SQL gives a null or
    divides by zero, which Spark sorts first or rejects: a null or
    wrong-length vector, a null element, a zero cosine norm, and element
    types other than int and float."""
    q = np.asarray([float(v) for v in vec])
    arr = vectors.combine_chunks()
    if metric not in _METRICS or not len(q) or arr.null_count or not pa.types.is_list(arr.type):
        return None
    flat = arr.flatten()
    kind = flat.type
    if flat.null_count or not (pa.types.is_integer(kind) or pa.types.is_floating(kind)):
        return None
    if len(arr) and pc.min_max(pc.list_value_length(arr)).as_py() != {"min": len(q), "max": len(q)}:
        return None
    x = flat.to_numpy(zero_copy_only=False).reshape(len(arr), len(q))
    qn = _lit_norm(q.tolist())
    out = np.empty(len(arr))
    # blocks of rows that stay in cache while the fold walks their columns
    for start in range(0, len(arr), 4096):
        blk = x[start : start + 4096].astype(np.float64)
        if metric in ("l2sq", "l2"):
            d = _fold(np.square(blk - q))
        elif metric == "ip":
            d = -_fold(blk * q)
        else:
            den = np.sqrt(_fold(np.square(blk))) * qn
            if (den == 0).any():
                return None
            d = 1.0 - _fold(blk * q) / den
        out[start : start + len(blk)] = d
    return out


def _fold(terms: np.ndarray) -> np.ndarray:
    """Row sums of ``terms`` as the SQL's ``aggregate(..., 0.0D, (acc, x)
    -> acc + x)``: from 0.0, left to right (np.sum adds pairwise)."""
    acc = np.zeros(len(terms))
    for j in range(terms.shape[1]):
        acc += terms[:, j]
    return acc
