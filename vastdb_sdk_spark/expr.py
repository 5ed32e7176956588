"""Predicate expression DSL + translation to Spark SQL text.

The reference accepts **ibis** boolean expressions (including the deferred
form ``ibis._.col > 2``) and compiles them to an Arrow Compute IR flatbuffer
(vastdb/_internal.py:200-325, 2849-2916). We keep the same user-facing
operator surface — ``t['b'] < 2``, ``&``/``|``/``~``, ``between``, ``isin``,
``isnull``, ``contains``, ``startswith``, struct sub-field chains
``t['s']['q']['q1']`` (vastdb/tests/test_nested.py:103-160) — but compile to
SQL text that Spark parses into one ``Column`` (``F.expr``), and let Catalyst
do the pushdown. Like the reference's single IR blob, a predicate crosses
the JVM boundary once; built node by node as ``Column`` objects, a 100-key
``isin`` took ~430 py4j round trips. :func:`quote_ident` and
:func:`sql_literal` are the shared renderer for plan-time SQL text.

Deliberate superset (SURVEY.md §2.2 / Phase 1): the reference restricts
predicates to AND-of-single-column-OR-groups (vastdb/_internal.py:280-283)
and only supports NOT over isnull; Catalyst has no such restriction, so any
boolean combination is accepted here.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
from typing import Any, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from .errors import InvalidArgument, NotSupportedCommand

# ---------------------------------------------------------------------------
# expression tree


class Expr:
    """Base boolean/valued expression node."""

    # -- boolean algebra ---------------------------------------------------
    def __and__(self, other: "Expr") -> "Expr":
        return BinOp("and", self, _wrap(other))

    def __rand__(self, other: Any) -> "Expr":
        return BinOp("and", _wrap(other), self)

    def __or__(self, other: "Expr") -> "Expr":
        return BinOp("or", self, _wrap(other))

    def __ror__(self, other: Any) -> "Expr":
        return BinOp("or", _wrap(other), self)

    def __invert__(self) -> "Expr":
        return Not(self)

    # -- comparisons -------------------------------------------------------
    def __eq__(self, other: Any) -> "Expr":  # type: ignore[override]
        return BinOp("==", self, _wrap(other))

    def __ne__(self, other: Any) -> "Expr":  # type: ignore[override]
        return BinOp("!=", self, _wrap(other))

    def __lt__(self, other: Any) -> "Expr":
        return BinOp("<", self, _wrap(other))

    def __le__(self, other: Any) -> "Expr":
        return BinOp("<=", self, _wrap(other))

    def __gt__(self, other: Any) -> "Expr":
        return BinOp(">", self, _wrap(other))

    def __ge__(self, other: Any) -> "Expr":
        return BinOp(">=", self, _wrap(other))

    # -- arithmetic (superset; used by vector_search predicates etc.) ------
    # The manifest pruner (plans/pruning.py) only understands bare
    # column-vs-literal comparisons; arithmetic anywhere in a predicate
    # makes extract_intervals return None (no pruning) — correct, never
    # wrong-results. Covered by test_arithmetic_predicates_never_prune.
    def __add__(self, other: Any) -> "Expr":
        return BinOp("+", self, _wrap(other))

    def __radd__(self, other: Any) -> "Expr":
        return BinOp("+", _wrap(other), self)

    def __sub__(self, other: Any) -> "Expr":
        return BinOp("-", self, _wrap(other))

    def __rsub__(self, other: Any) -> "Expr":
        return BinOp("-", _wrap(other), self)

    def __mul__(self, other: Any) -> "Expr":
        return BinOp("*", self, _wrap(other))

    def __rmul__(self, other: Any) -> "Expr":
        return BinOp("*", _wrap(other), self)

    def __truediv__(self, other: Any) -> "Expr":
        return BinOp("/", self, _wrap(other))

    def __rtruediv__(self, other: Any) -> "Expr":
        return BinOp("/", _wrap(other), self)

    def __mod__(self, other: Any) -> "Expr":
        return BinOp("%", self, _wrap(other))

    def __rmod__(self, other: Any) -> "Expr":
        return BinOp("%", _wrap(other), self)

    def __neg__(self) -> "Expr":
        return BinOp("-", Literal(0), self)

    # -- reference predicate dialect --------------------------------------
    def between(self, lo: Any, hi: Any) -> "Expr":
        # reference rewrites to (>= lo) AND (<= hi): vastdb/_internal.py:594-599
        return (self >= lo) & (self <= hi)

    def isin(self, values: Iterable[Any]) -> "Expr":
        values = list(values)
        if not values:
            # reference raises NotImplementedError on empty isin
            # (vastdb/tests/test_tables.py:628-629)
            raise NotSupportedCommand("isin() with an empty list is not supported")
        return Isin(self, values)

    def isnull(self) -> "Expr":
        return IsNull(self)

    def notnull(self) -> "Expr":
        return Not(IsNull(self))

    def contains(self, substr: str) -> "Expr":
        # reference: match_substring call, vastdb/_internal.py:591-592
        return StrOp("contains", self, substr)

    def startswith(self, prefix: str) -> "Expr":
        # reference rewrites to a utf8 byte-range scan (vastdb/util.py:162-169);
        # Spark pushes StringStartsWith down natively.
        return StrOp("startswith", self, prefix)

    def endswith(self, suffix: str) -> "Expr":
        return StrOp("endswith", self, suffix)

    # -- struct sub-field access ------------------------------------------
    def __getitem__(self, name: str) -> "Expr":
        raise InvalidArgument(f"cannot take sub-field of {type(self).__name__}")

    def __bool__(self) -> bool:
        raise TypeError(
            "Predicate expressions cannot be coerced to bool; "
            "use &, | and ~ instead of and/or/not"
        )

    def __hash__(self):
        return id(self)

    # -- compilation -------------------------------------------------------
    def to_sql(self) -> str:
        raise NotImplementedError

    def to_spark(self) -> Column:
        return F.expr(self.to_sql())

    def root_columns(self) -> set:
        return {n.path[0] for n in _walk(self) if isinstance(n, ColumnRef)}


class ColumnRef(Expr):
    """A (possibly nested) column reference: path = ('s', 'q', 'q1')."""

    def __init__(self, *path: str):
        self.path = tuple(path)

    def __getitem__(self, name: str) -> "ColumnRef":
        return ColumnRef(*self.path, name)

    def __getattr__(self, name: str) -> "ColumnRef":
        if name.startswith("_") or name in Expr.__dict__:
            raise AttributeError(name)
        return ColumnRef(*self.path, name)

    def to_sql(self) -> str:
        # a subscript is what Column.getField builds; "a.b" names one column
        return quote_ident(self.path[0]) + "".join(f"[{sql_literal(p)}]" for p in self.path[1:])

    def __repr__(self) -> str:
        return f"ColumnRef({'.'.join(self.path)})"


class Literal(Expr):
    def __init__(self, value: Any):
        self.value = value

    def to_sql(self) -> str:
        return sql_literal(self.value)

    def __repr__(self) -> str:
        return f"Literal({self.value!r})"


_SQL_BINOPS = {"==": "=", "and": "AND", "or": "OR"}


class BinOp(Expr):
    def __init__(self, op: str, left: Expr, right: Expr):
        self.op = op
        self.left = left
        self.right = right

    def to_sql(self) -> str:
        # spaces around the operator: "a - -1" must never read as a comment
        op = _SQL_BINOPS.get(self.op, self.op)
        if self.op not in ("and", "or"):
            return f"({self.left.to_sql()} {op} {self.right.to_sql()})"
        # a chain renders flat: Spark's parser overflows its stack at ~150
        # nested parentheses (it balances a flat chain of over three terms)
        terms, node = [], self
        while isinstance(node, BinOp) and node.op == self.op:
            terms.append(node.right)
            node = node.left
        terms.append(node)
        return "(" + f" {op} ".join(t.to_sql() for t in reversed(terms)) + ")"

    def __repr__(self) -> str:
        return f"({self.left!r} {self.op} {self.right!r})"


class _Unary(Expr):
    def __init__(self, inner: Expr):
        self.inner = inner


class Not(_Unary):
    def to_sql(self) -> str:
        return f"(NOT {self.inner.to_sql()})"


class IsNull(_Unary):
    def to_sql(self) -> str:
        return f"({self.inner.to_sql()} IS NULL)"


class Isin(_Unary):
    def __init__(self, inner: Expr, values: list):
        super().__init__(inner)
        self.values = [_to_spark_literal(v) for v in values]

    def to_sql(self) -> str:
        vals = ", ".join(sql_literal(v) for v in self.values)
        return f"({self.inner.to_sql()} IN ({vals}))"


class StrOp(_Unary):
    def __init__(self, op: str, inner: Expr, arg: str):
        super().__init__(inner)
        self.op = op
        self.arg = arg

    def to_sql(self) -> str:  # contains / startswith / endswith are SQL functions too
        return f"{self.op}({self.inner.to_sql()}, {sql_literal(self.arg)})"


# ---------------------------------------------------------------------------
# deferred column references: ``from vastdb_sdk_spark.expr import _``
# mirrors ``ibis._`` (resolved at select() time against the table schema,
# vastdb/table.py:491-493)


class _DeferredNamespace:
    def __getattr__(self, name: str) -> ColumnRef:
        if name.startswith("__"):
            raise AttributeError(name)
        return ColumnRef(name)

    def __getitem__(self, name: str) -> ColumnRef:
        return ColumnRef(name)


_ = _DeferredNamespace()


# ---------------------------------------------------------------------------
# helpers


def _wrap(value: Any) -> Expr:
    return value if isinstance(value, Expr) else Literal(value)


def _to_spark_literal(value: Any) -> Any:
    """Normalize Arrow and NumPy scalars to plain Python values."""
    if isinstance(value, pa.Scalar):
        return value.as_py()
    if isinstance(value, np.generic):
        return value.item()
    return value


def quote_ident(name: str) -> str:
    """A backtick-quoted SQL identifier naming exactly ``name``."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: Any) -> str:
    """SQL text of a Python value, typed as ``F.lit(value)`` types it (ints
    INT or BIGINT by magnitude, floats DOUBLE, NumPy scalars as Python
    values); a naive ``datetime`` is read in the process's local time zone."""
    value = _to_spark_literal(value)
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        if not -(2**63) <= value < 2**63:
            raise InvalidArgument(f"integer literal {value} is outside the BIGINT range")
        return str(value)
    if isinstance(value, float):
        # Spark casts 'nan', 'inf' and '-inf' to the IEEE values
        return repr(value) + "D" if math.isfinite(value) else f"CAST('{value}' AS DOUBLE)"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, decimal.Decimal) and value.is_finite():
        return f"{value}BD"
    if isinstance(value, (bytes, bytearray)):
        return f"X'{value.hex()}'"
    if isinstance(value, _dt.datetime):
        utc = value.astimezone(_dt.timezone.utc)
        return f"TIMESTAMP'{utc.isoformat(sep=' ', timespec='microseconds')}'"
    if isinstance(value, _dt.date):
        return f"DATE'{value.isoformat()}'"
    if isinstance(value, list):
        return f"array({', '.join(map(sql_literal, value))})"
    raise InvalidArgument(f"unsupported literal {value!r} of type {type(value).__name__}")


def _validate_path(schema: pa.Schema, path: tuple) -> None:
    if path[0] not in schema.names:
        raise InvalidArgument(f"unknown column {path[0]!r}; table has {schema.names}")
    dt = schema.field(path[0]).type
    for part in path[1:]:
        if not pa.types.is_struct(dt):
            raise InvalidArgument(
                f"cannot access sub-field {part!r}: {dt} is not a struct"
            )
        idx = dt.get_field_index(part)
        if idx < 0:
            raise InvalidArgument(f"struct has no field {part!r}")
        dt = dt.field(idx).type


def _walk(pred: Expr) -> Iterator[Expr]:
    """Every node of ``pred``, iteratively (trees can be deep chains)."""
    stack = [pred]
    while stack:
        node = stack.pop()
        yield node
        if isinstance(node, BinOp):
            stack += [node.left, node.right]
        elif isinstance(node, _Unary):
            stack.append(node.inner)


def validate_predicate(pred: Expr, schema: pa.Schema) -> None:
    """The 'analyzer' step: resolve every column path against the table's
    Arrow schema (reference resolves Deferred/ibis expressions at select
    time — vastdb/table.py:491-493)."""
    for node in _walk(pred):
        if isinstance(node, ColumnRef):
            _validate_path(schema, node.path)


def to_spark_predicate(pred: Any, schema: pa.Schema | None = None) -> Column | None:
    """Compile a predicate (our DSL, bool shortcut, or Spark Column) to a
    Spark Column. ``True`` -> no filter (None), ``False`` -> lit(False)
    (reference shortcut: vastdb/table.py:485-489)."""
    if pred is None or pred is True:
        return None
    if pred is False:
        return F.lit(False)
    if isinstance(pred, Column):
        return pred
    if isinstance(pred, Expr):
        if schema is not None:
            validate_predicate(pred, schema)
        return pred.to_spark()
    raise InvalidArgument(f"unsupported predicate type: {type(pred)!r}")
