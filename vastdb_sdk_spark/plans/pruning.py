"""Manifest-level file pruning from predicate ranges.

The reference gets data skipping two ways: Elysium tables are globally
sorted so the server scans only matching row ranges (vastdb/table.py:
865-887), and semi-sorted projections give min/max skipping on the sort key
(SURVEY.md §4). Spark's parquet reader skips *row groups* from footer stats
at execution time, but it still schedules a task per file; at 100 TB with
~100k files, planning-time *file* pruning from manifest min/max stats is the
difference between touching 100k files and touching 50.

This module extracts closed intervals for a column from a predicate
expression tree (our DSL) and drops manifest files whose recorded
[min, max] cannot intersect. Conservative: anything not understood means
"cannot prune".
"""

from __future__ import annotations

from typing import Any

from ..expr import BinOp, ColumnRef, Expr, Isin, Literal, StrOp

_NEG_INF = object()
_POS_INF = object()


class Interval:
    """Closed interval with open-ended sentinels."""

    def __init__(self, lo: Any = _NEG_INF, hi: Any = _POS_INF):
        self.lo = lo
        self.hi = hi

    def intersect(self, other: "Interval") -> "Interval":
        lo = other.lo if self.lo is _NEG_INF else (
            self.lo if other.lo is _NEG_INF else max(self.lo, other.lo)
        )
        hi = other.hi if self.hi is _POS_INF else (
            self.hi if other.hi is _POS_INF else min(self.hi, other.hi)
        )
        return Interval(lo, hi)

    def overlaps(self, lo: Any, hi: Any) -> bool:
        """Does this interval intersect [lo, hi]? Empty intervals (from
        contradictory conjunctions) overlap nothing."""
        if not _nonempty(self):
            return False
        if self.lo is not _NEG_INF and hi < self.lo:
            return False
        if self.hi is not _POS_INF and lo > self.hi:
            return False
        return True

    def __repr__(self) -> str:
        lo = "-inf" if self.lo is _NEG_INF else self.lo
        hi = "+inf" if self.hi is _POS_INF else self.hi
        return f"[{lo}, {hi}]"


def _comparable(v: Any) -> bool:
    return isinstance(v, (int, float, str)) and not isinstance(v, bool)


def _norm_literal(v: Any) -> Any:
    """Datetime/date literals compare against stats stored as ISO strings
    (space separator — see table._json_scalar_value)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def extract_intervals(pred: Any, col: str) -> list[Interval] | None:
    """Intervals that ``col`` must fall in for ``pred`` to hold; ``None``
    means unconstrained (no pruning possible).

    A predicate mixing literal TYPES on one column (col == 5 & col == 'a')
    makes the interval algebra's max/min/<= comparisons raise TypeError;
    planning must degrade to "cannot prune", never crash — the guard
    wrapper turns any such comparison failure into None."""
    try:
        return _extract_intervals(pred, col)
    except TypeError:
        return None


def _extract_intervals(pred: Any, col: str) -> list[Interval] | None:
    if not isinstance(pred, Expr):
        return None
    node = pred
    if isinstance(node, BinOp):
        if node.op == "and":
            left = _extract_intervals(node.left, col)
            right = _extract_intervals(node.right, col)
            if left is None:
                return right
            if right is None:
                return left
            out = [
                li.intersect(ri)
                for li in left
                for ri in right
            ]
            return [iv for iv in out if _nonempty(iv)] or [Interval(1, 0)]
        if node.op == "or":
            left = _extract_intervals(node.left, col)
            right = _extract_intervals(node.right, col)
            if left is None or right is None:
                return None  # one branch unconstrained -> no pruning
            return left + right
        # comparison: column vs literal (either side)
        cref, lit, op = None, None, node.op
        if isinstance(node.left, ColumnRef) and isinstance(node.right, Literal):
            cref, lit = node.left, node.right.value
        elif isinstance(node.right, ColumnRef) and isinstance(node.left, Literal):
            cref, lit = node.right, node.left.value
            flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
            op = flip.get(op, op)
        if cref is None or cref.path != (col,):
            return None
        lit = _norm_literal(lit)
        if not _comparable(lit):
            return None
        if op == "==":
            return [Interval(lit, lit)]
        if op == "<":
            return [Interval(hi=lit)]  # conservative: treat < as <=
        if op == "<=":
            return [Interval(hi=lit)]
        if op == ">":
            return [Interval(lo=lit)]
        if op == ">=":
            return [Interval(lo=lit)]
        return None
    if isinstance(node, Isin):
        if isinstance(node.inner, ColumnRef) and node.inner.path == (col,):
            vals = [_norm_literal(v) for v in node.values]
            if all(_comparable(v) for v in vals):
                return [Interval(v, v) for v in vals]
        return None
    if isinstance(node, StrOp) and node.op == "startswith":
        # prefix range (reference: util.prefix_to_range, vastdb/util.py:162-169):
        # prefix <= s < prefix+maxchar — lexicographic interval over stats
        if (
            isinstance(node.inner, ColumnRef)
            and node.inner.path == (col,)
            and node.arg
        ):
            return [Interval(node.arg, node.arg + "\U0010ffff")]
        return None
    return None


def _nonempty(iv: Interval) -> bool:
    if iv.lo is _NEG_INF or iv.hi is _POS_INF:
        return True
    return iv.lo <= iv.hi


def _temporal_literal_kinds(pred: Any, col: str) -> set:
    """Which temporal literal kinds ({'date', 'datetime'}) are compared
    against ``col`` anywhere in the tree. Empty set = none."""
    import datetime as _dt

    kinds: set = set()

    def _kind(v: Any) -> str | None:
        # order matters: datetime IS-A date
        if isinstance(v, _dt.datetime):
            return "datetime"
        if isinstance(v, _dt.date):
            return "date"
        return None

    def _walk(node: Any) -> None:
        if isinstance(node, BinOp):
            if node.op in ("and", "or"):
                _walk(node.left)
                _walk(node.right)
                return
            for cside, lside in ((node.left, node.right), (node.right, node.left)):
                if (
                    isinstance(cside, ColumnRef)
                    and cside.path == (col,)
                    and isinstance(lside, Literal)
                ):
                    k = _kind(lside.value)
                    if k:
                        kinds.add(k)
            return
        if isinstance(node, Isin):
            if isinstance(node.inner, ColumnRef) and node.inner.path == (col,):
                for v in node.values:
                    k = _kind(v)
                    if k:
                        kinds.add(k)
            return
        # ONLY follow a real stored `inner` (Not/IsNull/StrOp wrappers):
        # Expr.__getattr__ synthesizes child ColumnRefs for unknown names,
        # so a plain getattr(node, "inner") on a ColumnRef fabricates an
        # endless .inner chain and blows the stack (the walker bloom.py
        # shipped with had exactly this latent recursion for startswith
        # probes; regression-pinned in test_plans)
        inner = node.__dict__.get("inner") if isinstance(node, Expr) else None
        if inner is not None:
            _walk(inner)

    _walk(pred)
    return kinds


def _has_temporal_literal(pred: Any, col: str) -> bool:
    """Any datetime/date literal compared against ``col`` in the tree."""
    return bool(_temporal_literal_kinds(pred, col))


def _temporal_stats_hazard(pred: Any, col: str, col_type: Any) -> bool:
    """True when min/max pruning on ``col`` must be skipped: the predicate
    compares the column against a temporal literal, but the STORED column
    type does not match the literal's granularity. Spark evaluates such a
    predicate by casting the COLUMN (a string column probed with a
    datetime literal becomes a timestamp; a timestamp column probed with a
    date literal compares at midnight), while the stats comparison here is
    lexical over the normalized ISO string — a 'T'-separated stored string
    matches the predicate yet misses the space-separated probe, and a date
    probe 'YYYY-MM-DD' sorts strictly below the matching midnight stat
    'YYYY-MM-DD 00:00:00'. Either shape can FALSE-PRUNE a file that
    contains matching rows. Only the exactly-matching pairings are safe:
    datetime literal <-> timestamp column, date literal <-> date column
    (both sides then share one ISO format and lexical order is
    chronological order). Unknown column type (None) is a hazard."""
    kinds = _temporal_literal_kinds(pred, col)
    if not kinds:
        return False
    if col_type is None:
        return True
    try:
        import pyarrow as pa

        if kinds == {"datetime"} and pa.types.is_timestamp(col_type):
            return False
        if kinds == {"date"} and (
            pa.types.is_date32(col_type) or pa.types.is_date64(col_type)
        ):
            return False
    except Exception:
        return True
    return True


def _safe_overlaps(intervals: list[Interval], lo: Any, hi: Any) -> bool:
    """``any(overlaps)`` that degrades to True (keep the file) when a
    stats-vs-literal type mismatch makes the comparison itself raise —
    pruning must never turn a weird predicate into a planning crash."""
    try:
        return any(iv.overlaps(lo, hi) for iv in intervals if _nonempty(iv))
    except TypeError:
        return True


def prune_files(files: list, col: str, pred: Any, col_type: Any = None) -> list:
    """Drop FileEntry objects whose recorded col_stats[col] = [min, max]
    cannot satisfy ``pred``. Files without stats are kept (conservative).

    ``col_type`` is the column's pyarrow type when the caller knows it;
    temporal literals whose granularity doesn't match the stored type
    disable pruning on this column (see ``_temporal_stats_hazard`` — the
    same false-prune the Bloom path gates against)."""
    if _temporal_stats_hazard(pred, col, col_type):
        return files
    intervals = extract_intervals(pred, col)
    if intervals is None:
        return files
    out = []
    for fe in files:
        stats = getattr(fe, "col_stats", None) or {}
        mm = stats.get(col)
        if not mm:
            out.append(fe)
            continue
        lo, hi = mm
        if _safe_overlaps(intervals, lo, hi):
            out.append(fe)
    return out


def prune_files_by_partition(
    files: list, pred: Any, col_types: dict | None = None
) -> list:
    """Partition pruning at the manifest level: a file whose constant
    partition value (import_partitioned_files) cannot satisfy the predicate
    is dropped before Spark plans. The partition value is an exact point, so
    the min/max machinery applies with lo == hi. ``col_types`` maps column
    name -> pyarrow type for the temporal-literal hazard gate (same
    contract as :func:`prune_files`)."""
    part_cols = set()
    for fe in files:
        part_cols |= set(fe.partition or {})
    for col in part_cols:
        if _temporal_stats_hazard(pred, col, (col_types or {}).get(col)):
            continue
        intervals = extract_intervals(pred, col)
        if intervals is None:
            continue
        kept = []
        for fe in files:
            v = (fe.partition or {}).get(col)
            if v is None or not _comparable(v):
                kept.append(fe)
                continue
            if _safe_overlaps(intervals, v, v):
                kept.append(fe)
        files = kept
    return files
