#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare row count,
column names, Arrow-level type classes, and an order-insensitive value hash.

Both results are fetched as Arrow tables so that type mismatches the driver
hashes differently (e.g. DuckDB HUGEINT -> decimal128(38,0) vs Spark int64,
the round-4 tpch_q12/tx_pack_greedy failure mode) are caught locally as a
TYPE failure instead of being masked by Python-level stringification.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py [sf_dir] --window
(--window restricts the run to the first 50 queries() entries — exactly
the slice the driver's correctness gate reads. A query selector is an exact
registry name, or else a prefix group: ``e1`` selects ``e1_*``, never
``e10_*``. A selector that matches nothing exits 2.)
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import sys
import time

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from vastdb_sdk_spark.session import build_spark  # noqa: E402


def type_class(t: pa.DataType) -> str:
    """Collapse an Arrow type to the equivalence class the comparison keys
    on.  Width differences (int32 vs int64) and tz presence are tolerated;
    family differences (decimal vs int vs float) are NOT — the driver's
    typed hash distinguishes them, so we must too."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t) or pa.types.is_fixed_size_binary(t):
        return "bin"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if (
        pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_fixed_size_list(t)
    ):
        return f"list<{type_class(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{type_class(f.type)}" for f in t)
        return "struct{" + inner + "}"
    if pa.types.is_map(t):
        return f"map<{type_class(t.key_type)},{type_class(t.item_type)}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def canon_cell(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        # both sides are decimal-class by the time we hash; normalize scale
        return f"dec:{v.normalize()}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "hex:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + "\x02".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted(v.items())
        return "{" + "\x02".join(f"{k}={canon_cell(x)}" for k, x in items) + "}"
    return str(v)


def table_lines(tbl: pa.Table, col_order: list[str]) -> list[str]:
    cols = [tbl.column(c).to_pylist() for c in col_order]
    n = tbl.num_rows
    return sorted(
        "\x01".join(canon_cell(col[i]) for col in cols) for i in range(n)
    )


def value_hash(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def spark_to_arrow(sdf) -> pa.Table:
    # pyspark 4 has toArrow(); fall back to a pandas round-trip if absent
    if hasattr(sdf, "toArrow"):
        return sdf.toArrow()
    return pa.Table.from_pandas(sdf.toPandas(), preserve_index=False)


def select(sel: str, names) -> set[str]:
    """Registry names a command-line selector picks: an exact name selects
    only itself, otherwise ``sel + "_"`` is a prefix group."""
    if sel in names:
        return {sel}
    return {n for n in names if n.startswith(sel + "_")}


def main():
    args = sys.argv[1:]
    window_only = "--window" in args
    args = [a for a in args if a != "--window"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    # oracles that learn constants from the corpus at build time (the BPE
    # merge table) must learn them from the SAME sf being checked — thread
    # the dir through unless the caller pinned it explicitly
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    only = set(args[1:])
    if window_only:
        only = set(list(entry_mod.queries())[:50]) | only
    if only:
        known = set(entry_mod.queries())
        resolved = set()
        for sel in only:
            hits = select(sel, known)
            if not hits:
                print(f"error: no query matches {sel!r}", file=sys.stderr)
                return 2
            resolved |= hits
        only = resolved
    spark = build_spark()
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    from vastdb_sdk_spark.operators.pinning import release_all_pins

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # between-queries hygiene (same trio as bench.py): drop SQL
        # caches, pins the previous query leaked, AND nudge the JVM so
        # the ContextCleaner drains its broadcast blocks — a 203-query
        # sweep otherwise piles up checkpoint + broadcast blocks in the
        # block manager
        spark.catalog.clearCache()
        release_all_pins(spark)
        spark.sparkContext._jvm.System.gc()
        try:
            stbl = spark_to_arrow(fn(spark, sf_dir))
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={stbl.num_rows} (no oracle, rows-only)")
            continue
        try:
            otbl = con.execute(oracles[name]).fetch_arrow_table()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = []
        scols = sorted(stbl.column_names)
        ocols = sorted(otbl.column_names)
        if stbl.num_rows != otbl.num_rows:
            problems.append(f"rows {stbl.num_rows} != {otbl.num_rows}")
        if scols != ocols:
            problems.append(f"cols {scols} != {ocols}")
        else:
            for c in scols:
                sc = type_class(stbl.schema.field(c).type)
                oc = type_class(otbl.schema.field(c).type)
                if sc != oc:
                    problems.append(
                        f"TYPE {c}: spark={stbl.schema.field(c).type}({sc})"
                        f" oracle={otbl.schema.field(c).type}({oc})"
                    )
        if not problems:
            slines = table_lines(stbl, scols)
            olines = table_lines(otbl, ocols)
            if value_hash(slines) != value_hash(olines):
                sset, oset = set(slines), set(olines)
                problems.append("value-hash mismatch")
                problems.append(
                    f"spark-only={list(sset - oset)[:3]}"
                    f" oracle-only={list(oset - sset)[:3]}"
                )
        dt = time.time() - t0
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"PASS {name}: rows={stbl.num_rows} ({dt:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
