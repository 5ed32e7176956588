#!/usr/bin/env python
"""Generate PLANS.md: physical-plan evidence for every registry query, in
``queries()`` order — pushed filters, read schemas, join strategies,
shuffle counts. This is the `.explain("formatted")`-and-iterate loop made
reviewable.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from vastdb_sdk_spark.plans import inspect as pi  # noqa: E402
from vastdb_sdk_spark.session import build_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_spark(app_name="plan_report")
    queries = entry_mod.queries()
    lines = [
        "# PLANS — physical-plan evidence (auto-generated by tools/plan_report.py)",
        "",
        f"Scale dir: `{sf_dir}`. For each registry query: pushed filters,",
        "read schemas (column pruning), join strategy counts, and shuffle",
        "(Exchange) counts from `.explain(\"formatted\")`.",
        "",
        "| query | pushed filters | read schemas | broadcast joins | sort-merge joins | shuffles |",
        "|---|---|---|---|---|---|",
    ]
    for name, fn in queries.items():
        df = fn(spark, sf_dir)
        pf = pi.pushed_filters(df)
        rs = pi.read_schemas(df)
        pf_s = "; ".join(pf)[:120] or "—"
        rs_s = "; ".join(s.replace("struct<", "")[:60] for s in rs)[:130] or "—"
        lines.append(
            f"| {name} | `{pf_s}` | `{rs_s}` | "
            f"{pi.broadcast_join_count(df)} | {pi.sortmerge_join_count(df)} | "
            f"{pi.exchange_count(df)} |"
        )
    lines.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(queries)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
