#!/usr/bin/env python
"""Benchmark harness: runs every registry query, in ``queries()`` order,
at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line with per-query
wall-clock seconds for the driver's 50-query gate window. The full
per-query record goes to BENCH_COLD.json.

Execution is measured with the `noop` sink so we time the full distributed
plan (scan -> shuffle -> agg) without driver-side collect overhead dominating
small results.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from vastdb_sdk_spark.operators.pinning import release_all_pins  # noqa: E402
from vastdb_sdk_spark.session import build_spark  # noqa: E402

# Machine-drift CANARIES (VERDICT r8/r11/r12): this box drifts up to ~3x
# intra-day, so raw cross-round comparisons are meaningless — r11 and r12
# each burned a session adjudicating "regressions" that were the machine.
# These fixed trivial scans never change across rounds; every measurement
# is normalized against this PINNED baseline (the r11 driver capture — the
# fastest committed full-protocol session, commit 5ffcaf7), interleaved
# THROUGHOUT the run so slow-drift within one session is also corrected.
# Cross-round claims read `normalized` values only (tools/bench_compare.py).
CANARY_BASELINE = {
    "lineitem_count": 0.262,
    "lineitem_filter_agg": 0.3636,
    "orders_scan_noop": 0.2381,
}
CANARY_EVERY = 25  # checkpoint cadence, in registry queries


def _canary_thunks(spark, sf_dir):
    return (
        ("lineitem_count", lambda: spark.read.parquet(
            f"{sf_dir}/lineitem.parquet").count()),
        ("lineitem_filter_agg", lambda: spark.read.parquet(
            f"{sf_dir}/lineitem.parquet")
            .filter("l_quantity > 25").groupBy("l_returnflag").count()
            .write.mode("overwrite").format("noop").save()),
        ("orders_scan_noop", lambda: spark.read.parquet(
            f"{sf_dir}/orders.parquet")
            .write.mode("overwrite").format("noop").save()),
    )


def measure_canaries(spark, sf_dir, n_runs: int = 3) -> dict[str, float]:
    """Median-of-n canary wall times (warm JVM)."""
    out: dict[str, float] = {}
    for cname, thunk in _canary_thunks(spark, sf_dir):
        runs = []
        for _ in range(n_runs):
            t0 = time.time()
            thunk()
            runs.append(time.time() - t0)
        out[cname] = round(statistics.median(runs), 4)
    return out


def canary_drift(values: dict, baseline: dict | None = None) -> float:
    """This session's slowdown factor vs the pinned baseline: median over
    canaries of measured/baseline. 1.0 = baseline-speed machine; 2.8 was
    observed intra-day on this box. Pure function (unit-tested)."""
    baseline = baseline or CANARY_BASELINE
    ratios = [
        values[k] / baseline[k]
        for k in baseline
        if k in values and values[k] > 0 and baseline[k] > 0
    ]
    return round(statistics.median(ratios), 4) if ratios else 1.0


def nearest_checkpoint(idx: int, checkpoints: list[dict]) -> dict:
    """The canary checkpoint closest (by query index) to query ``idx``.
    Pure function (unit-tested)."""
    return min(checkpoints, key=lambda c: abs(c["at_query_index"] - idx))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = build_spark(app_name="vastdb_sdk_spark_bench")

    queries = entry_mod.queries()
    # warm up the JVM + parquet footer caches on a trivial action
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # canary checkpoint 0: full median-of-3, before any registry query
    checkpoints: list[dict] = []

    t_session0 = time.time()

    def _checkpoint(at_idx: int, n_runs: int) -> None:
        vals = measure_canaries(spark, sf_dir, n_runs)
        checkpoints.append({
            "at_query_index": at_idx,
            "values": vals,
            "drift": canary_drift(vals),
            # session-relative wall clock: lets a sub-cadence machine
            # spike (shorter than the 25-query checkpoint spacing) be
            # correlated post-hoc (ann_quantize_int8 adjudication, r13)
            "at_sec": round(time.time() - t_session0, 1),
        })

    _checkpoint(0, 3)
    canary = dict(checkpoints[0]["values"])  # legacy artifact key

    # Protocol: per query, one discarded cold run (codegen compile,
    # engine-warehouse build — the reference's own "first run discarded",
    # BASELINE.md scenario matrix), then N_WARM measured runs with the
    # MEDIAN recorded. Round 5 showed single warm runs drift 1.3-1.8x on
    # untouched queries from machine noise; the median of 3 pins that down
    # while min/max spread goes to the side file for drift diagnosis.
    n_warm = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    started_at: dict[str, float] = {}
    for qi, (name, fn) in enumerate(queries.items()):
        # interleaved canary checkpoint every CANARY_EVERY queries (single
        # run each — ~1 s; drift is a slow signal, cadence beats precision)
        if qi and qi % CANARY_EVERY == 0:
            _checkpoint(qi, 1)
        started_at[name] = round(time.time() - t_session0, 1)
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        cold[name] = round(time.time() - t0, 3)
        runs = []
        for _ in range(n_warm):
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.time() - t0)
        runs.sort()
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = [round(runs[0], 3), round(runs[-1], 3)]
        # drop anything a query persisted (e.g. LSH candidate sets) so later
        # queries aren't measured under another query's cache pressure
        spark.catalog.clearCache()
        # ... and release its pins (localCheckpoint blocks), which
        # clearCache does NOT touch: GC-driven cleanup lets hundreds of
        # queries' pins pile up in the block manager and was measured
        # distorting later queries 2x+ (r14, OPTIMIZATION_r14.md).
        # Between queries only — never inside a timed region.
        release_all_pins(spark)
        # ... and nudge the JVM so the ContextCleaner actually drains the
        # query's broadcast blocks (r15): broadcasts are reclaimed only
        # when a GC collects their JVM references — the same
        # accumulate-until-GC pathology the r14 pin sweep fixed for
        # localCheckpoints, left open for the hundreds of broadcast
        # relations a 200-query session builds. Between queries only —
        # never inside a timed region.
        spark.sparkContext._jvm.System.gc()
    # closing checkpoint: full median-of-3 after the last query
    _checkpoint(len(queries), 3)

    # per-query normalization: raw / drift of the NEAREST checkpoint, so a
    # cross-round reader compares baseline-machine seconds, not this
    # session's weather. queries_detail carries raw + normalized +
    # which-checkpoint for every query (VERDICT r12 #2).
    detail: dict[str, dict] = {}
    normalized: dict[str, float] = {}
    for qi, name in enumerate(queries):
        cp = nearest_checkpoint(qi, checkpoints)
        d = max(cp["drift"], 1e-9)
        normalized[name] = round(timings[name] / d, 3)
        detail[name] = {
            "raw": timings[name],
            "normalized": normalized[name],
            "drift": cp["drift"],
            "canary_at": cp["at_query_index"],
            "at_sec": started_at.get(name),
        }

    total = round(sum(timings.values()), 3)
    # Cold-run timings AND the full per-query dict go to a side file, NOT
    # stdout: the driver parses the last stdout line as JSON from a bounded
    # ~2000-char tail buffer. Round 2 overflowed it with two per-query
    # dicts; round 8 overflowed it again with ONE dict at 91 queries
    # (BENCH_r08.json came back "parsed": null). The stdout line now
    # carries per-query medians for the 50-query driver gate window only,
    # with a hard length budget and a trim ladder below it.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_COLD.json"),
            "w",
        ) as f:
            json.dump(
                {"cold_run": cold, "warm_min_max": spread, "n_warm": n_warm,
                 "sf": sf, "canary": canary, "all_queries": timings,
                 "total_all_queries": total,
                 # self-normalizing fields (VERDICT r12 #2): pinned
                 # baseline, interleaved checkpoints, and per-query
                 # normalized values — cross-round comparisons MUST read
                 # these (tools/bench_compare.py), never raw seconds
                 "canary_baseline": CANARY_BASELINE,
                 "canary_checkpoints": checkpoints,
                 "all_queries_normalized": normalized,
                 "total_all_queries_normalized": round(
                     sum(normalized.values()), 3),
                 "queries_detail": detail},
                f,
            )
    except OSError:
        pass

    window = list(queries.keys())[:50]
    print(stdout_line(timings, window, total, sf))
    return 0


def stdout_line(
    timings: dict, window: list, total: float, sf: float, budget: int = 1900
) -> str:
    """The ONE stdout JSON line the driver parses from its ~2000-char tail
    buffer. Guaranteed under ``budget`` chars: per-query medians for the
    gate window only, then a trim ladder (2-decimal values, then drop
    trailing queries with a queries_truncated marker). Unit-tested so a
    growing registry can never silently lose the round's bench record
    again (rounds 2 and 8 both did)."""
    line_queries = {q: timings[q] for q in window if q in timings}
    payload = {
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": line_queries,
        "sf": sf,
    }
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) >= budget:
        payload["queries"] = {q: round(v, 2) for q, v in line_queries.items()}
        line = json.dumps(payload, separators=(",", ":"))
    while len(line) >= budget and payload["queries"]:
        payload["queries"].pop(next(reversed(payload["queries"])))
        payload["queries_truncated"] = True
        line = json.dumps(payload, separators=(",", ":"))
    assert len(line) < budget, f"bench stdout line {len(line)} chars"
    return line


if __name__ == "__main__":
    sys.exit(main())
