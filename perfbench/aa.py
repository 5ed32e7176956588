#!/usr/bin/env python3
"""A/A mode: repeat one workload on unchanged code and report each metric's
median and interquartile spread.

    python3 perfbench/aa.py --workload dml --runs 10 --seed-base 100
    python3 perfbench/aa.py --workload lookup --runs 6 --trace 0 1

Runs ``run.py`` once per seed, one run at a time, from the repository root.
Spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(n=4)``; a metric's bound in BENCHMARK.json should sit
well above it. With ``--trace 0 1`` the runs alternate untraced and traced
on the same seeds, and the tracing overhead is reported as
1 - traced ops/s ÷ untraced ops/s, from the two medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: workload={workload} seed={seed} trace={trace} rc={proc.returncode}")
    result = json.loads(lines[-1])
    result["summary"] = {}
    for line in proc.stderr.splitlines():
        parts = line.split()
        if len(parts) >= 6 and parts[0] == "perfbench":
            try:
                result["summary"][parts[4]] = float(parts[5])
            except ValueError:
                pass
    return result


def summarise(results: list[dict]) -> dict[str, dict]:
    """Per metric: values in run order, median, quartiles and spread."""
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {
            "unit": results[0]["metrics"][name]["unit"],
            "median": med, "q1": q1, "q3": q3,
            "spread": quartile_spread(values),
            "values": values,
        }
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed-base", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    p.add_argument("--trace", type=int, nargs="+", choices=[0, 1], default=[0])
    args = p.parse_args(argv)
    if args.runs < 2:
        p.error("--runs must be at least 2 for quartiles")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    by_trace: dict[int, list[dict]] = {t: [] for t in args.trace}
    walls = []
    for i in range(args.runs):
        for t in args.trace:
            t0 = time.monotonic()
            r = run_once(args.workload, args.seed_base + i, seconds, t)
            walls.append(time.monotonic() - t0)
            by_trace[t].append(r)
            print(f"run {i + 1}/{args.runs} trace={t} seed={args.seed_base + i} "
                  f"correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
                  f"wall={walls[-1]:.1f}s steal={r['summary'].get('host.steal_pct', 0):.1f}% "
                  f"drift={r['summary'].get('steady.window_drift', 0):.2f}", file=sys.stderr, flush=True)

    report = {"workload": args.workload, "runs": args.runs, "seconds": seconds,
              "wall_s": {"median": statistics.median(walls), "max": max(walls)}}
    for t, results in by_trace.items():
        summary = summarise(results)
        report[f"trace{t}"] = summary
        print(f"\n{args.workload} trace={t}: {args.runs} runs of {seconds} s")
        print(f"{'metric':34} {'unit':6} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
        for name, s in summary.items():
            bound = bounds.get(name) if t == 0 else None
            flag = "" if bound is None else ("  ok" if s["spread"] <= bound / 3 else "  WIDE")
            print(f"{name:34} {s['unit']:6} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
                  f"{s['spread']:7.3f} {'' if bound is None else bound:>6}{flag}")
    if 0 in by_trace and 1 in by_trace:
        untraced = report["trace0"]["ops_per_s"]["median"]
        traced = report["trace1"]["trace.ops_per_s"]["median"]
        report["trace_overhead"] = 1 - traced / untraced
        print(f"\ntracing overhead: {report['trace_overhead']:.3f} "
              f"(traced {traced:.3f} vs untraced {untraced:.3f} ops/s, medians)")
    print(f"\nwall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    out = os.path.join(ROOT, ".perfbench_out", f"aa-{args.workload}-{args.seed_base}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nwritten {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
