#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one client thread, a closed
loop on ``local[<cpus>]``: set-up (session start, corpus generation, table
load, warm-up), a timed phase of ``--seconds``, then the correctness checks.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A readable summary goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
# C1 only: C2 compiles for minutes after start, doubling CPU per op and making
# a short run's timing depend on when compilation ends and on host steal.
# With C1 alone the window medians settle within the warm-up. No perf-data
# file: the JVM would write it to the system temp dir, outside the checkout.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"
SETUP_REPS = 3
OP_LIST_LEN = 3000
PROBE_OP = -2  # op id for the benchmark's own probes between ops
JOB_GROUP = "perfbench-op-"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["lookup", "dml", "analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "vastdb_sdk_spark", "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def start_spark(work: str):
    """The engine's own ``build_spark``, pointed at scratch space inside
    the checkout and sized to the machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM: spark-submit's launcher and the driver it starts
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} {JVM_OPTS}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from vastdb_sdk_spark.config import EngineConfig
    from vastdb_sdk_spark.session import build_spark

    conf = EngineConfig(extra_spark_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    })
    return build_spark(conf, app_name="perfbench")


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, spark, workload, tracer):
        self.spark = spark
        self.w = workload
        self.tracer = tracer
        self.ops = workload.op_list(OP_LIST_LEN)
        self.next = 0
        self.latencies: list[float] = []
        self.outcomes: list = []
        self.walls: list[tuple[float, float]] = []  # epoch seconds per op
        self.writes: list[dict] = []  # new files per op, traced dml only

    def one(self) -> None:
        i = self.next
        if i >= len(self.ops):
            raise RuntimeError("op list exhausted; raise OP_LIST_LEN")
        op = self.ops[i]
        self.next += 1
        before = None
        if self.tracer is not None:
            self.tracer.op = PROBE_OP
            before = self.w.file_state()
            self.spark.sparkContext.setJobGroup(f"{JOB_GROUP}{i}", op.kind, False)
            self.tracer.op = i
        e0 = time.time()
        t0 = time.perf_counter()
        out = self.w.run(op, self.tracer)
        dt = time.perf_counter() - t0
        e1 = time.time()
        if self.tracer is not None:
            self.tracer.op = PROBE_OP
            if before is not None:
                after = self.w.file_state()
                self.writes.append({p: v for p, v in after.items() if p not in before})
            else:
                self.writes.append({})
        self.latencies.append(dt)
        self.outcomes.append(out)
        self.walls.append((e0, e1))

    def warm_up(self) -> None:
        """Untimed ops, whole windows at a time, until the window median
        stops falling (or the cap); the timed phase then starts at the
        beginning of a rotation."""
        from stats import warmed_up

        t0 = time.perf_counter()
        medians = []
        while True:
            start = len(self.latencies)
            for _ in range(self.w.window):
                self.one()
            medians.append(statistics.median(self.latencies[start:]))
            if len(medians) < self.w.warm_min_windows:
                continue
            if warmed_up(medians, self.w.warm_tolerance) or time.perf_counter() - t0 > self.w.warm_cap_s:
                break
        self.warm_windows = medians

    def timed(self, seconds: float) -> tuple[int, float]:
        """Whole windows, at least the workload's minimum of them, until
        ``seconds`` have passed, so every run times the same mix of op
        kinds."""
        first = len(self.latencies)
        t0 = time.perf_counter()
        windows = 0
        while windows < self.w.timed_min_windows or time.perf_counter() - t0 < seconds:
            for _ in range(self.w.window):
                self.one()
            windows += 1
        return first, time.perf_counter() - t0


def run(args, work: str) -> tuple[dict, dict]:
    """Returns (result JSON, summary extras)."""
    sys.path.insert(0, ROOT)
    import probes
    from stats import tail, window_drift
    from layertrace import Tracer, install_layer_wraps
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_spark(work)
    session_start_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            tracer = Tracer()
            install_layer_wraps(tracer)
        w = WORKLOADS[args.workload](spark, work, args.seed)
        runner = Runner(spark, w, tracer)  # the op list exists before any timing
        w.prepare()

        reps = []
        for rep in range(SETUP_REPS):
            r0 = time.perf_counter()
            w.setup(rep)
            reps.append(time.perf_counter() - r0)
        w0 = time.perf_counter()
        runner.warm_up()
        warm_s = time.perf_counter() - w0
        setup_s = session_start_s + statistics.median(reps) + warm_s

        py0, jvm0, gc0 = time.process_time(), probes.jvm_cpu_s(spark), probes.jvm_gc_ms(spark)
        host0 = probes.host_cpu()
        first, elapsed = runner.timed(args.seconds)
        host1 = probes.host_cpu()
        py1, jvm1, gc1 = time.process_time(), probes.jvm_cpu_s(spark), probes.jvm_gc_ms(spark)
        n = len(runner.latencies) - first
        lat = runner.latencies[first:]
        if tracer is not None:
            tracer.op = PROBE_OP

        # correctness, outside every timed region: every op, warm-up included
        oks = w.check(runner.outcomes)
        extras = w.finish()
        if extras.get("final_ok") is False:
            oks = oks + [False]
        failed = oks.count(False)
        attempted = len(oks)
        heap_mb = probes.heap_retained_mb(spark)

        tail_q, tail_s = tail(lat)
        driver_cpu = (py1 - py0) * 1000 / n
        jvm_cpu = (jvm1 - jvm0) * 1000 / n
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (n / elapsed, "1/s"),
            "p50_ms": (statistics.median(lat) * 1000, "ms"),
            "p90_ms": (tail_s * 1000, "ms"),
            "cpu_ms_per_op": (driver_cpu + jvm_cpu, "ms"),
            "heap_retained_mb": (heap_mb, "MB"),
        }
        timed_outcomes = runner.outcomes[first:]
        by_class: dict[str, list[float]] = {}
        for o, dt in zip(timed_outcomes, lat):
            by_class.setdefault(w.kind_class(o.op), []).append(dt)
        space = extras.get("space", {})

        def p50_ms(cls):
            xs = by_class.get(cls)
            return statistics.median(xs) * 1000 if xs else 0.0

        steal, idle = probes.host_pcts(host0, host1)
        layer = {
            "steady.window_drift": (window_drift(lat, w.window), "ratio"),
            "driver.cpu_ms_per_op": (driver_cpu, "ms"),
            "spark.jvm_cpu_ms_per_op": (jvm_cpu, "ms"),
            "spark.gc_ms_per_op": ((gc1 - gc0) / n, "ms"),
            "host.steal_pct": (steal, "%"),
            "host.idle_pct": (idle, "%"),
            "table.files_live": (space.get("files_live", 0), "count"),
            "table.dv_files_live": (space.get("dv_files_live", 0), "count"),
            "operators.build_ms": (sum(o.build_s for o in timed_outcomes) * 1000 / n, "ms"),
            "operators.exec_ms": (sum(o.exec_s for o in timed_outcomes) * 1000 / n, "ms"),
            "arrow.rows_per_op": (sum(o.rows for o in timed_outcomes) / n, "count"),
            "arrow.bytes_per_op": (sum(o.nbytes for o in timed_outcomes) / n, "B"),
            "arrow.fetch_ms": (sum(o.fetch_s for o in timed_outcomes) * 1000 / n, "ms"),
        }
        # the dml workload's own latency classes; 0 on the other workloads
        layer.update({
            "dml.read_p50_ms": (p50_ms("read"), "ms"),
            "dml.insert_p50_ms": (p50_ms("insert"), "ms"),
            "dml.dml_p50_ms": (p50_ms("dml"), "ms"),
            "dml.maintenance_s": (p50_ms("maintain") / 1000, "s"),
            "dml.space_amp": (
                space["state_bytes"] / space["fresh_bytes"] if w.name == "dml" else 0.0, "ratio"
            ),
        })
        if tracer is not None:
            layer.update(traced_metrics(spark, tracer, runner, first, n, elapsed, w, space))
            self_ms = tracer.op_self_totals(set(range(first, first + n)))
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{w.name}-{args.seed}.jsonl"))
            tracer.uninstall()
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": declared(layer if args.trace else e2e, "per_layer" if args.trace else "end_to_end"),
        }
        summary = dict(e2e)
        summary.update(layer)
        summary["error_rate"] = (failed / attempted, "ratio")
        summary["failed_ops"] = (
            [o.op.kind for o, ok in zip(runner.outcomes, oks) if not ok]
            + ([] if extras.get("final_ok", True) else ["final_table"]), "kinds")
        summary["class_p50_ms"] = ({c: round(p50_ms(c), 1) for c in sorted(by_class)}, "ms")
        summary["timed_ops"] = (n, "count")
        summary["tail_quantile"] = (tail_q, "q")
        summary["warmup_window_p50_ms"] = ([round(m * 1000, 1) for m in runner.warm_windows], "ms")
        summary["warmup_ops"] = (first, "count")
        summary["setup_reps_s"] = ([round(r, 3) for r in reps], "s")
        summary["session_start_s"] = (session_start_s, "s")
        if tracer is not None:
            summary["self_ms_per_op"] = ({k: round(v * 1000 / n, 3) for k, v in sorted(self_ms.items())}, "ms")
        return result, summary
    finally:
        stop_spark(spark)


def declared(computed: dict, section: str) -> dict:
    """The metrics BENCHMARK.json declares in ``section``, each with the unit
    declared there."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[section]
    from stats import METRIC_NAME

    out = {}
    for m in spec:
        if not METRIC_NAME.fullmatch(m["name"]):
            raise ValueError(f"metric name {m['name']!r} breaks the name pattern")
        value, unit = computed[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: computed in {unit}, declared in {m['unit']}")
        out[m["name"]] = {"value": float(value), "unit": unit}
    return out


def traced_metrics(spark, tracer, runner, first: int, n: int, elapsed: float, w, space: dict) -> dict:
    import probes
    from layertrace import covered

    timed = set(range(first, first + n))
    spans = [s for s in tracer.spans if s.op in timed]

    def union_ms(name: str) -> float:
        return covered([(s.start, s.end) for s in spans if s.name == name], -1e18, 1e18) * 1000

    actions = [(s.start, s.end) for s in spans if s.name == "spark.action"]
    plan = 0.0
    for s in spans:
        if s.name in ("table.select_df", "table.vector_search"):
            plan += (s.end - s.start) - covered(actions, s.start, s.end)
    counts = tracer.op_counts(timed)
    files_in = counts.get("plans.files_in", 0)

    probes.wait_jobs_settled(spark)
    jobs = probes.job_records(spark, JOB_GROUP)
    per_op_jobs: dict[int, list[dict]] = {}
    for j in jobs:
        i = int(j["group"][len(JOB_GROUP):])
        if i in timed:
            per_op_jobs.setdefault(i, []).append(j)
    job_ms = gap_ms = 0.0
    for i in timed:
        e0, e1 = runner.walls[i]
        iv = [(j["start_ms"] / 1000, j["end_ms"] / 1000) for j in per_op_jobs.get(i, [])]
        c = covered(iv, e0, e1)
        job_ms += c * 1000
        gap_ms += (e1 - e0 - c) * 1000
    njobs = sum(len(v) for v in per_op_jobs.values())

    writes = [runner.writes[i] for i in timed]
    data_written = sum(1 for wr in writes for k, _ in wr.values() if k == "data")
    dv_written = sum(1 for wr in writes for k, _ in wr.values() if k == "dv")
    maint = [i for i in timed if runner.ops[i].kind == "maintain"]
    dml_bytes = sum(
        b for i in timed if runner.ops[i].kind != "maintain" for _, b in runner.writes[i].values()
    )
    compact_bytes = sum(b for i in maint for _, b in runner.writes[i].values())
    # bytes the statements wrote per byte of the rows they changed, a row
    # valued at its share of a fresh parquet export of the live table
    write_amp = 0.0
    rows_affected = getattr(w, "rows_affected", 0)
    if rows_affected and space.get("live_rows"):
        per_row = space["fresh_bytes"] / space["live_rows"]
        write_amp = dml_bytes / (rows_affected * per_row)
    n_maint = max(1, len(maint))
    commits = counts.get("catalog.commits", 0)
    return {
        "trace.ops_per_s": (n / elapsed, "1/s"),
        "py4j.calls_per_op": (counts.get("py4j.calls", 0) / n, "count"),
        "py4j.ms_per_op": (counts.get("py4j.calls_s", 0) * 1000 / n, "ms"),
        "table.plan_ms": (plan * 1000 / n, "ms"),
        "expr.predicate_ms": (union_ms("expr.predicate") / n, "ms"),
        "plans.files_scanned_ratio": (
            counts.get("plans.files_kept", 0) / files_in if files_in else 0.0, "ratio"
        ),
        "plans.prune_ms": (union_ms("plans.prune") / n, "ms"),
        "spark.jobs_per_op": (njobs / n, "count"),
        "spark.tasks_per_op": (sum(j["tasks"] for v in per_op_jobs.values() for j in v) / n, "count"),
        "spark.job_ms_per_op": (job_ms / n, "ms"),
        "spark.driver_gap_ms": (gap_ms / n, "ms"),
        "spark.shuffle_bytes_per_op": (
            sum(j["shuffle_bytes"] for v in per_op_jobs.values() for j in v) / n, "B"
        ),
        "catalog.load_ms": (union_ms("catalog.load") / n, "ms"),
        "catalog.commit_ms": (union_ms("catalog.commit") / n, "ms"),
        "catalog.manifest_kb": (
            counts.get("catalog.manifest_bytes", 0) / 1024 / commits if commits else 0.0, "KiB"
        ),
        "catalog.cas_retries": ((counts.get("catalog.commit_loads", 0) - commits) / n, "count"),
        "transaction.commit_ms": (union_ms("transaction.commit") / n, "ms"),
        "table.data_files_written_per_op": (data_written / n, "count"),
        "table.dv_files_written_per_op": (dv_written / n, "count"),
        "table.write_amp": (write_amp, "ratio"),
        "table.compact_ms": (union_ms("table.compact") / n_maint, "ms"),
        "table.compact_bytes": (compact_bytes / n_maint, "B"),
        "session.vacuum_ms": (union_ms("session.vacuum") / n_maint, "ms"),
        "session.vacuum_files": (counts.get("session.vacuum_files", 0) / n_maint, "count"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print("perfbench: the engine sources (vastdb_sdk_spark/, __spark_entry__.py) "
              "are not in the parent directory of the benchmark", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    # a SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result, summary = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, (v, u) in summary.items():
        print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} {k} {v} {u}",
              file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
