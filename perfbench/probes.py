"""Process, JVM and Spark probes. Each is read only at phase boundaries or
after the run, never inside a timed op."""

from __future__ import annotations

import os
import time


def jvm(spark):
    return spark.sparkContext._jvm


def jvm_cpu_s(spark) -> float:
    """CPU seconds the JVM process (driver and, in local mode, every
    executor task) has used so far."""
    pid = jvm(spark).java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    return (int(fields[11]) + int(fields[12])) / ticks  # utime + stime


def jvm_gc_ms(spark) -> float:
    beans = jvm(spark).java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def heap_retained_mb(spark) -> float:
    """JVM heap in use after explicit full collections."""
    rt = jvm(spark).java.lang.Runtime.getRuntime()
    system = jvm(spark).java.lang.System
    for _ in range(2):
        system.gc()
        time.sleep(0.1)
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def host_cpu() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_pcts(before: list[int], after: list[int]) -> tuple[float, float]:
    """(steal %, idle %) of all CPU time between two /proc/stat reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return 100.0 * d[7] / total, 100.0 * (d[3] + d[4]) / total


def wait_jobs_settled(spark, timeout_s: float = 10.0) -> None:
    """The status store is fed asynchronously by the listener bus; wait until
    no job is active so every job of the run has its end recorded."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_s
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.3)


def job_records(spark, group_prefix: str) -> list[dict]:
    """Every job in the status store whose job group starts with
    ``group_prefix``: id, group, epoch-ms submission and completion, task
    count, and the shuffle bytes of its stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = {}
    # (statuses, details, withSummaries, quantiles, taskStatuses)
    stage_list = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    for i in range(stage_list.size()):
        st = stage_list.apply(i)
        stages[st.stageId()] = stages.get(st.stageId(), 0) + st.shuffleReadBytes() + st.shuffleWriteBytes()
    out = []
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = j.jobGroup()
        if group.isEmpty() or not str(group.get()).startswith(group_prefix):
            continue
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or done.isEmpty():
            continue
        stage_ids = j.stageIds()
        shuffle = sum(stages.get(stage_ids.apply(k), 0) for k in range(stage_ids.size()))
        out.append({
            "group": str(group.get()),
            "start_ms": sub.get().getTime(),
            "end_ms": done.get().getTime(),
            "tasks": j.numTasks(),
            "shuffle_bytes": shuffle,
        })
    return out
