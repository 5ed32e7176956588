"""Materialize-once pins for fan-out frames.

Spark has no subplan reuse short of ReusedExchange: a frame consumed by
several subtrees (both sides of a self-join, a normalizer + a scoring
join, ...) is re-evaluated per consumer, re-running its whole upstream
pipeline each time. ``pin`` materializes such a frame ONCE via an eager
``localCheckpoint`` — the lineage is truncated, every consumer reads the
stored blocks, and (unlike ``persist``) the optimizer never re-plans the
upstream tree per consumer. Pins are per-invocation state computed from
the inputs inside the caller's own job — nothing is shared across calls.

Lifecycle: a localCheckpoint's blocks live in the block manager until the
JVM Dataset is garbage-collected (ContextCleaner then unpersists them) —
fine for one-shot query frames, but long-lived loops (streams, per-table
DML) must not wait on GC. ``pin_scope`` gives those callers deterministic
cleanup: every pin created in its dynamic extent is released (blocking)
on exit. A RELEASED PIN CANNOT RECOMPUTE — its lineage was truncated —
so a scope must fully consume every derived frame before it closes.
"""

from __future__ import annotations

import contextlib
import contextvars

from pyspark.sql import DataFrame

_PIN_SINK: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "vastdb_pin_sink", default=None
)

# (SparkContext application id, RDD id) of every live pin THIS library
# created (r15): the session sweep below releases exactly these, so a
# user's own persist()ed or checkpointed frames are never unpersisted out
# from under them. RDD ids restart with each SparkContext, so a bare id
# left by a stopped context could name a user's RDD in its successor;
# the application id tells them apart. Keys are removed on release; a
# released-by-GC pin's stale key is harmless (the sweep looks ids up in
# the session's live-RDD map).
_LIVE_PIN_IDS: set[tuple[str, int]] = set()


def _pin_rdd(pinned: DataFrame):
    # the analyzed plan of a localCheckpoint result is a LogicalRDD
    # whose .rdd holds the persisted checkpoint blocks
    return pinned._jdf.queryExecution().analyzed().rdd()


def _pin_key(pinned: DataFrame, rdd) -> tuple[str, int]:
    return (pinned.sparkSession.sparkContext.applicationId, rdd.id())


def pin(frame: DataFrame) -> DataFrame:
    """Materialize ``frame`` once (eager localCheckpoint) and return the
    checkpointed frame. Inside a :func:`pin_scope`, the pin is registered
    for release on scope exit; otherwise its blocks are reclaimed by the
    ContextCleaner once the frame is unreferenced, or by an explicit
    :func:`release` / :func:`release_all_pins` sweep."""
    pinned = frame.localCheckpoint(eager=True)
    try:
        _LIVE_PIN_IDS.add(_pin_key(pinned, _pin_rdd(pinned)))
    except Exception:
        pass  # tracking is best-effort; GC still reclaims
    sink = _PIN_SINK.get()
    if sink is not None:
        sink.append(pinned)
    return pinned


def release(pinned: DataFrame) -> None:
    """Free a pin's blocks NOW (blocking). The frame (and anything built
    on it that was not itself materialized) is unusable afterwards: a
    localCheckpoint's lineage is truncated, so there is no recompute."""
    try:
        rdd = _pin_rdd(pinned)
        _LIVE_PIN_IDS.discard(_pin_key(pinned, rdd))
        rdd.unpersist(True)
    except Exception:
        pass  # session already stopped — nothing left to free


def release_all_pins(spark) -> int:
    """Unpersist every live pin THIS LIBRARY created (blocking) and
    return how many were released. Session-level sweep for callers that
    run many independent one-shot operator calls back to back (bench
    loops, correctness sweeps, long library sessions): a one-shot call's
    pins are reclaimed only when the JVM garbage-collects the Dataset
    (delayed further by py4j reference cycles), so hundreds of calls'
    localCheckpoint blocks pile up in the block manager in the meantime —
    storage pressure, eviction churn, and multi-second GC stalls measured
    on later queries (r14: dd_embed_neardup 3.1 s isolated vs 6.6 s
    median / 15.9 s max mid-bench). Call BETWEEN queries, never while a
    frame derived from the current call is still to be consumed —
    released pins cannot recompute. Frames the caller persisted or
    checkpointed themselves are NOT touched (r15; the sweep is scoped to
    the library's own pins), so it composes with user caching; pair it
    with ``spark.catalog.clearCache()`` if you also want SQL caches
    dropped."""
    released = 0
    try:
        sc = spark.sparkContext
        app = sc.applicationId
        jmap = sc._jsc.getPersistentRDDs()
        it = jmap.entrySet().iterator()
        while it.hasNext():
            kv = it.next()
            if (app, int(kv.getKey())) in _LIVE_PIN_IDS:
                kv.getValue().unpersist(True)
                released += 1
        # tracked ids absent from the live map were already reclaimed by
        # the ContextCleaner, and other contexts' ids died with them —
        # drop those stale entries too, so the registry never grows
        # across a long session
        _LIVE_PIN_IDS.clear()
    except Exception:
        pass  # session already stopped — nothing left to free
    return released


@contextlib.contextmanager
def pin_scope():
    """Deterministic pin lifecycle: every :func:`pin` created in this
    scope's dynamic extent is released (blocking) on exit. Use around
    loop bodies (micro-batches, per-table DML) where GC-driven cleanup
    would let checkpoint blocks accumulate. Scopes nest: an inner scope
    owns (and releases) only its own pins."""
    sink: list[DataFrame] = []
    token = _PIN_SINK.set(sink)
    try:
        yield
    finally:
        _PIN_SINK.reset(token)
        for frame in sink:
            release(frame)
