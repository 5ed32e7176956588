"""The benchmark's three closed-loop workloads.

Each workload builds its tables from the seeded corpus, hands out a seeded
op list that is generated in full before any timing starts, runs one op at
a time, and checks every op's output after the timed phase against an
oracle that never touches the engine: DuckDB over the source parquet for
reads, a pure-Python replay of the op log for writes, and the registry's
own ``oracle_sql()`` twins for the analytics queries.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

EVENTS_COLS = ["event_id", "user_id", "value"]
# the IN on event_type matches ~40% of the table; like the reference
# bench's IN query it is a limit-pushdown read
TYPE_IN_LIMIT = 1000
VEC_COLS = ["vec_id", "label"]
TOP_K = 10


@dataclass(frozen=True)
class Op:
    kind: str
    args: tuple = ()


@dataclass
class Outcome:
    """What one op returned, kept for the checks after the timed phase."""

    op: Op
    result: Any = None
    rows: int = 0
    nbytes: int = 0
    fetch_s: float = 0.0
    build_s: float = 0.0
    exec_s: float = 0.0


# ---------------------------------------------------------------------------
# op lists (pure: same seed, same list)

LOOKUP_SHAPES = [
    "point", "ts_between", "key_and_value", "or_ranges", "type_in",
    "users_isin", "vector",
]


def lookup_ops(seed: int, n: int) -> list[Op]:
    """The reference bench's five selective-scan shapes plus a 100-key
    ``isin`` and an exact vector top-k, in a fixed rotation so every run
    sees the same mix; only the literals depend on the seed."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        shape = LOOKUP_SHAPES[i % len(LOOKUP_SHAPES)]
        if shape == "point":
            args = (rng.randrange(datagen.N_USERS),)
        elif shape == "ts_between":
            lo = datagen.EVENTS_T0_US + rng.randrange(datagen.EVENTS_SPAN_US - 6 * 3_600_000_000)
            args = (lo, lo + 6 * 3_600_000_000)
        elif shape == "key_and_value":
            args = (rng.randrange(datagen.N_USERS), round(rng.uniform(0.0, 500.0), 2))
        elif shape == "or_ranges":
            a, b = (round(rng.uniform(0.0, 555.0), 1) for _ in range(2))
            args = (a, round(a + 0.5, 1), b, round(b + 0.5, 1))
        elif shape == "type_in":
            args = tuple(sorted(rng.sample(datagen.EVENT_TYPES, 2)))
        elif shape == "users_isin":
            args = tuple(sorted(rng.sample(range(datagen.N_USERS), 100)))
        else:
            args = tuple(round(rng.gauss(0.0, 0.1), 6) for _ in range(datagen.DIM))
        out.append(Op(shape, args))
    return out


# As many cheap inserts as writes and maintenance steps, so over whole cycles
# the median sits in the middle of the read cluster. The tail percentile
# leaves 10 samples beyond it, so it reads about the 11th-slowest op. The op
# kinds and their places in the cycle cost, slowest first: maintain,
# rowid_update, rowid_delete, the second update_where (more deletion vectors
# behind it), the first, delete_where. Over three cycles the 11th-slowest is
# the middle of the three second update_wheres. Over two it fell between
# the first update_where and delete_where, whose order swaps from run to run.
# Neither statistic then rests on the edge between two op kinds.
DML_CYCLE = [
    "insert", "read", "insert", "update_where", "insert", "read",
    "delete_where", "insert", "rowid_update", "read", "insert",
    "rowid_delete", "insert", "read", "update_where", "maintain",
]
INSERT_ROWS = 8
INSERT_KEY_BASE = 10_000_000
WRITE_SPAN = 5  # keys touched by one predicate or $row_id statement
READ_SPAN = 20


def dml_ops(seed: int, n: int) -> list[Op]:
    """A fixed cycle of writes, reads and one maintenance step; inserts take
    fresh keys, every other statement a seeded key range."""
    rng = random.Random(seed)
    out = []
    next_key = INSERT_KEY_BASE
    for i in range(n):
        kind = DML_CYCLE[i % len(DML_CYCLE)]
        if kind == "insert":
            rows = tuple(
                (
                    next_key + j,
                    rng.randrange(datagen.N_CUSTOMERS),
                    rng.choice("FOP"),
                    round(rng.uniform(1000.0, 500000.0), 2),
                    datagen.ORDERS_D0_US + rng.randrange(datagen.ORDER_DAYS) * datagen.DAY_US,
                    rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]),
                )
                for j in range(INSERT_ROWS)
            )
            next_key += INSERT_ROWS
            args = rows
        elif kind in ("update_where", "rowid_update"):
            args = (rng.randrange(datagen.N_ORDERS), round(rng.uniform(1.0, 999.0), 2))
        elif kind in ("delete_where", "rowid_delete", "read"):
            args = (rng.randrange(datagen.N_ORDERS),)
        else:
            args = ()
        out.append(Op(kind, args))
    return out


ANALYTICS_QUERIES = [
    "a1_tpch_q1", "tpch_q3", "tpch_q5", "tpch_q18", "w1_topk_per_group",
    "dd_minhash_sig", "tx_token_stats",
]


def analytics_ops(seed: int, n: int) -> list[Op]:
    """A fixed rotation of registry queries; the seed changes the data."""
    return [Op(ANALYTICS_QUERIES[i % len(ANALYTICS_QUERIES)]) for i in range(n)]


# ---------------------------------------------------------------------------
# result comparison


def _canon(v: Any) -> str:
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        if getattr(v, "tzinfo", None) is not None:
            v = v.replace(tzinfo=None) - v.utcoffset()
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + "\x02".join(_canon(x) for x in v) + "]"
    return str(v)


def table_digest(tbl: pa.Table) -> tuple[int, str]:
    """(row count, order-insensitive hash of the canonical row values), with
    columns taken in name order."""
    cols = [tbl.column(c).to_pylist() for c in sorted(tbl.column_names)]
    lines = sorted("\x01".join(_canon(col[i]) for col in cols) for i in range(tbl.num_rows))
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return tbl.num_rows, h.hexdigest()


def same_rows(got: pa.Table, want: pa.Table, key: str) -> bool:
    """Vectorised equality of two results, insensitive to row order and to
    integer or string width; ``key`` is unique in both."""
    if got.num_rows != want.num_rows or sorted(got.column_names) != sorted(want.column_names):
        return False
    names = sorted(got.column_names)
    got = _normalise(got.select(names)).sort_by(key)
    want = _normalise(want.select(names)).sort_by(key)
    return got.equals(want)


def _rows_by_key(tbl: pa.Table, like: pa.Table, key: str) -> pa.Table:
    """The rows of ``tbl`` whose ``key`` appears in ``like``."""
    return tbl.filter(pc.is_in(tbl.column(key), value_set=like.column(key).cast(tbl.schema.field(key).type)))


def _normalise(tbl: pa.Table) -> pa.Table:
    fields = []
    for f in tbl.schema:
        t = f.type
        if pa.types.is_integer(t):
            t = pa.int64()
        elif pa.types.is_floating(t):
            t = pa.float64()
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            t = pa.string()
        elif pa.types.is_timestamp(t):
            t = pa.timestamp("us")
        fields.append(pa.field(f.name, t))
    return tbl.cast(pa.schema(fields))


# ---------------------------------------------------------------------------
# workloads


class Workload:
    name = ""
    window = 7  # ops per warm-up window: one whole rotation or cycle
    # after the minimum windows, warm-up stops once a window's median no
    # longer falls by more than this share, or at the time cap
    warm_tolerance = 0.03
    warm_min_windows = 2
    warm_cap_s = 10.0

    timed_min_windows = 2
    tables: list[str] = []  # corpus tables the workload reads

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.corpus = os.path.join(work_dir, "corpus")

    def prepare(self) -> None:
        """Generate the seeded input files; not part of the set-up time."""
        self.source = datagen.write_corpus(self.seed, self.corpus, self.tables)

    def connect(self, rep: int):
        import vastdb_sdk_spark as vastdb

        session = vastdb.connect(os.path.join(self.work_dir, f"wh{rep}"), spark=self.spark)
        session.create_bucket("b")
        return session

    def setup(self, rep: int) -> None:
        """Build the workload's tables in a fresh warehouse."""
        raise NotImplementedError

    def op_list(self, n: int) -> list[Op]:
        raise NotImplementedError

    def run(self, op: Op, tracer) -> Outcome:
        raise NotImplementedError

    def check(self, outcomes: list[Outcome]) -> list[bool]:
        raise NotImplementedError

    def kind_class(self, op: Op) -> str:
        return "op"

    def finish(self) -> dict:
        """Workload-specific measurements taken after the checks."""
        return {}

    def file_state(self) -> dict[str, tuple[str, int]] | None:
        """Live files of the workload's engine table: path -> (kind, bytes),
        kind "data" or "dv"; None when the workload has no engine table."""
        return None


def _span(tracer, name):
    return nullcontext() if tracer is None else tracer.span(name)


class LookupWorkload(Workload):
    """Reads only: selective scans of a sorted, optimize()d events table and
    exact vector top-k over an l2sq-indexed embeddings table. Each op is one
    read-only transaction; driver plan construction dominates."""

    name = "lookup"
    window = len(LOOKUP_SHAPES)
    warm_min_windows = 3
    # Each shape costs about the same every time, so the sorted latencies
    # fall into seven clusters of one sample per window. With 6 to 9
    # windows the tail percentile (the 11th-slowest op) lies inside the
    # second-slowest shape's cluster. With 4 or 5 windows it changed
    # cluster with the window count, so with how fast the host was.
    timed_min_windows = 6
    tables = ["events", "embeddings"]

    def setup(self, rep: int) -> None:
        from vastdb_sdk_spark.streaming.events import EVENTS_SCHEMA

        session = self.connect(rep)
        embeddings = self.source["embeddings"]
        events_schema = pa.schema([
            ("event_id", pa.int64()), ("ts", pa.int64()), ("user_id", pa.int64()),
            ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
        ])
        with session.transaction() as tx:
            s = tx.bucket("b").create_schema("s")
            t = s.create_table("events", events_schema, sorting_key=["user_id", "ts"])
            t.insert_df(self.spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(self.corpus, "events.parquet")))
            e = s.create_table(
                "embeddings", embeddings.schema,
                vector_index={"column": "embedding", "metric": "l2sq"},
            )
            e.insert(embeddings)
        with session.transaction() as tx:
            # ~8 files of 12.5k rows, globally range-sorted on the key
            tx.bucket("b").schema("s").table("events").optimize(target_file_rows=12_500)
        self.session = session
        self.embeddings = np.asarray(embeddings.column("embedding").to_pylist(), dtype=np.float64)
        self.embedding_ids = np.asarray(embeddings.column("vec_id"))

    def op_list(self, n: int) -> list[Op]:
        return lookup_ops(self.seed, n)

    def kind_class(self, op: Op) -> str:
        return op.kind

    def run(self, op: Op, tracer) -> Outcome:
        with self.session.transaction() as tx:
            s = tx.bucket("b").schema("s")
            if op.kind == "vector":
                res = s.table("embeddings").vector_search(list(op.args), columns=VEC_COLS, limit=TOP_K)
                return Outcome(op, res, res.num_rows, res.nbytes)
            t = s.table("events")
            cols = EVENTS_COLS + (["event_type"] if op.kind == "type_in" else [])
            limit = TYPE_IN_LIMIT if op.kind == "type_in" else None
            reader = t.select(columns=cols, predicate=self._predicate(t, op), limit_rows=limit)
            t0 = time.perf_counter()
            with _span(tracer, "arrow.fetch"):
                res = reader.read_all()
            fetch = time.perf_counter() - t0
        return Outcome(op, res, res.num_rows, res.nbytes, fetch_s=fetch)

    @staticmethod
    def _predicate(t, op: Op):
        a = op.args
        if op.kind == "point":
            return t["user_id"] == a[0]
        if op.kind == "ts_between":
            return (t["ts"] >= a[0]) & (t["ts"] < a[1])
        if op.kind == "key_and_value":
            return (t["user_id"] == a[0]) & (t["value"] > a[1])
        if op.kind == "or_ranges":
            return t["value"].between(a[0], a[1]) | t["value"].between(a[2], a[3])
        if op.kind == "type_in":
            return t["event_type"].isin(list(a))
        if op.kind == "users_isin":
            return t["user_id"].isin(list(a))
        raise ValueError(op.kind)

    @staticmethod
    def oracle_sql(op: Op) -> str:
        a = op.args
        cols = ", ".join(EVENTS_COLS + (["event_type"] if op.kind == "type_in" else []))
        if op.kind == "point":
            where = f"user_id = {a[0]}"
        elif op.kind == "ts_between":
            where = f"epoch_us(ts) >= {a[0]} AND epoch_us(ts) < {a[1]}"
        elif op.kind == "key_and_value":
            where = f"user_id = {a[0]} AND value > {a[1]}"
        elif op.kind == "or_ranges":
            where = f"value BETWEEN {a[0]} AND {a[1]} OR value BETWEEN {a[2]} AND {a[3]}"
        elif op.kind == "type_in":
            where = "event_type IN (" + ", ".join(f"'{x}'" for x in a) + ")"
        else:
            where = "user_id IN (" + ", ".join(str(x) for x in a) + ")"
        return f"SELECT {cols} FROM events WHERE {where}"

    def check(self, outcomes: list[Outcome]) -> list[bool]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.corpus, 'events.parquet')}')"
            )
            oks = []
            for o in outcomes:
                if o.op.kind == "vector":
                    oks.append(self._vector_ok(o))
                elif o.op.kind == "type_in":
                    # any TYPE_IN_LIMIT matching rows are a right answer
                    want = con.execute(self.oracle_sql(o.op)).fetch_arrow_table()
                    oks.append(
                        o.result.num_rows == min(TYPE_IN_LIMIT, want.num_rows)
                        and same_rows(o.result, _rows_by_key(want, o.result, "event_id"), "event_id")
                    )
                else:
                    want = con.execute(self.oracle_sql(o.op)).fetch_arrow_table()
                    oks.append(same_rows(o.result, want, "event_id"))
            return oks
        finally:
            con.close()

    def _vector_ok(self, o: Outcome) -> bool:
        q = np.asarray(o.op.args, dtype=np.float64)
        d = ((self.embeddings - q) ** 2).sum(axis=1)
        want = set(self.embedding_ids[np.argsort(d, kind="stable")[:TOP_K]].tolist())
        return o.result.num_rows == TOP_K and set(o.result.column("vec_id").to_pylist()) == want

    def finish(self) -> dict:
        space = _space(self.session, "events")
        del space["live"]
        return {"space": space}


class DmlWorkload(Workload):
    """Writes beside reads on an imported orders table: small inserts,
    predicate and ``$row_id`` updates and deletes, keyed reads after writes,
    and a compact + vacuum step once per cycle that bounds file and
    deletion-vector counts."""

    name = "dml"
    window = len(DML_CYCLE)
    tables = ["orders"]
    # a cold cycle takes ~25 s: one window, then the cap ends warm-up
    warm_min_windows = 1
    warm_cap_s = 1.0
    # three cycles, so the tail percentile (the 11th-slowest op) falls in the
    # middle of one op's cluster; see DML_CYCLE
    timed_min_windows = 3
    RETAIN_VERSIONS = 8
    COMPACT_TARGET_ROWS = 1_000_000  # above the table size: one file per cycle

    def setup(self, rep: int) -> None:
        from vastdb_sdk_spark.sources import create_table_from_files

        session = self.connect(rep)
        with session.transaction() as tx:
            # zero-copy: every build registers the same corpus file, which
            # no statement modifies (deletes are sidecars, rewrites and
            # vacuum stay inside the bucket)
            create_table_from_files(
                tx.bucket("b").create_schema("s"), "orders",
                [os.path.join(self.corpus, "orders.parquet")],
            )
        self.session = session
        self.orders = self.source["orders"]
        self.schema = self.orders.schema.remove_metadata()

    def op_list(self, n: int) -> list[Op]:
        return dml_ops(self.seed, n)

    def kind_class(self, op: Op) -> str:
        return op.kind if op.kind in ("insert", "read", "maintain") else "dml"

    def run(self, op: Op, tracer) -> Outcome:
        if op.kind == "maintain":
            with self.session.transaction() as tx:
                tx.bucket("b").schema("s").table("orders").compact(
                    target_file_rows=self.COMPACT_TARGET_ROWS
                )
            self.session.vacuum("b", retain_versions=self.RETAIN_VERSIONS)
            return Outcome(op)
        with self.session.transaction() as tx:
            t = tx.bucket("b").schema("s").table("orders")
            a = op.args
            if op.kind == "insert":
                rows = pa.Table.from_pylist(
                    [dict(zip(self.schema.names, r)) for r in a], schema=self.schema
                )
                t.insert(rows)
                return Outcome(op)
            if op.kind == "update_where":
                t.update_where(self._span_pred(t, a[0], WRITE_SPAN), {"o_totalprice": a[1]})
                return Outcome(op)
            if op.kind == "delete_where":
                t.delete_where(self._span_pred(t, a[0], WRITE_SPAN))
                return Outcome(op)
            if op.kind in ("rowid_update", "rowid_delete"):
                hit = t.select(
                    columns=["o_orderkey"], predicate=self._span_pred(t, a[0], WRITE_SPAN),
                    internal_row_id=True,
                ).read_all()
                if op.kind == "rowid_update":
                    t.update(pa.table({
                        "$row_id": hit.column("$row_id"),
                        "o_totalprice": pa.array([a[1]] * hit.num_rows, pa.float64()),
                    }))
                else:
                    t.delete(hit.select(["$row_id"]))
                return Outcome(op, rows=hit.num_rows)
            reader = t.select(predicate=self._span_pred(t, a[0], READ_SPAN))
            t0 = time.perf_counter()
            res = reader.read_all()
            return Outcome(op, res, res.num_rows, res.nbytes, fetch_s=time.perf_counter() - t0)

    @staticmethod
    def _span_pred(t, lo: int, span: int):
        return (t["o_orderkey"] >= lo) & (t["o_orderkey"] < lo + span)

    # -- replay oracle ------------------------------------------------------
    def check(self, outcomes: list[Outcome]) -> list[bool]:
        """Replay the executed op log on a dict keyed by order key; every
        read must match the replay at that point, and ``finish`` compares
        the final table with the replay's final state."""
        src = _dates_as_micros(self.orders)
        model = {row[0]: list(row) for row in zip(*(src.column(c).to_pylist() for c in src.column_names))}
        affected = 0
        oks = []
        for o in outcomes:
            a = o.op.args
            ok = True
            if o.op.kind == "insert":
                for r in a:
                    model[r[0]] = list(r)
                affected += len(a)
            elif o.op.kind in ("update_where", "rowid_update", "delete_where", "rowid_delete"):
                keys = [k for k in range(a[0], a[0] + WRITE_SPAN) if k in model]
                for k in keys:
                    if o.op.kind in ("update_where", "rowid_update"):
                        model[k][3] = a[1]
                    else:
                        del model[k]
                affected += len(keys)
                if o.op.kind.startswith("rowid"):
                    ok = o.rows == len(keys)
            elif o.op.kind == "read":
                want = sorted(tuple(model[k]) for k in range(a[0], a[0] + READ_SPAN) if k in model)
                got = _dates_as_micros(o.result.select(src.column_names))
                ok = sorted(zip(*(got.column(c).to_pylist() for c in got.column_names))) == want
            oks.append(ok)
        self.model = model
        self.rows_affected = affected
        return oks

    def finish(self) -> dict:
        space = _space(self.session, "orders")
        names = self.orders.column_names
        want = pa.table({c: [r[i] for r in self.model.values()] for i, c in enumerate(names)})
        final_ok = same_rows(_dates_as_micros(space.pop("live").select(names)), want, "o_orderkey")
        return {"space": space, "final_ok": final_ok}

    def file_state(self):
        return _file_state(self.session, "orders")


def _dates_as_micros(tbl: pa.Table) -> pa.Table:
    i = tbl.schema.get_field_index("o_orderdate")
    col = pc.cast(tbl.column(i), pa.timestamp("us")).cast(pa.int64())
    return tbl.set_column(i, "o_orderdate", col)


class AnalyticsWorkload(Workload):
    """A fixed rotation of execution-heavy registry queries, each saved to
    the ``noop`` sink: scans, shuffles, joins and codegen, no commits."""

    name = "analytics"
    window = len(ANALYTICS_QUERIES)
    tables = datagen.TABLES

    def setup(self, rep: int) -> None:
        # the queries read the corpus files directly: nothing to load
        import __spark_entry__ as entry

        self.queries = {q: entry.queries()[q] for q in ANALYTICS_QUERIES}
        self.first: dict[str, pa.Table] = {}

    def op_list(self, n: int) -> list[Op]:
        return analytics_ops(self.seed, n)

    def run(self, op: Op, tracer) -> Outcome:
        t0 = time.perf_counter()
        with _span(tracer, "operators.build"):
            df = self.queries[op.kind](self.spark, self.corpus)
        t1 = time.perf_counter()
        if op.kind not in self.first:
            # a query's first run collects its rows for the oracle check;
            # first runs happen in warm-up, never in the timed phase
            with _span(tracer, "operators.exec"):
                self.first[op.kind] = df.toArrow()
        else:
            with _span(tracer, "operators.exec"):
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return Outcome(op, build_s=t1 - t0, exec_s=t2 - t1)

    def check(self, outcomes: list[Outcome]) -> list[bool]:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.corpus, t + '.parquet')}')"
                )
            good = {
                q: table_digest(got) == table_digest(con.execute(oracles[q]).fetch_arrow_table())
                for q, got in self.first.items()
            }
        finally:
            con.close()
        return [good.get(o.op.kind, False) for o in outcomes]


WORKLOADS = {w.name: w for w in (LookupWorkload, DmlWorkload, AnalyticsWorkload)}


def _file_state(session, table: str) -> dict[str, tuple[str, int]]:
    with session.transaction() as tx:
        entry = tx.bucket("b").schema("s").table(table).entry
    out = {}
    for f in entry.files:
        out[f.path] = ("data", os.path.getsize(f.path))
        for p in f.dv_paths:
            out[p] = ("dv", os.path.getsize(p))
    return out


def _space(session, table: str) -> dict:
    """Bytes under the bucket against a fresh parquet export of the table's
    live rows, plus its live data and deletion-vector file counts.
    Referenced files outside the bucket (zero-copy imports) count as bytes
    of the table state too."""
    root = os.path.join(session.warehouse, "b")
    under = 0
    for d, _, files in os.walk(root):
        under += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    with session.transaction() as tx:
        t = tx.bucket("b").schema("s").table(table)
        entry = t.entry
        live = t.select().read_all()
    outside = sum(
        os.path.getsize(f.path) for f in entry.files
        if not os.path.abspath(f.path).startswith(root + os.sep)
    )
    sink = pa.BufferOutputStream()
    pq.write_table(live, sink)
    return {
        "live": live,
        "state_bytes": under + outside,
        "fresh_bytes": sink.getvalue().size,
        "live_rows": live.num_rows,
        "files_live": len(entry.files),
        "dv_files_live": sum(len(f.dv_paths) for f in entry.files),
    }
