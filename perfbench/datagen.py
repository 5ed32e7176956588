"""Seeded synthetic inputs for the benchmark.

The tables follow the column layout of the registry's TPC-H-ish star schema
plus the ``events``, ``documents`` and ``embeddings`` side tables, so
``__spark_entry__`` queries and their DuckDB oracles run on them unchanged.
The same seed always yields byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the sf0.1 shape of the registry's corpus. Everything fits in
# memory many times over (the largest file, lineitem, is ~11 MB).
N_EVENTS = 100_000
N_USERS = 1_500
N_EMBEDDINGS = 2_000
DIM = 64
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_LINEITEM = 600_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000
N_DOCUMENTS = 5_000

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
DAY_US = 86_400 * 1_000_000
ORDERS_D0_US = 788_918_400_000_000  # 1995-01-01 00:00:00 UTC
ORDER_DAYS = 2_400

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "index join shuffle plan cache page"
).split()
_COLOURS = ["large", "hot", "blue", "old", "cold", "red", "green", "dark"]
_THINGS = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve"]
_PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"]

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Every table of the corpus, drawn from one generator per table so a
    change to one table's recipe leaves the others' bytes unchanged.
    Generating all ten tables takes well under a second."""
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rngs["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": _pick(r, _SEGMENTS, N_CUSTOMERS),
    })

    r = rngs["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, N_SUPPLIERS), 2),
    })

    r = rngs["part"]
    colour = r.integers(0, len(_COLOURS), N_PARTS)
    thing = r.integers(0, len(_THINGS), N_PARTS)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
        "p_name": [f"{_COLOURS[a]} {_THINGS[b]}" for a, b in zip(colour, thing)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, N_PARTS)],
        "p_type": _pick(r, _PTYPES, N_PARTS),
        "p_size": pa.array(r.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(r.uniform(900.0, 2100.0, N_PARTS), 2),
    })

    r = rngs["orders"]
    order_day = r.integers(0, ORDER_DAYS, N_ORDERS)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(r.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _ts(ORDERS_D0_US + order_day * DAY_US),
        "o_orderpriority": _pick(r, _PRIORITIES, N_ORDERS),
    })

    r = rngs["lineitem"]
    l_order = np.sort(r.integers(0, N_ORDERS, N_LINEITEM))
    # line number = position within the order's run of lines
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_id = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, N_LINEITEM]))
    linenumber = np.arange(N_LINEITEM) - starts[run_id] + 1
    qty = r.integers(1, 51, N_LINEITEM).astype(np.float64)
    ship = order_day[l_order] + r.integers(1, 122, N_LINEITEM)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(r.integers(0, N_PARTS, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, N_SUPPLIERS, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, N_LINEITEM), 2),
        "l_discount": np.round(r.integers(0, 11, N_LINEITEM) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, N_LINEITEM) / 100.0, 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _pick(r, ["F", "O"], N_LINEITEM),
        "l_shipdate": _ts(ORDERS_D0_US + ship * DAY_US),
    })

    r = rngs["events"]
    ts = EVENTS_T0_US + np.sort(r.integers(0, EVENTS_SPAN_US, N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, N_EVENTS),
        "value": np.round(r.uniform(0.0, 560.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, N_EVENTS)],
    })

    r = rngs["documents"]
    lengths = r.integers(8, 96, N_DOCUMENTS)
    words = r.integers(0, len(_WORDS), int(lengths.sum()))
    bounds = np.r_[0, np.cumsum(lengths)]
    texts = [
        " ".join(_WORDS[w] for w in words[bounds[i]:bounds[i + 1]])
        for i in range(N_DOCUMENTS)
    ]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": _pick(r, ["en", "en", "en", "de", "zh"], N_DOCUMENTS),
        "source": [f"src{s}" for s in r.integers(0, 20, N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = rngs["embeddings"]
    vecs = r.standard_normal((N_EMBEDDINGS, DIM)).astype(np.float32) * 0.1
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, N_EMBEDDINGS), pa.int32()),
    })
    return out


def write_corpus(seed: int, out_dir: str, names: list[str] = TABLES) -> dict[str, pa.Table]:
    """Write ``<out_dir>/<table>.parquet`` for the named tables; returns them
    in memory so callers can build oracles without re-reading."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {n: t for n, t in make_tables(seed).items() if n in names}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tables
