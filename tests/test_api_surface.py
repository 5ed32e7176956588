"""select_splits, SQL tier, features, spill-path streaming select."""

import pyarrow as pa
import pytest

import vastdb_sdk_spark as vastdb
from vastdb_sdk_spark import _ as D
from vastdb_sdk_spark import table as table_mod
from vastdb_sdk_spark.config import QueryConfig
from vastdb_sdk_spark.sources import create_table_from_files

SF = "/root/testdata/sf0.001"


def test_select_splits(clean_schema):
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "t", pa.schema([("a", pa.int64())])
        )
        for i in range(4):  # four files
            t.insert(pa.table({"a": pa.array(range(i * 10, i * 10 + 10), pa.int64())}))
        readers = t.select_splits(num_splits=3)
        assert len(readers) == 3
        rows = []
        for r in readers:
            rows += r.read_all().column("a").to_pylist()
        assert sorted(rows) == list(range(0, 10)) + list(range(10, 20)) + list(
            range(20, 30)
        ) + list(range(30, 40))
        # with predicate
        readers = t.select_splits(predicate=(D.a >= 30), num_splits=2)
        got = sorted(sum((r.read_all().column("a").to_pylist() for r in readers), []))
        assert got == list(range(30, 40))


def test_sql_tier(clean_schema):
    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        li = create_table_from_files(s, "li", [f"{SF}/lineitem.parquet"])
        ords = create_table_from_files(s, "ords", [f"{SF}/orders.parquet"])
        df = tx.sql(
            """
            SELECT o_orderpriority, COUNT(*) AS n
            FROM li JOIN ords ON l_orderkey = o_orderkey
            WHERE l_quantity > 45 GROUP BY o_orderpriority
            """,
            li=li,
            ords=ords,
        )
        rows = df.collect()
        assert sum(r.n for r in rows) > 0


def test_sql_sees_transaction_snapshot(clean_schema):
    data = pa.table({"a": pa.array([1, 2, 3], pa.int64())})
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("t", data.schema)
        t.insert(data)
    tx1 = clean_schema.transaction()
    t1 = tx1.bucket("bkt").schema("s").table("t")
    t1.insert(data)  # uncommitted in tx1
    n = tx1.sql("SELECT COUNT(*) AS n FROM t", t=t1).collect()[0].n
    assert n == 6  # tx1 sees its own write
    tx2 = clean_schema.transaction()
    t2 = tx2.bucket("bkt").schema("s").table("t")
    n2 = tx2.sql("SELECT COUNT(*) AS n FROM t", t=t2).collect()[0].n
    assert n2 == 3  # tx2 does not
    tx1.rollback()
    tx2.rollback()


def test_features(session):
    f = session.features
    assert f.elysium and f.vector_index and f.sql_tier
    f.check_imports_table()  # no-raise contract


def _count_spills(monkeypatch) -> list:
    """Record each select() that takes the spill path."""
    spills = []
    spill_reader = table_mod.Table._spill_reader

    def counted(self, *args):
        spills.append(self.name)
        return spill_reader(self, *args)

    monkeypatch.setattr(table_mod.Table, "_spill_reader", counted)
    return spills


def test_spill_streaming_select(clean_schema, monkeypatch):
    """Force the spill path with a tiny threshold and verify bounded
    streaming yields identical data and cleans up after itself."""
    import os

    spills = _count_spills(monkeypatch)
    data = pa.table({"a": pa.array(range(1000), pa.int64())})
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("t", data.schema)
        t.insert(data)
        cfg = QueryConfig(spill_threshold_rows=10, limit_rows_per_sub_split=128)
        reader = t.select(config=cfg)
        got = reader.read_all()
        assert spills == ["t"]
        assert sorted(got.column("a").to_pylist()) == list(range(1000))
        tmp_root = os.path.join(tx._state("bkt").store.bucket_path, "_tmp")
        leftovers = os.listdir(tmp_root) if os.path.isdir(tmp_root) else []
        assert leftovers == []  # spill dir removed on exhaustion
        # the estimate is capped by limit_rows: no spill
        assert t.select(config=cfg, limit_rows=5).read_all().num_rows == 5
        assert spills == ["t"]


def test_spill_projection_split(clean_schema, monkeypatch):
    """A projection split reads no base file: its spill estimate is the
    rows of the projection files it scans."""
    spills = _count_spills(monkeypatch)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "t", pa.schema([("k", pa.int64()), ("v", pa.float64())])
        )
        for i in range(2):
            ks = range(i * 100, i * 100 + 100)
            t.insert(pa.table({"k": pa.array(ks, pa.int64()), "v": [float(k) for k in ks]}))
        t.create_projection("by_k", ["k"], ["v"])
    with clean_schema.transaction() as tx:
        proj = tx.bucket("bkt").schema("s").table("t").projection("by_k")
        cfg = QueryConfig(spill_threshold_rows=10)
        (reader,) = proj.select_splits(config=cfg, num_splits=1)
        got = reader.read_all()
        assert spills == ["t"]
        assert sorted(got["k"].to_pylist()) == list(range(200))


# -- metadata handles & accessors (reference: Table.ref/handle/sorted_table/
#    vector_index, Transaction.is_active/active_txid/table_from_metadata) ---


def test_table_metadata_accessors(clean_schema):
    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        t = s.create_table(
            "m",
            pa.schema([("k", pa.int64()), ("v", pa.float64())]),
            sorting_key=["k"],
        )
        assert t.ref == vastdb.TableRef("bkt", "s", "m")
        assert t.ref.full_path == "bkt/s/m"
        assert t.table_metadata.table_type == "table"
        assert not t.table_metadata.is_imports_table
        assert isinstance(t.handle, int) and t.handle == t.handle
        assert t.sorted_table
        assert [f.name for f in t.sorted_columns()] == ["k"]
        assert t.vector_index is None
        t.reload_schema(); t.reload_stats(); t.reload_sorted_columns()
        # round-trip through metadata
        t2 = tx.table_from_metadata(t.table_metadata)
        assert t2.name == "m" and t2.ref == t.ref
        v = s.create_table(
            "vec",
            pa.schema([("emb", pa.list_(pa.float32(), 4))]),
            vector_index={"column": "emb", "metric": "l2sq"},
        )
        vi = v.vector_index
        assert vi == vastdb.VectorIndex("emb", "l2sq", "array_distance")
        assert not v.sorted_table and v.sorted_columns() == []


def test_transaction_state_api(session):
    session.create_bucket("txb")
    tx = session.transaction()
    assert tx.is_active and tx.active_txid == tx.txid
    with pytest.raises(vastdb.NoAdbcConnection):
        tx.adbc_conn
    assert tx.catalog_snapshots("txb") == []
    tx.commit()
    assert not tx.is_active
    with pytest.raises(vastdb.TransactionClosed):
        tx.active_txid


def test_insert_in_column_batches_wide(clean_schema):
    cols = [("k", pa.int64())] + [(f"c{i:03d}", pa.int64()) for i in range(95)]
    data = {"k": [3, 1, 2]}
    data.update({f"c{i:03d}": [i, i + 1, i + 2] for i in range(95)})
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "wide", pa.schema(cols), sorting_key=["k"]
        )
        ids = t.insert_in_column_batches(pa.table(data), max_columns_per_batch=40)
        assert len(ids) == 3
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("wide")
        got = t.select().read_all().sort_by("k")
        assert got.num_rows == 3 and got.num_columns == 96
        # k-order is [1,2,3] -> original rows [1,2,0] -> c094 [95,96,94]
        assert got.column("c094").to_pylist() == [95, 96, 94]
        assert got.column("k").to_pylist() == [1, 2, 3]


def test_blob_expansion_handle(clean_schema):
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "b", pa.schema([("payload", pa.string())])
        )
        t.create_blob_expansion(
            "exp",
            source_column="payload",
            target_schema=pa.schema([("a", pa.int64())]),
        )
        h = t.blob_expansion("payload")
        assert h.source_column_name == "payload" and h.name == "exp"
        h.add_columns(pa.schema([("b", pa.string())]))
        assert h.columns().names == ["a", "b"]
        h.drop_columns(pa.schema([("a", pa.int64())]))
        assert h.columns().names == ["b"]
        assert h.table_metadata.ref.table == "b"
        h.drop()
        assert t.blob_expansions() == []
        with pytest.raises(vastdb.MissingProjection):
            t.blob_expansion("payload")
        # imports-table metadata handle
        im = t.imports_table_metadata()
        assert im.is_imports_table and im.ref.table.startswith("b/")


def test_expand_ip_ranges():
    """Reference util.py:128 parity: last-octet endpoint ranges expand,
    plain endpoints pass through in order, inverted ranges reject."""
    from vastdb_sdk_spark.util import expand_ip_ranges

    assert expand_ip_ranges(
        ["http://172.19.101.1-3", "https://10.0.0.7", "http://1.2.3.4-4"]
    ) == [
        "http://172.19.101.1",
        "http://172.19.101.2",
        "http://172.19.101.3",
        "https://10.0.0.7",
        "http://1.2.3.4",
    ]
    with pytest.raises(vastdb.InvalidArgument):
        expand_ip_ranges(["http://1.2.3.9-2"])
    # extension over the reference: a port and/or path suffix on a ranged
    # endpoint is carried onto every expanded endpoint
    assert expand_ip_ranges(["http://1.2.3.1-2:8080"]) == [
        "http://1.2.3.1:8080",
        "http://1.2.3.2:8080",
    ]
    assert expand_ip_ranges(["https://1.2.3.1-2:8443/api/v2"]) == [
        "https://1.2.3.1:8443/api/v2",
        "https://1.2.3.2:8443/api/v2",
    ]
    assert expand_ip_ranges(["http://1.2.3.4-6/data"]) == [
        "http://1.2.3.4/data",
        "http://1.2.3.5/data",
        "http://1.2.3.6/data",
    ]
    # an out-of-range port on a RANGED endpoint raises instead of silently
    # passing the endpoint through unexpanded (typo-masking hazard)
    for bad in ("http://1.2.3.1-2:0", "http://1.2.3.1-2:99999",
                "http://1.2.3.1-2:123456"):
        with pytest.raises(vastdb.InvalidArgument):
            expand_ip_ranges([bad])
    # non-ranged endpoints are never validated — verbatim pass-through
    assert expand_ip_ranges(["http://1.2.3.4:99999"]) == ["http://1.2.3.4:99999"]


def test_gate_registry_integrity():
    """The driver contract cannot silently drift: every queries() entry is
    unique and every one has a DuckDB oracle."""
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) >= 121
    # the EXPLICIT rows-only set: genuinely non-SQL-expressible ops (the
    # driver records the weaker rows-only check for them). Additions must
    # be listed here deliberately — a missing oracle is otherwise a bug.
    # Round 10 emptied it: tx_bpe_learned (the last member) now carries a
    # full recursive-CTE oracle, so EVERY registered query is value-hash
    # gated.
    rows_only: set = set()
    import os

    corpus = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "documents.parquet",
    )
    if not os.path.exists(corpus):
        # tx_bpe_learned's oracle inlines a merge table TRAINED on the
        # gate corpus; without the corpus the entry deliberately degrades
        # to rows-only (see oracle_sql) — not a registry bug
        rows_only = {"tx_bpe_learned"}
    assert set(qs) - set(oracles) == rows_only, (
        set(qs) - set(oracles) - rows_only
    )
    assert not set(oracles) - set(qs), set(oracles) - set(qs)


def test_bench_stdout_line_fits_driver_buffer():
    """Rounds 2 and 8 both lost the driver's parsed bench record to a
    stdout line that outgrew the ~2000-char tail buffer. Pin the
    contract: at the CURRENT window (worst-case long names, generous
    timings) the line fits; and the trim ladder keeps any window under
    budget while preserving metric/value/sf."""
    import json
    import __spark_entry__ as e
    from bench import stdout_line

    window = list(e.queries())[:50]
    timings = {q: 123.456 for q in window}
    line = stdout_line(timings, window, 999.999, 0.1)
    assert len(line) < 1900
    d = json.loads(line)
    assert len(d["queries"]) == 50 and d["value"] == 999.999

    # pathological: 200 very long names still yields a parseable line
    big_window = [f"query_with_a_very_long_name_{i:03d}_padding_padding" for i in range(200)]
    big = {q: 1.234567 for q in big_window}
    line2 = stdout_line(big, big_window, 246.9, 1.0)
    assert len(line2) < 1900
    d2 = json.loads(line2)
    assert d2.get("queries_truncated") is True
    assert d2["metric"] == "headline_queries_total_wall_sec"


def test_bench_canary_normalization_math():
    """VERDICT r12 #2: BENCH artifacts must be self-normalizing — this
    box drifts up to ~3x intra-day and every cross-round 'regression'
    last round was machine weather. Pin the pure math: drift is the
    median measured/baseline ratio, per-query normalization divides by
    the NEAREST checkpoint's drift, and bench_compare reads normalized
    values from both artifact generations."""
    from bench import CANARY_BASELINE, canary_drift, nearest_checkpoint
    from tools.bench_compare import compare, normalized_queries

    base = dict(CANARY_BASELINE)
    # a uniformly 2x-slower session measures drift 2.0
    assert canary_drift({k: 2 * v for k, v in base.items()}) == 2.0
    # median over canaries: one outlier does not move the factor
    vals = {k: v for k, v in base.items()}
    vals["lineitem_count"] = base["lineitem_count"] * 50
    assert canary_drift(vals) == 1.0
    # missing/zero canaries are skipped; nothing usable -> neutral 1.0
    assert canary_drift({}) == 1.0
    assert canary_drift({"lineitem_count": 0.0}) == 1.0

    cps = [
        {"at_query_index": 0, "drift": 1.0},
        {"at_query_index": 25, "drift": 2.0},
        {"at_query_index": 50, "drift": 3.0},
    ]
    assert nearest_checkpoint(3, cps)["drift"] == 1.0
    assert nearest_checkpoint(20, cps)["drift"] == 2.0
    assert nearest_checkpoint(49, cps)["drift"] == 3.0

    # new-format artifact: normalized dict used verbatim (both-new mode)
    new_art = {
        "all_queries": {"q1": 4.0, "q2": 4.0},
        "all_queries_normalized": {"q1": 2.0, "q2": 1.0},
        "canary": {k: 2 * v for k, v in base.items()},
    }
    qn, how = normalized_queries(new_art)
    assert qn == {"q1": 2.0, "q2": 1.0} and how == "checkpoints"
    # old-format artifact: post-hoc start-canary correction
    old_art = {
        "all_queries": {"q1": 1.0, "q2": 1.0},
        "canary": {k: 0.5 * v for k, v in base.items()},
    }
    qo, how_o = normalized_queries(old_art)
    assert abs(qo["q1"] - 2.0) < 1e-9 and how_o.startswith("start-canary")

    # MIXED formats: both sides fall back to start-canary normalization —
    # checkpoint drifts embed the JVM warm-up profile, which only cancels
    # when both sides are position-normalized (r13 measurement)
    rep = compare(old_art, new_art, threshold=1.5)
    assert rep["common_queries"] == 2
    assert rep["normalization"]["new"].startswith("start-canary")
    # old: 1.0/0.5 = 2.0 each; new: 4.0/2.0 = 2.0 each -> flat, no movers
    assert rep["median_ratio"] == 1.0 and not rep["movers"]

    # both new-format: position-normalized values used verbatim
    old2 = dict(new_art, all_queries_normalized={"q1": 2.0, "q2": 2.0})
    rep2 = compare(old2, new_art, threshold=1.5)
    assert rep2["normalization"] == {"old": "checkpoints", "new": "checkpoints"}
    assert rep2["median_ratio"] == 0.75 and set(rep2["movers"]) == {"q2"}


def test_gate_outputs_are_scalar(spark):
    """The driver's canonicalizer sorts result frames in pandas, which
    cannot sort array/map/struct cells ("unhashable type: 'list'" — the
    sole red row of round 6, ann_quantize_int8 before its q8_csv
    projection). Pin the invariant: every registered gate query emits
    scalar-typed output columns only. Most plans are built lazily at
    sf0.001 (schema inspection only), but index-building ANN queries
    (ann_ivf_knn_join, ann_pq_topk) run their one-time index fit during
    construction and cache it in _ENGINE_WAREHOUSES for the session;
    the engine-DML queries (e*_engine_*), whose builders run real
    imports, are skipped — their outputs are plain table projections,
    covered by their own suites."""
    import __spark_entry__ as e

    offenders = {}
    for name, fn in e.queries().items():
        if name.startswith(("e1", "e2", "e3", "e4", "e5", "e6", "e7", "e8",
                            "e9", "el")) or "engine" in name:
            continue
        df = fn(spark, "/root/testdata/sf0.001")
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "gate queries must emit scalar output columns (driver canonicalizer "
        f"cannot sort nested cells): {offenders}"
    )


# -- lazy split readers (VERDICT r13 #2) ------------------------------------


def _spark_job_count(spark) -> int:
    """Total jobs submitted to this SparkContext (AppStatusStore)."""
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def test_split_readers_are_lazy(clean_schema, monkeypatch):
    """select/select_splits/split_record_batch_reader must run NO Spark job
    at construction — the job runs on first batch pull (reference readers
    work on consumption, vastdb/table.py:536-569). The Spark route: a
    small read takes the driver Arrow route and runs no job at all
    (tests/test_arrow_route.py)."""
    import pyarrow as pa

    from vastdb_sdk_spark import _ as D
    from vastdb_sdk_spark import table as table_mod

    monkeypatch.setattr(table_mod, "ARROW_READ_MAX_ROWS", 0)
    spark = clean_schema.spark
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "lazy", pa.schema([("k", pa.int64()), ("v", pa.int64())])
        )
        for i in range(4):  # four files
            t.insert(
                pa.table(
                    {
                        "k": pa.array(range(i * 25, i * 25 + 25), pa.int64()),
                        "v": pa.array([x * 3 for x in range(i * 25, i * 25 + 25)], pa.int64()),
                    }
                )
            )
        t.create_projection("by_k", ["k"], ["v"])
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("lazy")
        proj = t.projection("by_k")

        before = _spark_job_count(spark)
        rdr = t.select(columns=["k"], predicate=(D.k >= 50))
        splits = t.select_splits(num_splits=3)
        psplits = proj.select_splits(num_splits=3)
        one = proj.split_record_batch_reader(split=1, num_splits=3)
        assert _spark_job_count(spark) == before, (
            "constructing readers must not run Spark jobs"
        )

        # schemas are available without running anything
        assert rdr.schema.names == ["k"]
        assert all(r.schema.names == ["k", "v"] for r in splits)
        assert all(r.schema.names == ["k", "v"] for r in psplits)

        # first pull runs the job(s) and yields correct data
        got = sorted(rdr.read_all().column("k").to_pylist())
        assert got == list(range(50, 100))
        assert _spark_job_count(spark) > before

        ks = sorted(
            x for r in splits for x in r.read_all().column("k").to_pylist()
        )
        assert ks == list(range(100))
        pk = sorted(
            x for r in psplits for x in r.read_all().column("k").to_pylist()
        )
        assert pk == list(range(100))

        # single-split readers partition the projection disjointly; with
        # fewer files than splits, trailing splits are empty by contract
        parts = [
            proj.split_record_batch_reader(split=i, num_splits=3)
            .read_all()
            .column("k")
            .to_pylist()
            for i in range(3)
        ]
        assert sorted(x for p in parts for x in p) == list(range(100))
        assert sorted(one.read_all().column("k").to_pylist()) == sorted(parts[1])


def test_select_splits_fixed_count_contract(clean_schema):
    """Explicit num_splits returns EXACTLY that many readers (reference
    select_splits contract) — trailing readers beyond the file count are
    empty but carry the right schema."""
    import pyarrow as pa

    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "fixed", pa.schema([("a", pa.int64())])
        )
        t.insert(pa.table({"a": pa.array(range(10), pa.int64())}))  # 1 file
        t.create_projection("p", ["a"], [])
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("fixed")
        readers = t.select_splits(num_splits=4)
        assert len(readers) == 4
        tables = [r.read_all() for r in readers]
        assert sum(tb.num_rows for tb in tables) == 10
        assert all(tb.schema.names == ["a"] for tb in tables)
        assert sum(1 for tb in tables if tb.num_rows == 0) == 3

        proj = t.projection("p")
        preaders = proj.select_splits(num_splits=4)
        assert len(preaders) == 4
        ptables = [r.read_all() for r in preaders]
        assert sum(tb.num_rows for tb in ptables) == 10
        # derived count still capped at file count (no empty-reader spam)
        assert len(t.select_splits()) >= 1


def test_select_splits_derived_count_uses_physical_rows(clean_schema):
    """A derived split count divides the PHYSICAL rows of the files (rows
    masked by deletion vectors included) by rows_per_split: a split is a
    group of files, and a file is read whole before its DV is applied."""
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "dvsplit", pa.schema([("a", pa.int64())])
        )
        for i in range(4):  # four files of 100 rows
            t.insert(pa.table({"a": pa.array(range(i * 100, i * 100 + 100), pa.int64())}))
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("dvsplit")
        t.delete_where(D.a % 100 < 25)  # 100 of 400 rows, kept as DVs
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("dvsplit")
        files = t.entry.files
        assert len(files) == 4 and sum(f.dv_rows for f in files) == 100
        cfg = QueryConfig(rows_per_split=100)
        readers = t.select_splits(config=cfg)
        assert len(readers) == 4  # 400 physical rows, not 300 visible
        got = sorted(x for r in readers for x in r.read_all().column("a").to_pylist())
        assert got == [x for x in range(400) if x % 100 >= 25]


def test_bench_compare_suspect_spike_flag():
    """VERDICT r13 #6: a slow mover whose at_sec sits between two QUIET
    checkpoints is flagged as a suspect sub-cadence spike (the exact
    dd_lsh_pairs_fast signature) — a machine-generated bench_one
    worklist; a mover with a loud flank, or below threshold, is not."""
    from tools.bench_compare import compare

    old = {
        "all_queries": {"qa": 1.0, "qb": 1.0, "qc": 1.0},
        "all_queries_normalized": {"qa": 1.0, "qb": 1.0, "qc": 1.0},
    }
    new = {
        "all_queries": {"qa": 2.0, "qb": 2.0, "qc": 1.05},
        "all_queries_normalized": {"qa": 2.0, "qb": 2.0, "qc": 1.05},
        "canary_checkpoints": [
            {"at_query_index": 0, "drift": 0.9, "at_sec": 0.0},
            {"at_query_index": 25, "drift": 0.85, "at_sec": 100.0},
            {"at_query_index": 50, "drift": 1.8, "at_sec": 200.0},
        ],
        "queries_detail": {
            # qa: both flanks quiet (0.9 / 0.85) -> suspect
            "qa": {"raw": 2.0, "at_sec": 50.0},
            # qb: right flank loud (1.8) -> machine weather, not flagged
            "qb": {"raw": 2.0, "at_sec": 150.0},
            # qc: not a mover at all
            "qc": {"raw": 1.05, "at_sec": 60.0},
        },
    }
    rep = compare(old, new, threshold=1.5)
    assert set(rep["movers"]) == {"qa", "qb"}
    assert set(rep["suspect_spikes"]) == {"qa"}
    s = rep["suspect_spikes"]["qa"]
    assert s["flank_drifts"] == [0.9, 0.85] and "bench_one" in s["hint"]

    # artifacts without checkpoints/at_sec degrade to an empty worklist
    rep2 = compare(old, {k: new[k] for k in ("all_queries", "all_queries_normalized")})
    assert rep2["suspect_spikes"] == {}
