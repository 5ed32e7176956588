"""Table round-trip, DML, evolution, isolation — modeled on the reference's
vastdb/tests/test_tables.py (insert -> select -> exact Arrow equality;
update/delete by $row_id; rename/add/drop column; txn conflict)."""

import os

import pyarrow as pa
import pytest

import vastdb_sdk_spark as vastdb
from vastdb_sdk_spark import _ as D

BASIC3 = pa.schema([("a", pa.int64()), ("b", pa.float32()), ("s", pa.string())])
BASIC3_DATA = pa.table(
    {
        "a": pa.array([111, 222, 333], pa.int64()),
        "b": pa.array([0.5, 1.5, 2.5], pa.float32()),
        "s": ["a", "bb", "ccc"],
    }
)


def _make(session, data=BASIC3_DATA, schema=BASIC3, **kw):
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("t", schema, **kw)
        if data is not None:
            t.insert(data)
    return session


def test_roundtrip_exact(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        got = t.select().read_all().sort_by("a")
        assert got.schema == BASIC3
        assert got.equals(BASIC3_DATA)


def test_projection_order_and_subset(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        got = t.select(columns=["s", "a"]).read_all()
        assert got.schema.names == ["s", "a"]
        got2 = t.select(columns=["b"]).read_all()
        assert got2.schema.names == ["b"]


def test_insert_returns_row_ids(clean_schema):
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("t", BASIC3)
        ids1 = t.insert(BASIC3_DATA)
        ids2 = t.insert(BASIC3_DATA)
    assert ids1.to_pylist() == [0, 1, 2]
    assert ids2.to_pylist() == [3, 4, 5]
    assert ids1.type == pa.uint64()


def test_internal_row_id(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        got = t.select(columns=["a"], internal_row_id=True).read_all().sort_by("a")
        assert got.column("$row_id").to_pylist() == [0, 1, 2]
        assert got.schema.field("$row_id").type == pa.uint64()


def test_update_by_row_id(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.update(
            pa.table({"$row_id": pa.array([1], pa.uint64()), "b": pa.array([99.5], pa.float32())})
        )
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        got = t.select(internal_row_id=True).read_all().sort_by("a")
        assert got.column("b").to_pylist() == [0.5, 99.5, 2.5]
        # row ids survive the rewrite (SURVEY.md §7 watch-list 2)
        assert got.column("$row_id").to_pylist() == [0, 1, 2]


def test_update_can_set_null(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.update(
            pa.table(
                {"$row_id": pa.array([1], pa.uint64()), "s": pa.array([None], pa.string())}
            )
        )
        got = t.select(internal_row_id=True).read_all().sort_by("a")
        assert got.column("s").to_pylist() == ["a", None, "ccc"]


def test_delete_by_row_id(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.delete(pa.table({"$row_id": pa.array([0, 2], pa.uint64())}))
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        got = t.select(internal_row_id=True).read_all()
        assert got.column("a").to_pylist() == [222]
        assert got.column("$row_id").to_pylist() == [1]


def test_delete_where(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.insert(
            pa.table(
                {
                    "a": pa.array([444], pa.int64()),
                    "b": pa.array([4.5], pa.float32()),
                    "s": pa.array([None], pa.string()),
                }
            )
        )
        # delete where s contains 'c'; NULL-predicate rows must survive
        t.delete_where(D.s.contains("c"))
        got = t.select(internal_row_id=True).read_all().sort_by("a")
        assert got.column("a").to_pylist() == [111, 222, 444]
        assert got.column("$row_id").to_pylist() == [0, 1, 3]


def test_update_where(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.update_where(D.a >= 222, {"b": 0.0, "s": t["s"]})
        got = t.select().read_all().sort_by("a")
        assert got.column("b").to_pylist() == [0.5, 0.0, 0.0]
        assert got.column("s").to_pylist() == ["a", "bb", "ccc"]
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        with pytest.raises(vastdb.InvalidArgument):
            t.update_where(D.a > 0, {"nope": 1})


def test_update_then_insert_ids_continue(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.delete(pa.table({"$row_id": pa.array([2], pa.uint64())}))
        ids = t.insert(BASIC3_DATA)
        assert ids.to_pylist() == [3, 4, 5]  # deleted ids are never reused


def test_limit_rows(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert t.select(limit_rows=2).read_all().num_rows == 2


def test_count_rows(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert t.count_rows() == 3
        assert t.count_rows(predicate=(D.a > 111)) == 2


def test_rename_table(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.rename("t2")
    with clean_schema.transaction() as tx:
        s = tx.bucket("bkt").schema("s")
        assert s.table("t", fail_if_missing=False) is None
        assert s.table("t2").count_rows() == 3


def test_schema_evolution(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.add_column(pa.field("extra", pa.int32()))
        t.rename_column("b", "bb")
        t.drop_column("s")
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert t.arrow_schema.names == ["a", "bb", "extra"]
        got = t.select().read_all().sort_by("a")
        assert got.column("bb").to_pylist() == [0.5, 1.5, 2.5]  # old files readable
        assert got.column("extra").to_pylist() == [None, None, None]
        # new inserts fill the new column
        t.insert(
            pa.table(
                {
                    "a": pa.array([444], pa.int64()),
                    "bb": pa.array([4.5], pa.float32()),
                    "extra": pa.array([7], pa.int32()),
                }
            )
        )
        got = t.select(columns=["a", "extra"], predicate=(D.a == 444)).read_all()
        assert got.column("extra").to_pylist() == [7]


def test_tx_isolation(clean_schema):
    """Other transactions see pre-commit state (reference:
    test_tables.py:688-720)."""
    _make(clean_schema)
    tx1 = clean_schema.transaction()
    tx2 = clean_schema.transaction()
    try:
        t1 = tx1.bucket("bkt").schema("s").table("t")
        t1.insert(BASIC3_DATA)
        t2 = tx2.bucket("bkt").schema("s").table("t")
        assert t2.count_rows() == 3  # does not see tx1's uncommitted insert
    finally:
        tx1.rollback()
        tx2.rollback()


def test_tx_conflict(clean_schema):
    _make(clean_schema)
    tx1 = clean_schema.transaction()
    tx2 = clean_schema.transaction()
    tx1.bucket("bkt").schema("s").table("t").insert(BASIC3_DATA)
    tx2.bucket("bkt").schema("s").table("t").insert(BASIC3_DATA)
    tx1.commit()
    with pytest.raises(vastdb.Conflict):
        tx2.commit()


def _data_dir(session):
    return os.path.join(session.warehouse, "bkt", "data", "s", "t")


def _tree(root):
    """Every file and dir under ``root``, as relative paths."""
    out = set()
    for dirpath, dirs, files in os.walk(root):
        for name in dirs + files:
            out.add(os.path.relpath(os.path.join(dirpath, name), root))
    return out


ROLLBACK_SCHEMA = BASIC3.append(pa.field("emb", pa.list_(pa.float32())))


def _rollback_rows(lo):
    return pa.table(
        {
            "a": pa.array(range(lo, lo + 8), pa.int64()),
            "b": pa.array([float(i) for i in range(8)], pa.float32()),
            "s": [f"s{i % 3}" for i in range(8)],
            "emb": [[float(i), float(lo), 1.0, 0.5] for i in range(8)],
        },
        schema=ROLLBACK_SCHEMA,
    )


# one statement per staged-write route; each writes files, then the
# transaction rolls back
_ROLLBACK_OPS = {
    "insert": lambda t: t.insert(_rollback_rows(100)),
    "insert_df": lambda t: t.insert_df(
        t.spark.createDataFrame(_rollback_rows(100).drop_columns(["emb"]).to_pandas())
    ),
    "update_where": lambda t: t.update_where(D.a == 3, {"b": 9.5}),
    "delete_where": lambda t: t.delete_where(D.a == 3),
    "optimize": lambda t: t.optimize(),
    "compact": lambda t: t.compact(),
    "create_projection": lambda t: t.create_projection("p", ["a"], ["b"]),
    "create_materialized_view": lambda t: t.create_materialized_view(
        "mv", ["s"], {"n": "count"}
    ),
    "build_vector_index": lambda t: t.build_vector_index(num_centroids=2, seed=1),
    # DV statements under DV_LITERAL_MAX_ROWS write their files from the
    # driver; the bound at 0 keeps one on the Spark writes
    "update_rowids": lambda t: t.update(
        pa.table({"$row_id": pa.array([1, 9], pa.uint64()), "b": pa.array([9.5, 9.5], pa.float32())})
    ),
    "delete_rowids": lambda t: t.delete(pa.table({"$row_id": pa.array([2, 10], pa.uint64())})),
    "update_where_spark_writes": lambda t: _on_spark_writes(
        lambda: t.update_where(D.a == 3, {"b": 9.5})
    ),
}


def _on_spark_writes(stmt):
    from vastdb_sdk_spark import table as table_mod

    with pytest.MonkeyPatch.context() as m:
        m.setattr(table_mod, "DV_LITERAL_MAX_ROWS", 0)
        stmt()


@pytest.mark.parametrize("op", list(_ROLLBACK_OPS))
def test_rollback_removes_staged_data(clean_schema, op):
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "t", ROLLBACK_SCHEMA, sorting_key=["a"],
            vector_index={"column": "emb", "metric": "l2sq"},
        )
        t.insert(_rollback_rows(0))
        t.insert(_rollback_rows(8))
    tx = clean_schema.transaction()
    t = tx.bucket("bkt").schema("s").table("t")
    data_dir = _data_dir(clean_schema)
    before = _tree(data_dir)
    _ROLLBACK_OPS[op](t)
    assert _tree(data_dir) != before  # the statement wrote something
    tx.rollback()
    assert _tree(data_dir) == before
    with clean_schema.transaction() as tx:
        assert tx.bucket("bkt").schema("s").table("t").count_rows() == 16


def test_vacuum_removes_emptied_staging_dirs(clean_schema):
    """update_where stages a DV dir and a replacement dir; compact then
    orphans both. vacuum deletes the orphaned parquet, their .crc
    siblings and the dirs left without any parquet."""
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        tx.bucket("bkt").schema("s").table("t").insert(BASIC3_DATA)
    with clean_schema.transaction() as tx:
        tx.bucket("bkt").schema("s").table("t").update_where(D.a == 111, {"b": 9.5})
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert t.compact(target_file_rows=100) > 0
    clean_schema.vacuum("bkt")
    data_dir = _data_dir(clean_schema)
    for name in os.listdir(data_dir):
        sub = os.path.join(data_dir, name)
        if os.path.isdir(sub):
            assert any(
                fn.endswith(".parquet") for _d, _s, fns in os.walk(sub) for fn in fns
            ), name
    for dirpath, _dirs, files in os.walk(data_dir):
        for fn in files:
            if fn.endswith(".parquet.crc"):
                assert fn[1 : -len(".crc")] in files, os.path.join(dirpath, fn)
    with clean_schema.transaction() as tx:
        got = tx.bucket("bkt").schema("s").table("t").select().read_all().sort_by("a")
        assert got.column("b").to_pylist() == [9.5, 9.5, 1.5, 1.5, 2.5, 2.5]


def test_vacuum_keeps_files_of_open_transactions(clean_schema):
    """Files a transaction staged but has not committed yet are not
    orphans: vacuum keeps them, so the later commit finds them."""
    _make(clean_schema, data=None)
    tx = clean_schema.transaction()
    t = tx.bucket("bkt").schema("s").table("t")
    t.insert_df(t.spark.createDataFrame([(1, 0.5, "x"), (2, 1.5, "y")], "a long, b float, s string"))
    assert clean_schema.vacuum("bkt") == []
    tx.commit()
    with clean_schema.transaction() as tx:
        got = tx.bucket("bkt").schema("s").table("t").select().read_all().sort_by("a")
        assert got.column("a").to_pylist() == [1, 2]
    # committed and referenced: still kept; nothing open any more
    assert clean_schema.vacuum("bkt") == []
    assert not list(clean_schema._open_transactions)


def test_partitioned_insert_df_row_ids_follow_walk_order(clean_schema):
    """Row ids go to part files in ``sorted(os.walk(staging))`` order:
    ``p=a`` sorts before ``p=a-x`` there, while a plain sort of relative
    file paths puts ``p=a-x/...`` first ('-' < '/')."""
    schema = pa.schema([("p", pa.string()), ("v", pa.int64())])
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table("pt", schema, partition_by=["p"])
        df = t.spark.createDataFrame([("a-x", 1), ("a", 2), ("b", 3)], "p string, v long")
        assert t.insert_df(df.coalesce(1)) == 3
    with clean_schema.transaction() as tx:
        got = tx.bucket("bkt").schema("s").table("pt").select(internal_row_id=True).read_all()
        ids = dict(zip(got.column("p").to_pylist(), got.column("$row_id").to_pylist()))
        assert ids == {"a": 0, "a-x": 1, "b": 2}


def test_external_row_ids(clean_schema):
    """Reference: use_external_row_ids_allocation writes a vastdb_rowid
    column (test_tables.py:1055-1073)."""
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "t", BASIC3, use_external_row_ids_allocation=True
        )
        data = BASIC3_DATA.append_column(
            "vastdb_rowid", pa.array([100, 200, 300], pa.int64())
        )
        ids = t.insert(data)
        assert ids.to_pylist() == [100, 200, 300]
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        got = t.select(internal_row_id=True).read_all().sort_by("a")
        assert got.column("$row_id").to_pylist() == [100, 200, 300]


def test_unsupported_schema_rejected(clean_schema):
    for bad in [
        pa.schema([("d", pa.dictionary(pa.int32(), pa.string()))]),
        pa.schema([("n", pa.null())]),
        pa.schema([("d64", pa.date64())]),
    ]:
        with pytest.raises(vastdb.NotSupportedSchema):
            with clean_schema.transaction() as tx:
                tx.bucket("bkt").schema("s").create_table("bad", bad)


def test_empty_projection_count_scan(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        got = t.select(columns=[]).read_all()
        assert got.num_columns == 0


def test_catalog_and_audit(clean_schema):
    _make(clean_schema)
    with clean_schema.transaction() as tx:
        cat = tx.catalog("bkt").collect()
        kinds = {(r.object_type, r.table_name) for r in cat}
        assert ("schema", None) in kinds
        assert ("table", "t") in kinds
        audit = tx.audit_log("bkt").collect()
        ops = {r.op for r in audit}
        assert "create_table" in ops and "insert" in ops


def test_audit_log_compaction_exact_and_crash_safe(clean_schema):
    """compact_audit_log folds old per-commit JSONLs into parquet batches
    and the reader stays EXACT: same rows before/after, after repeated
    compaction, and after a simulated crash that wrote the batch but died
    before deleting its input JSONLs."""
    import os
    import shutil

    _make(clean_schema)
    session = clean_schema
    for i in range(12):  # 12 more commits -> 12 more audit files
        with session.transaction() as tx:
            tx.bucket("bkt").schema("s").table("t").insert(
                pa.table({"a": pa.array([100 + i], pa.int64()),
                          "b": pa.array([float(i)], pa.float32()),
                          "s": pa.array([f"r{i}"])})
            )
    with session.transaction() as tx:
        before = sorted(
            (r.txid, r.op, r.object) for r in tx.audit_log("bkt").collect()
        )
    audit_dir = os.path.join(session._bucket_path("bkt"), "_audit")
    n_jsonl = len([f for f in os.listdir(audit_dir) if f.endswith(".jsonl")])
    r = session.compact_audit_log("bkt", keep_recent=5)
    assert r["compacted_files"] == n_jsonl - 5 and r["rows"] > 0
    assert len([f for f in os.listdir(audit_dir) if f.endswith(".jsonl")]) == 5
    with session.transaction() as tx:
        after = sorted(
            (r.txid, r.op, r.object) for r in tx.audit_log("bkt").collect()
        )
    assert after == before
    # simulated crash: re-materialize an already-compacted JSONL (as if
    # the delete never ran) — the reader must IGNORE it, not double-count
    leftover = os.path.join(audit_dir, "v0000000002.jsonl")
    with open(leftover, "w") as f:
        f.write('{"txid": 2, "ts": 1, "op": "ghost", "object": "x", "details": "{}"}\n')
    with session.transaction() as tx:
        ops = {r.op for r in tx.audit_log("bkt").collect()}
        assert "ghost" not in ops
    # the next compaction sweeps the leftover and folds the rest
    r2 = session.compact_audit_log("bkt", keep_recent=0)
    assert not os.path.exists(leftover)
    assert r2["compacted_files"] == 5
    with session.transaction() as tx:
        final = sorted(
            (r.txid, r.op, r.object) for r in tx.audit_log("bkt").collect()
        )
    assert final == before
    assert len([f for f in os.listdir(audit_dir) if f.endswith(".jsonl")]) == 0


def test_audit_multipart_publish_marker_last(clean_schema):
    """A multi-part compaction batch publishes extra parts under
    compactdata-* names BEFORE the compact-* marker: an orphan data part
    (marker never landed) is invisible to the reader and swept by the
    next compaction; a data part at-or-below the marker is real data."""
    import os

    import pyarrow.parquet as pq

    _make(clean_schema)
    session = clean_schema
    for i in range(8):
        with session.transaction() as tx:
            tx.bucket("bkt").schema("s").table("t").insert(
                pa.table({"a": pa.array([200 + i], pa.int64()),
                          "b": pa.array([float(i)], pa.float32()),
                          "s": pa.array([f"m{i}"])})
            )
    r = session.compact_audit_log("bkt", keep_recent=2)
    assert r["compacted_files"] > 0
    up_to = r["up_to_version"]
    with session.transaction() as tx:
        before = sorted(
            (x.txid, x.op, x.object) for x in tx.audit_log("bkt").collect()
        )
    compact_dir = os.path.join(
        session._bucket_path("bkt"), "_audit", "compact"
    )

    def _fake_part(name, op):
        pq.write_table(
            pa.table({
                "txid": pa.array([10**6], pa.int64()),
                "ts": pa.array([1], pa.int64()),
                "op": pa.array([op]),
                "object": pa.array(["x"]),
                "details": pa.array(["{}"]),
            }),
            os.path.join(compact_dir, name),
        )

    # orphan: data part whose batch marker never landed (crash before
    # the marker move) -> ignored by reads, swept by the next compaction
    orphan = f"compactdata-{up_to + 50:010d}-0.parquet"
    _fake_part(orphan, "orphan-part")
    with session.transaction() as tx:
        assert "orphan-part" not in {
            x.op for x in tx.audit_log("bkt").collect()
        }
        assert sorted(
            (x.txid, x.op, x.object) for x in tx.audit_log("bkt").collect()
        ) == before
    session.compact_audit_log("bkt", keep_recent=0)
    assert not os.path.exists(os.path.join(compact_dir, orphan))
    # a data part at-or-below the marker belongs to a published batch
    marker_up_to = max(
        int(f.split("-")[1])
        for f in os.listdir(compact_dir)
        if f.startswith("compact-") and f.endswith(".parquet")
    )
    _fake_part(f"compactdata-{marker_up_to:010d}-9.parquet", "extra-part")
    with session.transaction() as tx:
        assert "extra-part" in {x.op for x in tx.audit_log("bkt").collect()}


def test_audit_foreign_files_survive_compaction(clean_schema):
    """Files in _audit the engine didn't write (no v<version>.jsonl name)
    stay readable and are never deleted by compaction."""
    import os

    _make(clean_schema)
    session = clean_schema
    audit_dir = os.path.join(session._bucket_path("bkt"), "_audit")
    foreign = os.path.join(audit_dir, "notes.jsonl")
    with open(foreign, "w") as f:
        f.write('{"txid": 999, "ts": 1, "op": "manual-note", "object": "x", "details": "{}"}\n')
    with session.transaction() as tx:
        assert "manual-note" in {r.op for r in tx.audit_log("bkt").collect()}
    session.compact_audit_log("bkt", keep_recent=0)
    assert os.path.exists(foreign)
    with session.transaction() as tx:
        assert "manual-note" in {r.op for r in tx.audit_log("bkt").collect()}
