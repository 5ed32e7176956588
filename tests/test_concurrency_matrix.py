"""Concurrent-transaction conflict matrix (SURVEY.md §2 D9, reference
semantics vastdb/transaction.py + vast_tests conflict cases): any two
transactions that both modify the SAME table must serialize — the second
committer raises Conflict — while transactions touching DIFFERENT tables
commit independently. Covers DML x DML, DDL x DML, and DDL x DDL pairs,
plus the retry path (a conflicted operation replayed in a fresh
transaction lands)."""

import pyarrow as pa
import pytest

import vastdb_sdk_spark as vastdb
from vastdb_sdk_spark import _ as D

ROWS = pa.table({"a": [1, 2, 3], "s": ["x", "y", "z"]})


@pytest.fixture()
def two_tables(session):
    with session.transaction() as tx:
        sc = tx.bucket("bkt").create_schema("s")
        for name in ("t1", "t2"):
            sc.create_table(name, ROWS.schema).insert(ROWS)
    return session


def _op(kind):
    def run(tx, table_name):
        t = tx.bucket("bkt").schema("s").table(table_name)
        if kind == "insert":
            t.insert(ROWS)
        elif kind == "delete":
            t.delete_where(D.a == 1)
        elif kind == "update":
            t.update_where(D.a == 2, {"s": "upd"})
        elif kind == "add_column":
            t.add_column(pa.field("extra", pa.int64()))
        elif kind == "rename_column":
            t.rename_column("s", "s2")
        elif kind == "dedup":
            # ingest-then-dedup (a no-dup dedup_rows is an effective no-op
            # commit and correctly does NOT conflict — value-based check;
            # see test_noop_commit_does_not_conflict)
            t.insert(ROWS)
            t.dedup_rows()
        elif kind == "near_dedup":
            # plant two near-identical long texts, then in-place near-dup
            # cleanup (DV-mask commit) — the dedup_near_rows conflict row
            long = " ".join(f"w{i}" for i in range(40))
            t.insert(
                pa.table({"a": [10, 11], "s": [long, long + " w0"]})
            )
            t.dedup_near_rows("s", threshold=0.5)
        elif kind == "passage_drop":
            # two rows sharing all their 4-token passages, then in-place
            # passage cleanup (DV-mask commit) — drop_passage_dup_rows row
            long = " ".join(f"w{i}" for i in range(40))
            t.insert(pa.table({"a": [10, 11], "s": [long, long]}))
            t.drop_passage_dup_rows("s", k=4, max_dup_fraction=0.5)
        else:
            raise AssertionError(kind)
    return run


OPS = [
    "insert", "delete", "update", "add_column", "rename_column", "dedup",
    "near_dedup", "passage_drop",
]


@pytest.mark.parametrize("op_a", OPS)
@pytest.mark.parametrize("op_b", ["insert", "update", "add_column"])
def test_same_table_second_committer_conflicts(two_tables, op_a, op_b):
    tx1 = two_tables.transaction()
    tx2 = two_tables.transaction()
    _op(op_a)(tx1, "t1")
    _op(op_b)(tx2, "t1")
    tx1.commit()
    with pytest.raises(vastdb.Conflict):
        tx2.commit()


def test_conflict_retry_lands_on_fresh_snapshot(two_tables):
    """The standard retry loop: a conflicted DML replayed in a fresh
    transaction (which sees the winner's commit) succeeds and both effects
    land. (Ops invalidated by the winner — e.g. inserting with a renamed
    column's old name — correctly stay invalid; retry means re-running the
    LOGIC on the new snapshot, not replaying a stale buffer.)"""
    tx1 = two_tables.transaction()
    tx2 = two_tables.transaction()
    _op("insert")(tx1, "t1")
    _op("update")(tx2, "t1")
    tx1.commit()
    with pytest.raises(vastdb.Conflict):
        tx2.commit()
    with two_tables.transaction() as tx3:
        _op("update")(tx3, "t1")
    with two_tables.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t1")
        assert t.count_rows() == 6  # tx1's insert landed
        got = t.select(predicate=(D.s == "upd")).read_all()
        assert got.num_rows == 2  # both a==2 rows updated by the retry


@pytest.mark.parametrize("op_a", OPS)
@pytest.mark.parametrize("op_b", ["insert", "update", "add_column"])
def test_different_tables_commit_independently(two_tables, op_a, op_b):
    tx1 = two_tables.transaction()
    tx2 = two_tables.transaction()
    _op(op_a)(tx1, "t1")
    _op(op_b)(tx2, "t2")
    tx1.commit()
    tx2.commit()  # must NOT conflict


def test_conflict_loser_state_not_applied(two_tables):
    tx1 = two_tables.transaction()
    tx2 = two_tables.transaction()
    tx1.bucket("bkt").schema("s").table("t1").update_where(D.a == 1, {"s": "w1"})
    tx2.bucket("bkt").schema("s").table("t1").update_where(D.a == 1, {"s": "w2"})
    tx1.commit()
    with pytest.raises(vastdb.Conflict):
        tx2.commit()
    with two_tables.transaction() as tx:
        got = (
            tx.bucket("bkt").schema("s").table("t1")
            .select(predicate=(D.a == 1)).read_all()
        )
    assert got.column("s").to_pylist() == ["w1"]


def test_drop_vs_dml_conflicts(two_tables):
    tx1 = two_tables.transaction()
    tx2 = two_tables.transaction()
    tx1.bucket("bkt").schema("s").table("t1").drop()
    tx2.bucket("bkt").schema("s").table("t1").insert(ROWS)
    tx1.commit()
    with pytest.raises(vastdb.Conflict):
        tx2.commit()


def test_noop_commit_does_not_conflict(two_tables):
    """Conflict detection is VALUE-based (object state at base vs tip), so
    a commit whose net effect is nothing — dedup_rows over a table with no
    duplicates, or a delete_where matching no row — does not invalidate a
    concurrent writer."""
    noops = [
        lambda t: t.dedup_rows(),
        lambda t: t.delete_where(D.a > 100),
    ]
    for i, noop in enumerate(noops, start=2):
        tx1 = two_tables.transaction()
        tx2 = two_tables.transaction()
        noop(tx1.bucket("bkt").schema("s").table("t1"))
        _op("insert")(tx2, "t1")
        tx1.commit()
        tx2.commit()  # must NOT conflict
        with two_tables.transaction() as tx:
            assert tx.bucket("bkt").schema("s").table("t1").count_rows() == 3 * i


def test_consume_changes_concurrent_commit_conflicts_then_redelivers(two_tables):
    """A commit landing on the same table between a consumer's feed read
    and its cursor commit must CONFLICT the consumer (the cursor may
    never advance past an undelivered delta); the replayed consumption
    then delivers that delta exactly once."""
    ses = two_tables
    # bootstrap: first consumption is empty and records the cursor
    with ses.transaction() as tx:
        assert tx.bucket("bkt").schema("s").table("t1").consume_changes("c1").count() == 0

    txc = ses.transaction()
    feed = txc.bucket("bkt").schema("s").table("t1").consume_changes("c1")
    assert feed.count() == 0  # span captured before the concurrent insert
    txw = ses.transaction()
    txw.bucket("bkt").schema("s").table("t1").insert(ROWS)
    txw.commit()
    with pytest.raises(vastdb.Conflict):
        txc.commit()

    # replay in a fresh transaction: the concurrent insert is in the span
    with ses.transaction() as tx:
        rows = tx.bucket("bkt").schema("s").table("t1").consume_changes("c1").collect()
        assert sorted(r._change_type for r in rows) == ["insert"] * 3
    # ...and exactly once — the next consumption is empty again
    with ses.transaction() as tx:
        assert tx.bucket("bkt").schema("s").table("t1").consume_changes("c1").count() == 0
