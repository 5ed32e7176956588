"""The 11 codec-backed media, shard and CDC entries that lead the
registry (the front of the gate window). Exercised here at sf0.001 with
the same comparison the driver's correctness gate applies (row count,
column names, Arrow type classes, order-insensitive value hash)."""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_correctness import (
    spark_to_arrow,
    table_lines,
    type_class,
    value_hash,
)

SF = "/root/testdata/sf0.001"


SMOKE = [
    "mm_decode_bmp",
    "mm_decode_wav",
    "mm_decode_jpeg",
    "mm_decode_tiff",
    "mm_decode_y4m",
    "mm_phash_neardup_real",
    "e27_cdf_matview_e2e",
    "e28_cdc_replica_sync",
    "e29_webdataset_roundtrip",
    "ann_filtered_ivf",
    "tx_minhash_cdf_incremental",
]


def test_r15_pending_disjoint_from_registry():
    qs = entry_mod.queries()
    assert len(set(SMOKE)) == 11
    assert set(SMOKE) <= set(qs)
    assert set(SMOKE) <= set(entry_mod.oracle_sql())
    assert len(qs) == 203
    # they lead the gate window, in this order
    assert list(qs)[:11] == SMOKE


@pytest.mark.parametrize("name", SMOKE)
def test_r15_pending_matches_oracle(spark, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    stbl = spark_to_arrow(fn(spark, SF))
    otbl = con.execute(sql).fetch_arrow_table()
    assert stbl.num_rows == otbl.num_rows > 0
    cols = sorted(stbl.column_names)
    assert cols == sorted(otbl.column_names)
    for c in cols:
        sc = type_class(stbl.schema.field(c).type)
        oc = type_class(otbl.schema.field(c).type)
        assert sc == oc, f"{name}.{c}: spark {sc} != oracle {oc}"
    slines = table_lines(stbl, cols)
    olines = table_lines(otbl, cols)
    assert value_hash(slines) == value_hash(olines), (
        f"{name}: value mismatch; "
        f"spark-only={list(set(slines) - set(olines))[:3]} "
        f"oracle-only={list(set(olines) - set(slines))[:3]}"
    )
