"""Per-file Bloom column indexes (plans/bloom.py + Table.build_column_index):
pruning soundness, incremental refresh, SQL verbs, and the pure-Python
bitmap math itself."""

import pyarrow as pa
import pytest

from vastdb_sdk_spark import _ as D
from vastdb_sdk_spark.errors import InvalidArgument, MissingProjection
from vastdb_sdk_spark.plans import bloom as B


def test_bitmap_membership_and_fpp_shape():
    vals = [f"v{i}" for i in range(1000)]
    e = B.build_bitmap(vals, fpp=0.01, seed=42)
    assert all(B.might_contain(e, v, 42) for v in vals)  # no false negatives
    fp = sum(B.might_contain(e, f"absent{i}", 42) for i in range(2000))
    assert fp / 2000 < 0.05  # target 0.01, generous margin
    m, k = B.sizing(1000, 0.01)
    assert e["m"] == m and e["k"] == k and m % 8 == 0 and k >= 1


def test_canonical_hashing_cross_type_property():
    """Property: any two values Spark's numeric-promotion equality would
    MATCH must hash identically (no Bloom false negatives), for ints,
    floats, Decimals, bools, and numeric strings."""
    import decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=-(2**53), max_value=2**53), st.integers(0, 99))
    def check(n, seed):
        forms = [n, float(n), decimal.Decimal(n), str(n), str(float(n))]
        if n in (0, 1):
            forms.append(bool(n))
        hashes = {B._hash_pair(v, seed) for v in forms}
        assert len(hashes) == 1, (n, forms)

    check()

    # a built bitmap over ints answers True for every equal-under-Spark
    # literal form, at several sizes
    vals = list(range(-50, 50))
    e = B.build_bitmap(vals, fpp=0.01, seed=7)
    for v in vals:
        for lit in (v, float(v), decimal.Decimal(v), str(v), str(float(v))):
            assert B.might_contain(e, lit, 7), lit
    # non-integral floats keep their own identity both ways
    ef = B.build_bitmap([0.5, 2.25], fpp=0.01, seed=7)
    assert B.might_contain(ef, 0.5, 7) and B.might_contain(ef, "0.5", 7)
    assert B.might_contain(ef, decimal.Decimal("2.25"), 7)
    # above 2^53 Spark's bigint-vs-double compare is LOSSY: the int
    # 2^53 + 1 and the double 2^53.0 MATCH there, so the bitmap must
    # answer True for the double literal too (ints collapse through
    # float in that range — only ever adds false positives)
    big = 2**53 + 1
    eb = B.build_bitmap([big], fpp=0.01, seed=7)
    assert B.might_contain(eb, big, 7)
    assert B.might_contain(eb, float(2**53), 7)
    assert B.might_contain(eb, 2**53, 7) == B.might_contain(eb, float(2**53), 7)


def test_extract_points():
    pts = B.extract_points(D.x == 5, "x")
    assert pts == [5]
    assert sorted(B.extract_points(D.x.isin([1, 2, 3]), "x")) == [1, 2, 3]
    assert B.extract_points(D.x > 5, "x") is None
    assert B.extract_points((D.x == 5) | (D.x > 9), "x") is None
    assert B.extract_points((D.x == 5) & (D.y == "a"), "x") == [5]
    assert B.extract_points(D.y == "a", "x") is None


def _multi_file_table(clean_schema, n_files=6, rows_per=500):
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "t", pa.schema([("id", pa.int64()), ("v", pa.string())])
        )
        for f in range(n_files):
            base = f * rows_per
            t.insert(
                pa.table(
                    {
                        "id": list(range(base, base + rows_per)),
                        "v": [f"s{base + i}" for i in range(rows_per)],
                    }
                )
            )
    return clean_schema


def test_point_lookup_prunes_to_one_file(clean_schema):
    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert t.prune_preview(D.id == 1234)["candidate_files"] == 6
        t.build_column_index("id")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        pv = t.prune_preview(D.id == 1234)
        assert pv == {"total_files": 6, "candidate_files": 1}
        # isin across two files -> two candidates
        assert t.prune_preview(D.id.isin([10, 2900]))["candidate_files"] == 2
        # ranges don't use the bloom (not a point set)
        assert t.prune_preview(D.id > 4)["candidate_files"] == 6
        # results stay correct through the pruned scan
        got = t.select(columns=["v"], predicate=(D.id == 1234)).read_all()
        assert got.column("v").to_pylist() == ["s1234"]
        # a value present nowhere prunes everything
        assert t.prune_preview(D.id == 10**9)["candidate_files"] == 0
        assert t.count_rows(D.id == 10**9) == 0
        # cross-type literals Spark's equality WOULD match must not be
        # pruned away: 5.0 / Decimal / numeric string on the int column
        # hash to the canonical int form (build and probe share _canon)
        for lit in (1234.0, "1234"):
            assert (
                t.prune_preview(D.id == lit)["candidate_files"] == 1
            ), f"false negative for literal {lit!r}"
        got = t.select(columns=["v"], predicate=(D.id == 1234.0)).read_all()
        assert got.column("v").to_pylist() == ["s1234"]


def test_index_under_a_quoted_path(spark, tmp_path):
    """Spark percent-encodes a space or ``%`` in ``_metadata.file_path``:
    the sidecar must still key each file by its plain path, or the file
    reads as unindexed and gets an all-zero bitmap that prunes it."""
    import vastdb_sdk_spark as vastdb

    session = vastdb.connect(str(tmp_path / "ws p%20q"), spark=spark)
    session.create_bucket("bkt")
    with session.transaction() as tx:
        tx.bucket("bkt").create_schema("s")
    _multi_file_table(session, n_files=2, rows_per=10)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.build_column_index("id")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert t.prune_preview(D.id == 12) == {"total_files": 2, "candidate_files": 1}
        got = t.select(columns=["v"], predicate=(D.id == 12)).read_all()
        assert got.column("v").to_pylist() == ["s12"]


def test_vacuum_keeps_live_sidecars(clean_schema):
    """A column index's sidecar dir is referenced as a whole: vacuum
    deletes none of its files, so the index keeps pruning."""
    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        tx.bucket("bkt").schema("s").table("t").build_column_index("id")
    deleted = session.vacuum("bkt")
    assert not [p for p in deleted if "bloomidx-" in p]
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert t.prune_preview(D.id == 1234)["candidate_files"] == 1


def test_refresh_rebuilds_v1_config(clean_schema):
    """A pre-format-2 config (monolithic JSON, one `sidecar` key, no
    `sidecars` list) is unreadable by design: refresh rebuilds it at the
    same knobs into the current format, and pruning resumes."""
    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.build_column_index("id", fpp=0.02)
        phys = t._physical_of("id")
        entry = t.entry
        entry.properties["column_indexes"][phys] = {
            "kind": "bloom", "fpp": 0.02, "seed": 7, "sidecar": "/nope",
        }
        t._mutate(entry, "simulate v1 column-index config")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert t.prune_preview(D.id == 1234)["candidate_files"] == 6
        res = t.refresh_column_index("id")
        assert res == {"added_files": 6, "dropped_files": 0}
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        cfg = t.column_indexes()["id"]
        assert cfg["format"] == B.FORMAT_VERSION
        assert (cfg["fpp"], cfg["seed"]) == (0.02, 7)
        assert len(cfg["sidecars"]) == 1
        assert t.prune_preview(D.id == 1234)["candidate_files"] == 1


def test_refresh_backfills_col_type_stamp(clean_schema):
    """A config built before the col_type stamp existed (simulated by
    deleting the key) must keep-all on numeric probes — and a refresh must
    backfill the stamp from the arrow schema so numeric pruning resumes;
    the bitmaps themselves are hash-compatible, so no rebuild happens."""
    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        tx.bucket("bkt").schema("s").table("t").build_column_index("id")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        phys = t._physical_of("id")
        entry = t.entry
        assert entry.properties["column_indexes"][phys].pop("col_type") == "integer"
        t._mutate(entry, "strip col_type (simulate pre-stamp config)")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        # pre-stamp config: numeric probe degrades to keep-all
        assert t.prune_preview(D.id == 1234)["candidate_files"] == 6
        res = t.refresh_column_index("id")
        assert res == {"added_files": 0, "dropped_files": 0}
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        phys = t._physical_of("id")
        assert t.entry.properties["column_indexes"][phys]["col_type"] == "integer"
        # stamp restored: numeric pruning works again, no rebuild needed
        assert t.prune_preview(D.id == 1234)["candidate_files"] == 1


def test_new_files_conservative_then_incremental_refresh(clean_schema):
    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        tx.bucket("bkt").schema("s").table("t").build_column_index("id")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.insert(pa.table({"id": [1234], "v": ["dup"]}))
        # the unindexed new file is always a candidate (no false negatives)
        assert t.prune_preview(D.id == 1234)["candidate_files"] == 2
        got = t.select(columns=["v"], predicate=(D.id == 1234)).read_all()
        assert sorted(got.column("v").to_pylist()) == ["dup", "s1234"]
        # even for values only in the new file
        assert t.prune_preview(D.id == 10**9)["candidate_files"] == 1
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        res = t.refresh_column_index("id")
        assert res == {"added_files": 1, "dropped_files": 0}
        assert t.prune_preview(D.id == 10**9)["candidate_files"] == 0


def test_update_appends_then_compact_drops_dead_entries(clean_schema):
    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        tx.bucket("bkt").schema("s").table("t").build_column_index("id")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        # predicate update is DV-based: the original file stays live
        # (masked) and the postimage appends as a NEW, unindexed file —
        # so the lookup stays correct via the conservative-keep rule
        t.update_where(D.id == 10, {"v": "rewritten"})
        got = t.select(columns=["v"], predicate=(D.id == 10)).read_all()
        assert got.column("v").to_pylist() == ["rewritten"]
        res = t.refresh_column_index("id")
        assert res["added_files"] >= 1 and res["dropped_files"] == 0
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        # compaction DOES rewrite paths: every old entry dies, the merged
        # file gets indexed fresh
        t.compact(min_files=2)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        res = t.refresh_column_index("id")
        assert res["dropped_files"] >= 2 and res["added_files"] >= 1
        got = t.select(columns=["v"], predicate=(D.id == 10)).read_all()
        assert got.column("v").to_pylist() == ["rewritten"]
        assert t.prune_preview(D.id == 10)["candidate_files"] >= 1


def test_string_column_and_validation(clean_schema):
    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.build_column_index("v")
        assert t.prune_preview(D.v == "s42")["candidate_files"] == 1
        with pytest.raises(InvalidArgument):
            t.build_column_index("nope")
        with pytest.raises(InvalidArgument):
            t.build_column_index("id", kind="btree")
        with pytest.raises(InvalidArgument):
            t.build_column_index("id", fpp=0.9)
        with pytest.raises(MissingProjection):
            t.refresh_column_index("id")
        assert set(t.column_indexes()) == {"v"}
        t.drop_column_index("v")
        assert t.column_indexes() == {}


def test_sql_verbs(clean_schema):
    session = _multi_file_table(clean_schema)
    r = session.execute_sql("BUILD COLUMN INDEX ON bkt.s.t (id) FPP 0.02 SEED 7")
    assert r["indexed_files"] == 6
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert t.prune_preview(D.id == 42)["candidate_files"] == 1
        t.insert(pa.table({"id": [9_999_999], "v": ["late"]}))
    r = session.execute_sql("REFRESH COLUMN INDEX ON bkt.s.t (id)")
    assert r == {"added_files": 1, "dropped_files": 0}
    r = session.execute_sql("DROP COLUMN INDEX ON bkt.s.t (id)")
    assert r == {"dropped_column_index": "id"}


def test_show_column_indexes_sql(clean_schema):
    session = _multi_file_table(clean_schema)
    session.execute_sql("BUILD COLUMN INDEX ON bkt.s.t (id) FPP 0.02")
    rows = session.execute_sql("SHOW COLUMN INDEXES ON bkt.s.t").collect()
    assert [(r["column"], r["kind"], r["fpp"]) for r in rows] == [
        ("id", "bloom", 0.02)
    ]


def test_rename_keeps_index_attached_and_drop_guard(clean_schema):
    """Configs are keyed by physical name: a metadata-only rename keeps
    the index pruning under the NEW name, and dropping an indexed (or
    view-referenced) column is refused instead of silently orphaning."""
    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.build_column_index("id")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.rename_column("id", "ident")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        assert set(t.column_indexes()) == {"ident"}
        # pruned under the NEW name (false positives allowed: <= a
        # couple of files, never the whole manifest)
        assert t.prune_preview(D.ident == 42)["candidate_files"] <= 2
        got = t.select(columns=["v"], predicate=(D.ident == 42)).read_all()
        assert got.column("v").to_pylist() == ["s42"]
        # refresh and drop address the index under the new name
        assert t.refresh_column_index("ident")["added_files"] == 0
        with pytest.raises(InvalidArgument, match="column index"):
            t.drop_column("ident")
        t.create_materialized_view("mv", ["v"], {"m": ("max", "ident")})
        t.drop_column_index("ident")
        with pytest.raises(InvalidArgument, match="materialized view"):
            t.drop_column("ident")
        t.materialized_view("mv").drop()
        t.drop_column("ident")  # now allowed
        assert "ident" not in t.arrow_schema.names


def test_scale_500_files_capped_bitmaps_and_streaming_probe(
    clean_schema, tmp_path
):
    """100-TB-shape guarantees at test scale: 500 data files / ~1M total
    distinct values build an index whose per-file bitmap is CAPPED
    (max_bits), whose sidecar is a task-written parquet dataset of
    bounded total size, and whose probe path works streamed (cache
    forced off) — i.e. no driver-side collect of the bitmaps anywhere."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    n_files, per_file = 500, 2000
    paths = []
    d = tmp_path / "ext"
    d.mkdir()
    for f in range(n_files):
        base = f * per_file
        ids = np.arange(base, base + per_file, dtype=np.int64)
        p = str(d / f"part-{f:04d}.parquet")
        pq.write_table(pa.table({"id": ids}), p)
        paths.append(p)
    session = clean_schema
    max_bits = 4096  # sizing() wants ~19k bits for 2000 values at 0.01
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "big", pa.schema([("id", pa.int64())])
        )
        t.import_files(paths)
        with pytest.warns(UserWarning, match="bloom bitmap capped"):
            r = t.build_column_index("id", max_bits=max_bits)
        assert r["indexed_files"] == n_files
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("big")
        cfg = t.column_indexes()["id"]
        assert cfg["format"] == B.FORMAT_VERSION
        assert cfg["hash_version"] == B.HASH_VERSION
        sidecars = cfg["sidecars"]
        assert len(sidecars) == 1
        # bounded: every bitmap capped, dataset total ~= files * cap/8
        total = sum(B.sidecar_dir_size(sd) for sd in sidecars)
        assert total < n_files * (max_bits // 8) * 2  # parquet overhead slack
        import pyarrow.dataset as pads

        tbl = pads.dataset(sidecars[0], format="parquet",
                           ignore_prefixes=[".", "_"]).to_table(
            columns=["m", "k"]
        )
        assert tbl.num_rows == n_files
        assert max(tbl.column("m").to_pylist()) <= max_bits
        # soundness at degraded fpp: a present value is never pruned away
        pv = t.prune_preview(D.id == 123_456)
        assert pv["total_files"] == n_files
        assert 1 <= pv["candidate_files"] < 400  # fpp~0.39 -> mean ~196
        got = t.select(columns=["id"], predicate=(D.id == 123_456)).read_all()
        assert got.column("id").to_pylist() == [123_456]
        # probe with the cache disabled (forces the streamed path)
        old = B._CACHE_DIR_BYTES
        B._SIDECAR_CACHE.clear()
        try:
            B._CACHE_DIR_BYTES = 0
            pv2 = t.prune_preview(D.id == 123_456)
        finally:
            B._CACHE_DIR_BYTES = old
        assert pv2 == pv


def test_refresh_appends_delta_never_rewrites(clean_schema):
    """Pure-append refresh writes ONLY a delta sidecar directory: the
    original directory's files are untouched (same names, sizes,
    mtimes), and the config's sidecar list grows by one."""
    import os

    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        tx.bucket("bkt").schema("s").table("t").build_column_index("id")
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        (d1,) = t.column_indexes()["id"]["sidecars"]
        before = {
            f: os.stat(os.path.join(d1, f)).st_mtime_ns
            for f in os.listdir(d1)
        }
        t.insert(pa.table({"id": [10**7], "v": ["new"]}))
        res = t.refresh_column_index("id")
        assert res == {"added_files": 1, "dropped_files": 0}
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        dirs = t.column_indexes()["id"]["sidecars"]
        assert len(dirs) == 2 and dirs[0] == d1
        after = {
            f: os.stat(os.path.join(d1, f)).st_mtime_ns
            for f in os.listdir(d1)
        }
        assert after == before
        assert t.prune_preview(D.id == 10**7)["candidate_files"] == 1


def test_version_guard_keeps_all_files():
    """A config from an older format or hash scheme never prunes: version
    skew degrades to a no-op, not a false negative."""

    class FE:
        def __init__(self, p):
            self.path = p

    files = [FE("/tmp/a.parquet"), FE("/tmp/b.parquet")]
    pred = D.x == 5
    # v1 monolithic-JSON config (no format key)
    assert B.prune_files_by_bloom(
        files, "x", pred, {"kind": "bloom", "seed": 42, "sidecar": "/nope"}
    ) == files
    # right format, wrong hash scheme
    assert B.prune_files_by_bloom(
        files, "x", pred,
        {"format": B.FORMAT_VERSION, "hash_version": 99, "sidecars": []},
    ) == files


def test_build_on_empty_table_then_refresh(clean_schema):
    """Zero data files at build time: the config must record NO sidecar
    dirs (the write job never ran, so a recorded dir wouldn't exist and
    the first refresh would crash reading it); inserts then arrive via
    plain refresh."""
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "t", pa.schema([("id", pa.int64()), ("v", pa.string())])
        )
        assert t.build_column_index("id") == {"indexed_files": 0}
        assert t.column_indexes()["id"]["sidecars"] == []
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.insert(pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]}))
        assert t.refresh_column_index("id") == {
            "added_files": 1, "dropped_files": 0,
        }
        assert t.prune_preview(D.id == 2)["candidate_files"] == 1
        assert t.prune_preview(D.id == 99)["candidate_files"] == 0


def test_allnull_column_file_indexes_once_and_prunes(clean_schema):
    """A file whose indexed column is entirely null gets an all-zero
    bitmap row: point probes prune it (NULL never equals a value), and
    refresh converges — no phantom 'missing' file re-indexed per call,
    no empty delta dir accumulation forcing spurious compactions."""
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "t", pa.schema([("id", pa.int64()), ("v", pa.string())])
        )
        t.insert(pa.table({"id": [1, 2], "v": ["a", "b"]}))
        t.insert(
            pa.table({"id": pa.array([None, None], pa.int64()),
                      "v": ["x", "y"]})
        )
        assert t.build_column_index("id") == {"indexed_files": 2}
    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        # all-null file pruned on point lookups; values still correct
        assert t.prune_preview(D.id == 1)["candidate_files"] == 1
        got = t.select(columns=["v"], predicate=(D.id == 1)).read_all()
        assert got.column("v").to_pylist() == ["a"]
        # refresh is a no-op: nothing missing, no new sidecar dirs
        before = list(t.column_indexes()["id"]["sidecars"])
        assert t.refresh_column_index("id") == {
            "added_files": 0, "dropped_files": 0,
        }
        assert t.refresh_column_index("id") == {
            "added_files": 0, "dropped_files": 0,
        }
        assert list(t.column_indexes()["id"]["sidecars"]) == before
        # isnull predicates don't consult the bloom (not a point set):
        # the all-null file must still be scannable
        assert t.count_rows(D.v == "x") == 1


def test_mixed_type_predicate_degrades_not_crashes(clean_schema):
    """Literal-type mixtures on one column (int vs str) make the interval
    algebra's comparisons TypeError internally; planning must degrade to
    'cannot prune', never crash."""
    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.build_column_index("id")
        # PLANNING must not crash (execution of these predicates is
        # Spark's business — ANSI mode rejects cast('abc' as bigint),
        # which is the reference-consistent behavior)
        bad = (D.id == 5) & (D.id == "abc")
        assert t.prune_preview(bad)["total_files"] == 6
        bad2 = ((D.id > 5) & (D.id <= "zz")) | (D.id == 7)
        assert t.prune_preview(bad2)["total_files"] == 6
        # intervals themselves degrade to unconstrained, not raise
        from vastdb_sdk_spark.plans.pruning import extract_intervals

        assert extract_intervals(bad, "id") is None
        assert extract_intervals(bad2, "id") is None


def test_temporal_and_numeric_literals_never_prune_string_column(clean_schema):
    """A datetime literal (or any non-string literal) against a STRING
    bloom column makes Spark cast the COLUMN — equalities the string-
    keyed hash can't replicate — so those probes must keep all files."""
    import datetime

    with clean_schema.transaction() as tx:
        t = tx.bucket("bkt").schema("s").create_table(
            "ts", pa.schema([("s", pa.string()), ("v", pa.int64())])
        )
        # 'T'-separated ISO strings cast to the same timestamps as the
        # space-separated probe literal would
        t.insert(pa.table({
            "s": ["2026-08-16T10:00:00", "7d", "x"], "v": [1, 2, 3],
        }))
        t.build_column_index("s")
        assert t.column_indexes()["s"]["col_type"] == "string"
        # temporal literal: no pruning (candidate == total)
        pv = t.prune_preview(D.s == datetime.datetime(2026, 8, 16, 10))
        assert pv["candidate_files"] == pv["total_files"]
        # numeric literal on the string column: no pruning either
        # (cast('7d' as double) = 7.0 matches 7 under Spark's promotion)
        pv = t.prune_preview(D.s == 7)
        assert pv["candidate_files"] == pv["total_files"]
        # plain string probes still prune
        assert t.prune_preview(D.s == "absent")["candidate_files"] == 0
        assert t.prune_preview(D.s == "x")["candidate_files"] == 1


def test_corrupt_sidecar_entry_keeps_all_files():
    """m=0 or short bitmaps in a sidecar row must degrade pruning to a
    no-op, not crash planning."""
    import types

    from vastdb_sdk_spark.plans.bloom import (
        FORMAT_VERSION, HASH_VERSION, prune_files_by_bloom,
    )

    fe = types.SimpleNamespace(path="/tmp/nonexistent-f1.parquet")
    cfg = {
        "format": FORMAT_VERSION, "hash_version": HASH_VERSION,
        "seed": 42, "col_type": "integer",
        "sidecars": ["/tmp/nonexistent-bloom-dir"],
    }
    from vastdb_sdk_spark.expr import _ as DD  # same deferred namespace
    # missing dir -> OSError path -> keep all
    assert prune_files_by_bloom([fe], "id", (DD.id == 5), cfg) == [fe]
    # corrupt entries -> ZeroDivision/IndexError path -> keep all
    from vastdb_sdk_spark.plans import bloom as B2

    orig = B2._iter_entries
    try:
        B2._iter_entries = lambda d, cand: iter(
            [("/tmp/nonexistent-f1.parquet", {"m": 0, "k": 1, "bits": b""})]
        )
        assert prune_files_by_bloom([fe], "id", (DD.id == 5), cfg) == [fe]
        B2._iter_entries = lambda d, cand: iter(
            [("/tmp/nonexistent-f1.parquet",
              {"m": 1024, "k": 3, "bits": b"\x00" * 4})]
        )
        assert prune_files_by_bloom([fe], "id", (DD.id == 5), cfg) == [fe]
    finally:
        B2._iter_entries = orig


def test_sizing_cap_byte_aligned_and_is_capped_agrees():
    m, k = B.sizing(1_000_000, 0.01, max_bits=100_001)
    assert m <= 100_001 and m % 8 == 0  # never exceeds the stated cap
    assert B.is_capped(1_000_000, 0.01, 100_001)
    assert not B.is_capped(10, 0.01, 100_001)
    # tiny n, huge cap: uncapped
    m2, _ = B.sizing(10, 0.01)
    assert not B.is_capped(10, 0.01) and m2 % 8 == 0


def test_superseded_sidecar_dirs_deleted(clean_schema):
    """Rebuild and compaction must not strand full index copies on disk."""
    import os

    session = _multi_file_table(clean_schema)
    with session.transaction() as tx:
        t = tx.bucket("bkt").schema("s").table("t")
        t.build_column_index("id")
        first = list(t.column_indexes()["id"]["sidecars"])
        t.build_column_index("id")  # rebuild supersedes the first dir
        second = list(t.column_indexes()["id"]["sidecars"])
        assert first != second
        assert not any(os.path.exists(d) for d in first)
        assert all(os.path.exists(d) for d in second)
        # dead entries (predicate delete rewrites nothing, but an update
        # does) -> compaction replaces the dir list and deletes the olds
        t.update_where(D.id == 3, {"v": "rewritten"})
        t.refresh_column_index("id")
        third = list(t.column_indexes()["id"]["sidecars"])
        if third != second:
            assert not any(os.path.exists(d) for d in second if d not in third)
        # pruning still sound afterwards
        assert t.prune_preview(D.id == 3)["candidate_files"] >= 1
        t.drop_column_index("id")
        assert not any(os.path.exists(d) for d in third)
