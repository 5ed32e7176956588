"""Unit tests for the round-5 training-pipeline operators: PII scrub,
n-gram contamination, weighted domain resampling."""

from pyspark.sql import functions as F

from vastdb_sdk_spark.functions.scrub import (
    PII_PATTERNS,
    pii_count,
    pii_counts,
    scrub_pii,
)
from vastdb_sdk_spark.operators.contamination import (
    decontaminate,
    ngram_contamination,
)
from vastdb_sdk_spark.operators.sampling import hash_bucket, resample_to_mix


def test_scrub_redacts_each_kind(spark):
    df = spark.createDataFrame(
        [
            (1, "write to jane.doe+x@corp.example.org today"),
            (2, "docs at https://ex.org/a/b?q=1 and http://ex.org"),
            (3, "node 192.168.0.17 timed out"),
            (4, "call +44-201-3344 now"),
            (5, "nothing here: v1.2.3 and 3.14"),
        ],
        "id INT, t STRING",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id", scrub_pii("t").alias("s"), *pii_counts("t")
        ).collect()
    }
    assert rows[1].s == "write to <EMAIL> today" and rows[1].n_email == 1
    assert rows[2].s == "docs at <URL> and <URL>" and rows[2].n_url == 2
    assert rows[3].s == "node <IPV4> timed out" and rows[3].n_ipv4 == 1
    assert rows[4].s == "call <PHONE> now" and rows[4].n_phone == 1
    assert rows[5].s == "nothing here: v1.2.3 and 3.14"
    assert (rows[5].n_email, rows[5].n_url, rows[5].n_ipv4, rows[5].n_phone) == (
        0, 0, 0, 0,
    )


def test_scrub_url_before_email(spark):
    # an email-looking path segment inside a URL must be redacted as URL
    df = spark.createDataFrame(
        [("https://h.io/u@v.wx rest",)], "t STRING"
    )
    out = df.select(scrub_pii("t").alias("s")).head().s
    assert out == "<URL> rest"
    # but the raw count still sees the embedded email (detection != redaction)
    assert df.select(pii_count("t", "email").alias("n")).head().n == 1


def test_contamination_planted_and_clean(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame(
        [
            (1, "prefix words then " + base),     # contains eval 0's text
            (2, "totally different words entirely unrelated content here now"),
        ],
        "doc_id LONG, text STRING",
    )
    ev = spark.createDataFrame([(100, base)], "doc_id LONG, text STRING")
    pairs = ngram_contamination(train, ev, n=8).collect()
    assert len(pairs) == 1
    p = pairs[0]
    # eval doc has 10 tokens -> 3 distinct 8-grams, all inside train doc 1
    assert (p.train_id, p.eval_id, p.n_shared) == (1, 100, 3)
    clean = decontaminate(train, ev, n=8)
    assert [r.doc_id for r in clean.collect()] == [2]


def test_contamination_short_doc_verbatim(spark):
    # eval doc shorter than n tokens matches only verbatim copies
    train = spark.createDataFrame(
        [(1, "tiny probe"), (2, "a tiny probe inside")],
        "doc_id LONG, text STRING",
    )
    ev = spark.createDataFrame([(9, "tiny probe")], "doc_id LONG, text STRING")
    got = {
        (r.train_id, r.eval_id)
        for r in ngram_contamination(train, ev, n=8).collect()
    }
    # doc 1 is the verbatim copy; doc 2's degenerate gram is the full
    # 4-token text, which differs
    assert got == {(1, 9)}


def test_resample_to_mix_proportions(spark):
    rows = [(i, "en" if i % 10 < 6 else ("de" if i % 10 < 8 else "fr"))
            for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = resample_to_mix(df, "doc_id", "lang", {"en": 0.5, "de": 0.25, "fr": 0.25})
    mix = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(mix.values())
    # fr is binding (1000 docs / 0.25 weight): kept ~whole; realized mix
    # within a point of target (hash threshold granularity + hash variance)
    assert mix["fr"] > 900
    assert abs(mix["en"] / total - 0.5) < 0.05
    assert abs(mix["de"] / total - 0.25) < 0.05
    assert abs(mix["fr"] / total - 0.25) < 0.05


def test_resample_to_mix_drops_unlisted_and_is_deterministic(spark):
    # unequal strata so the non-binding one (en, 200 rows) actually gets
    # thresholded: scale = min(200/0.5, 100/0.5) = 200 -> thr_en = 5000,
    # thr_de = 10000 (kept whole)
    rows = [(i, ["en", "en", "de", "xx"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out1 = sorted(r.doc_id for r in resample_to_mix(df, "doc_id", "lang", {"en": 0.5, "de": 0.5}).collect())
    out2 = sorted(r.doc_id for r in resample_to_mix(df, "doc_id", "lang", {"en": 0.5, "de": 0.5}).collect())
    assert out1 == out2
    kept = set(out1)
    assert "xx" not in {lang for i, lang in rows if i in kept}
    # membership is EXACTLY the documented hash arithmetic: recompute the
    # per-stratum thresholds and assert kept <=> bucket < threshold
    import math

    counts = {"en": 200, "de": 100}
    scale = min(n / 0.5 for n in counts.values())
    thr = {s: math.floor(scale * 0.5 / n * 10_000) for s, n in counts.items()}
    assert thr == {"en": 5000, "de": 10000}
    for i, lang in rows:
        bucket = ((i % 3_037_000_493) * 2654435761) % 10_000
        if lang in thr:
            assert (i in kept) == (bucket < thr[lang]), (i, lang, bucket)
        else:
            assert i not in kept
    # and the binding stratum must be kept whole while en actually shrinks
    assert sum(1 for i, l in rows if l == "de" and i in kept) == 100
    assert 0 < sum(1 for i, l in rows if l == "en" and i in kept) < 200


def test_resample_to_mix_empty_weights_raises(spark):
    import pytest

    df = spark.createDataFrame([(1, "en")], "doc_id LONG, lang STRING")
    with pytest.raises(ValueError):
        resample_to_mix(df, "doc_id", "lang", {})


def test_pattern_table_is_the_single_source():
    # the oracle generators must cover exactly the Spark pattern table
    from vastdb_sdk_spark.functions.scrub import count_sql, scrub_sql

    s = scrub_sql("t")
    for k in PII_PATTERNS:
        assert f"<{k.upper()}>" in s
        assert PII_PATTERNS[k].replace("'", "''") in count_sql("t", k)


def test_scrub_composes_with_streaming(spark, tmp_path):
    """scrub_pii is a pure map expression, so it must run unchanged inside
    a Structured Streaming pipeline (file source -> scrub -> memory sink)
    and agree with the batch run over the same files."""
    df = spark.createDataFrame(
        [
            (1, "ping admin@ex.org now"),
            (2, "fetch https://a.io/x then stop"),
            (3, "clean row"),
        ],
        "id LONG, t STRING",
    )
    src = str(tmp_path / "scrub_in")
    df.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stream.select("id", scrub_pii("t").alias("s"), *pii_counts("t"))
    q = (
        out.writeStream.format("memory")
        .queryName("scrub_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_scrub"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.id: (r.s, r.n_email, r.n_url)
        for r in spark.sql("SELECT * FROM scrub_stream").collect()
    }
    batch = spark.read.parquet(src).select(
        "id", scrub_pii("t").alias("s"), *pii_counts("t")
    )
    expected = {r.id: (r.s, r.n_email, r.n_url) for r in batch.collect()}
    assert got == expected
    assert got[1][0] == "ping <EMAIL> now" and got[2][0] == "fetch <URL> then stop"


# -- round-6 additions: repetition stats, chunking, dup clusters ------------


def test_dup_ngram_fraction(spark):
    from vastdb_sdk_spark.functions.text import dup_ngram_fraction, tokens

    df = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),          # bigrams: ab,ba,ab,ba,ab,ba,ab -> 7 total 2 distinct
            (2, "one two three four five"),  # all distinct
            (3, "x"),                        # shorter than n -> 0
            (4, ""),                         # empty -> 0
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: (round(r.f2, 6), round(r.f3, 6))
        for r in df.select(tokens(F.col("text")).alias("tk"), "doc_id")
        .select(
            "doc_id",
            dup_ngram_fraction(F.col("tk"), 2).alias("f2"),
            dup_ngram_fraction(F.col("tk"), 3).alias("f3"),
        )
        .collect()
    }
    assert out[1] == (round(1 - 2 / 7, 6), round(1 - 2 / 6, 6))
    assert out[2] == (0.0, 0.0)
    assert out[3] == (0.0, 0.0)
    assert out[4] == (0.0, 0.0)


def test_chunk_fixed_tokens(spark):
    import pytest as _pytest

    from vastdb_sdk_spark.operators.sampling import chunk_fixed_tokens

    words = " ".join(f"w{i}" for i in range(1, 22))  # 21 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, "")], "doc_id LONG, text STRING"
    )
    out = chunk_fixed_tokens(df, size=8, overlap=2)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    # doc 1: stride 6, n=21 -> ceil(19/6)=4 chunks at starts 1,7,13,19
    assert {cid for d, cid in rows if d == 1} == {0, 1, 2, 3}
    assert rows[(1, 0)].chunk_text.split() == [f"w{i}" for i in range(1, 9)]
    assert rows[(1, 2)].chunk_text.split() == [f"w{i}" for i in range(13, 21)]
    assert rows[(1, 3)].chunk_text.split() == ["w19", "w20", "w21"]
    assert rows[(1, 3)].n_chunk_tokens == 3
    # every token covered, consecutive chunks overlap by exactly 2
    assert set(rows[(1, 1)].chunk_text.split()) & set(
        rows[(1, 0)].chunk_text.split()
    ) == {"w7", "w8"}
    # doc 2: single chunk, doc 3: no rows
    assert {cid for d, cid in rows if d == 2} == {0}
    assert rows[(2, 0)].chunk_text == "a b c"
    assert not [1 for d, _ in rows if d == 3]
    with _pytest.raises(ValueError):
        chunk_fixed_tokens(df, size=4, overlap=4)


def test_dup_clusters(spark):
    from vastdb_sdk_spark.operators.dedup import dup_clusters

    # components: {1,2,3} (chain), {10,11} (pair), {20,21,22,23} (star on 21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20), (21, 22), (21, 23)],
        "id_a LONG, id_b LONG",
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_dup_clusters_long_chain_converges(spark):
    from vastdb_sdk_spark.operators.dedup import dup_clusters

    # a 12-node path needs multiple propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id_a LONG, id_b LONG"
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {i: 100 for i in range(100, 113)}


def test_dup_clusters_large_graphs_share_one_exit_handler(spark, monkeypatch):
    """Label sets over 1024 nodes come back file-backed; their temp dirs
    are removed at exit by ONE atexit handler, not one per call."""
    import atexit
    import os

    from vastdb_sdk_spark.operators import dedup

    registered = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: registered.append(fn))
    monkeypatch.setattr(dedup, "_EXIT_TEMP_DIRS", [], raising=False)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1100)], "id_a LONG, id_b LONG"
    )
    for _ in range(2):
        got = dedup.dup_clusters(pairs).collect()
        assert len(got) == 1101 and {r.cluster_id for r in got} == {0}
    assert len(registered) == 1
    dirs = list(dedup._EXIT_TEMP_DIRS)
    assert len(dirs) == 2 and all(os.path.isdir(d) for d in dirs)
    registered[0]()
    assert not any(os.path.exists(d) for d in dirs)


def test_quality_percentile_filter(spark):
    from vastdb_sdk_spark.operators.sampling import quality_percentile_filter

    rows = [(i, "a" if i < 10 else "b", float(i % 10)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, q DOUBLE")
    kept = {
        r.doc_id
        for r in quality_percentile_filter(
            df, "q", keep_fraction=0.5, stratum_col="source"
        ).collect()
    }
    # per stratum of 10 rows: percent_rank = (rank-1)/9, keep pr >= 0.5
    # -> ranks 6..10 -> scores 5..9 in each
    assert kept == {i for i in range(20) if i % 10 >= 5}
    # keep_fraction=1.0 keeps everything; invalid fractions raise
    assert quality_percentile_filter(df, "q", 1.0, "source").count() == 20
    import pytest as _pytest

    with _pytest.raises(ValueError):
        quality_percentile_filter(df, "q", 0.0)


def test_quantize_embeddings_int8(spark):
    import math

    from vastdb_sdk_spark.operators.similarity import quantize_embeddings_int8

    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.0, 0.5]),
            (2, [0.5, 4.0, 0.0, -1.0]),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    out = {r.vec_id: r for r in quantize_embeddings_int8(df, dim=4).collect()}
    # scales = per-dim max abs = [1.0, 4.0, 1e-30, 1.0]
    assert out[1].q8_scale[:2] == [1.0, 4.0] and out[1].q8_scale[3] == 1.0
    q = lambda x, s: math.floor(127.0 * x / s + 0.5)
    assert out[1].embedding_q8 == [127, q(-2.0, 4.0), 0, q(0.5, 1.0)]
    assert out[2].embedding_q8 == [q(0.5, 1.0), 127, 0, -127]
    # all values inside int8 range
    for r in out.values():
        assert all(-127 <= v <= 127 for v in r.embedding_q8)


def test_dedup_keep_representative_transitive(spark):
    from vastdb_sdk_spark.operators.dedup import dedup_keep_representative

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 7, 10, 11)],
        "doc_id LONG, text STRING",
    )
    # chain 1~2, 2~3 (no 1~3 pair) and pair 10~11; 7 is a singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a LONG, id_b LONG"
    )
    kept = sorted(
        r.doc_id for r in dedup_keep_representative(df, pairs).collect()
    )
    assert kept == [1, 7, 10]


def test_chunk_fixed_tokens_coverage_grid(spark):
    """Property grid: for doc lengths 0..40 x (size, overlap) combos, every
    token position is covered, consecutive chunks overlap by exactly
    `overlap` (except a shorter final chunk), and the chunk count matches
    ceil(max(n-overlap,1)/stride)."""
    import math

    from vastdb_sdk_spark.operators.sampling import chunk_fixed_tokens

    docs = [(n, " ".join(f"t{i}" for i in range(n))) for n in range(0, 41)]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    for size, overlap in ((8, 0), (8, 2), (5, 4), (16, 8), (3, 0)):
        stride = size - overlap
        out = {}
        for r in chunk_fixed_tokens(df, size=size, overlap=overlap).collect():
            out.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split()
        for n in range(0, 41):
            if n == 0:
                assert n not in out
                continue
            chunks = out[n]
            want_count = math.ceil(max(n - overlap, 1) / stride)
            assert len(chunks) == want_count, (n, size, overlap)
            covered = set()
            for cid, toks in chunks.items():
                start = cid * stride
                assert toks == [f"t{i}" for i in range(start, min(start + size, n))]
                covered.update(range(start, min(start + size, n)))
            assert covered == set(range(n)), (n, size, overlap)


def test_dup_clusters_random_graphs_match_union_find(spark):
    """Randomized robustness: dup_clusters on random edge lists must equal
    a python union-find oracle (component = min id)."""
    import random

    from vastdb_sdk_spark.operators.dedup import dup_clusters

    rng = random.Random(20260814)
    for trial in range(4):
        n = rng.randint(10, 60)
        m = rng.randint(5, 80)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        want = {}
        for v in touched:
            # min id of v's component (roots are minimal by construction)
            want[v] = find(v)
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges], "id_a LONG, id_b LONG"
        )
        got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
        assert got == want, (trial, n, m)


def test_dup_clusters_rejects_non_integral_ids(spark):
    """String doc ids would cast to NULL and silently keep every
    duplicate (r6 advice); the operator must fail loudly instead."""
    import pytest as _pytest

    import vastdb_sdk_spark as vastdb
    from vastdb_sdk_spark.operators.dedup import (
        dedup_keep_representative,
        dup_clusters,
    )

    pairs = spark.createDataFrame(
        [("doc-1", "doc-2")], "id_a STRING, id_b STRING"
    )
    with _pytest.raises(vastdb.InvalidArgument, match="non-integral"):
        dup_clusters(pairs)
    # the one-call wrapper fails the same way instead of returning the
    # corpus unchanged
    corpus = spark.createDataFrame(
        [("doc-1", "x"), ("doc-2", "x")], "doc_id STRING, text STRING"
    )
    with _pytest.raises(vastdb.InvalidArgument, match="non-integral"):
        dedup_keep_representative(corpus, pairs).collect()
    # missing pair column is also loud
    with _pytest.raises(vastdb.InvalidArgument, match="not found"):
        dup_clusters(pairs.withColumnRenamed("id_a", "left_id"))
    # decimal(38,0) — the Elysium $row_id type — is accepted
    dec = spark.createDataFrame([(1, 2)], "id_a LONG, id_b LONG").select(
        F.col("id_a").cast("decimal(38,0)").alias("id_a"),
        F.col("id_b").cast("decimal(38,0)").alias("id_b"),
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(dec).collect()}
    assert got == {1: 1, 2: 1}
    # a NULL wide-decimal id fails loud with a message that covers nulls —
    # assert_true throws on NULL conditions too, so without the isNotNull
    # leg the error would misleadingly claim the id "exceeds long range"
    nulled = spark.createDataFrame(
        [(None, 2)], "id_a LONG, id_b LONG"
    ).select(
        F.col("id_a").cast("decimal(38,0)").alias("id_a"),
        F.col("id_b").cast("decimal(38,0)").alias("id_b"),
    )
    with _pytest.raises(Exception, match="NULL or exceeds long range"):
        dup_clusters(nulled).collect()


def test_quality_percentile_filter_single_row_stratum(spark):
    """A one-row stratum has percent_rank 0, below any keep threshold —
    the n==1 escape keeps its row so small domains aren't wiped out
    (r6 advice)."""
    from vastdb_sdk_spark.operators.sampling import quality_percentile_filter

    rows = [(i, "big", float(i)) for i in range(10)] + [(100, "tiny", 0.0)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, q DOUBLE")
    kept = {
        r.doc_id
        for r in quality_percentile_filter(
            df, "q", keep_fraction=0.5, stratum_col="source"
        ).collect()
    }
    assert 100 in kept  # the singleton survives
    assert kept == {5, 6, 7, 8, 9, 100}


def test_minhash_dedup_pairs_managed_unpersists(spark):
    """The managed variant must not leak CacheManager entries across
    calls (r6 advice: per-table/batch loops accumulate persisted
    candidate frames)."""
    from vastdb_sdk_spark.operators.dedup import minhash_dedup_pairs_managed

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
         for i in range(30)],
        "doc_id LONG, text STRING",
    )
    import time as _time

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        with minhash_dedup_pairs_managed(docs, threshold=0.9) as verified:
            inside = jsc.getPersistentRDDs().size()
            assert verified.count() >= 0
        # the unpersist is blocking, but on a loaded machine the listing's
        # entry removal has been observed to trail by a beat — poll briefly
        # (a genuine leak never drains, so the contract still fails)
        deadline = _time.time() + 5.0
        while (
            jsc.getPersistentRDDs().size() > before and _time.time() < deadline
        ):
            _time.sleep(0.1)
        assert jsc.getPersistentRDDs().size() <= before, (
            "candidate cache leaked past the managed block"
        )
    assert inside >= before  # the persist was actually in effect inside


def test_release_all_pins_sweeps_leaked_checkpoints(spark):
    """Session-level pin sweep (r14): one-shot queries leave their
    localCheckpoint blocks to GC-driven cleanup; harnesses that run many
    queries back to back call release_all_pins between queries to drain
    them deterministically (bench.py / check_correctness.py)."""
    from vastdb_sdk_spark.operators.pinning import pin, release_all_pins

    jsc = spark.sparkContext._jsc.sc()
    # start from a drained session so the assertion is exact
    release_all_pins(spark)
    before = jsc.getPersistentRDDs().size()
    pinned = pin(
        spark.range(100).selectExpr("id", "id * 2 as dbl")
    )
    assert pinned.count() == 100  # consumable while pinned
    assert jsc.getPersistentRDDs().size() > before
    released = release_all_pins(spark)
    assert released >= 1
    import time as _time

    deadline = _time.time() + 5.0
    while jsc.getPersistentRDDs().size() > before and _time.time() < deadline:
        _time.sleep(0.1)
    assert jsc.getPersistentRDDs().size() <= before


def test_release_all_pins_spares_user_persisted_frames(spark):
    """The sweep is scoped to LIBRARY pins (r15): a frame the caller
    persisted themselves must stay cached — and stay USABLE — after
    release_all_pins (the r14 sweep unpersisted every persistent RDD,
    which could break a concurrent consumer's own cache)."""
    from vastdb_sdk_spark.operators.pinning import pin, release_all_pins

    release_all_pins(spark)
    user = spark.range(50).selectExpr("id", "id * 3 as trip").persist()
    assert user.count() == 50  # materialize the user cache
    pin(spark.range(10).selectExpr("id"))
    released = release_all_pins(spark)
    assert released >= 1
    # the user's cache must still be registered and consumable
    assert user.storageLevel.useMemory or user.storageLevel.useDisk
    assert user.count() == 50
    user.unpersist(True)


def test_release_all_pins_spares_same_rdd_id_of_a_new_context(spark, monkeypatch):
    """Pins are keyed by SparkContext as well as RDD id: ids restart with
    every context, so an id pinned under a stopped context must not make
    the sweep unpersist the RDD holding that id in the new context."""
    from pyspark import SparkContext

    from vastdb_sdk_spark.operators.pinning import (
        _LIVE_PIN_IDS,
        pin,
        release,
        release_all_pins,
    )

    release_all_pins(spark)
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "applicationId", property(lambda sc: "stopped-app"))
        stale = pin(spark.range(10).selectExpr("id"))
    # ``stale``'s RDD now stands for the new context's RDD with the id the
    # stopped context pinned
    assert release_all_pins(spark) == 0
    assert not _LIVE_PIN_IDS
    assert stale.count() == 10  # blocks still there: a released pin cannot recompute
    release(stale)


def test_operator_loop_pins_drain_without_harness_cleanup(spark):
    """Engine-owned pin lifecycle (VERDICT r14 #6): a many-iteration
    one-shot operator loop followed by the library's own sweep leaves
    ZERO library pins in the block manager — no bench-harness cleanup
    required. (Each lsh_candidate_pairs call pins its band frame.)"""
    from vastdb_sdk_spark.operators.dedup import lsh_candidate_pairs
    from vastdb_sdk_spark.operators.pinning import (
        _LIVE_PIN_IDS,
        release_all_pins,
    )

    release_all_pins(spark)
    jsc = spark.sparkContext._jsc.sc()
    # relative baseline: in a shared session an EARLIER test's own
    # persist may legitimately linger — the library-scoped sweep must
    # not touch it, so assert the loop adds nothing, not absolute zero
    base = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i}") for i in range(12)],
        "doc_id LONG, text STRING",
    )
    for _ in range(50):
        lsh_candidate_pairs(df, num_hashes=4, num_bands=2).count()
    release_all_pins(spark)
    assert not _LIVE_PIN_IDS
    import time as _time

    deadline = _time.time() + 5.0
    while jsc.getPersistentRDDs().size() > base and _time.time() < deadline:
        _time.sleep(0.1)
    assert jsc.getPersistentRDDs().size() <= base


def test_dup_clusters_driver_route_matches_distributed(spark):
    """The cost router's two routes are the same operator: driver
    union-find (small pair lists) and distributed propagation must emit
    identical labels, including chains that span the routing boundary."""
    from vastdb_sdk_spark.operators.dedup import dup_clusters

    edges = (
        [(i, i + 1) for i in range(0, 40)]          # 41-node chain
        + [(100, 103), (101, 103), (102, 101)]      # star with reordered ids
        + [(200, 201)]                               # plain pair
    )
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    via_driver = {
        r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()
    }
    via_dist = {
        r.doc_id: r.cluster_id
        for r in dup_clusters(pairs, driver_max_pairs=0).collect()
    }
    assert via_driver == via_dist
    assert via_driver[40] == 0 and via_driver[103] == 100


def test_dup_clusters_raises_on_nonconvergence(spark):
    import pytest as _pytest

    from vastdb_sdk_spark.operators.dedup import dup_clusters

    # a 10-hop path cannot converge in 2 rounds (driver_max_pairs=0
    # forces the distributed propagation; the driver union-find route is
    # exact and has no iteration budget)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300, 310)], "id_a LONG, id_b LONG"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iterations=2, driver_max_pairs=0)


def test_quality_percentile_filter_nondyadic_fraction(spark):
    """keep_fraction=0.7 over 11 rows: percent_rank 3/10 = 0.3 must clear
    the 1-0.7 threshold despite 0.30000000000000004 float representation
    — the documented top 70% is 8 rows, not 7."""
    from vastdb_sdk_spark.operators.sampling import quality_percentile_filter

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(11)], "doc_id LONG, q DOUBLE"
    )
    kept = sorted(
        r.doc_id for r in quality_percentile_filter(df, "q", 0.7).collect()
    )
    assert kept == list(range(3, 11))


def test_asof_mixed_key_types_uses_double(spark):
    """Integral left + fractional right must not truncate the right side."""
    from vastdb_sdk_spark.operators import asof

    ldf = spark.createDataFrame([(1, 5)], "k LONG, ts LONG")
    rdf = spark.createDataFrame(
        [(1, 4.5, 45.0), (1, 5.6, 56.0)], "k LONG, ts DOUBLE, v DOUBLE"
    )
    got = asof.asof_join(
        ldf, rdf, on="ts", by="k", right_cols=["v"], direction="nearest"
    )
    # true distances: backward 0.5, forward 0.6 -> backward (45.0); long
    # truncation saw |5-4|=1 vs |5-5|=0 and mis-picked forward
    assert got.collect()[0].v == 45.0


def test_assign_probe_centroids_rejects_existing_out_col(spark):
    import numpy as np
    import pytest as _pytest

    from vastdb_sdk_spark.operators.similarity import assign_probe_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "vec_id LONG, embedding ARRAY<DOUBLE>, centroid_id INT"
    )
    with _pytest.raises(ValueError, match="already exists"):
        assign_probe_centroids(df, np.eye(2), "embedding")


def test_quantize_embeddings_empty_frame_message(spark):
    import pytest as _pytest

    from vastdb_sdk_spark.operators.similarity import quantize_embeddings_int8

    df = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")
    with _pytest.raises(ValueError, match="pass dim"):
        quantize_embeddings_int8(df)


def test_dup_clusters_long_path_logarithmic_rounds(spark):
    """Pointer jumping: a 400-node path converges within ~log2(400)+2
    rounds — plain propagation would need 400."""
    from vastdb_sdk_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1000, 1400)], "id_a LONG, id_b LONG"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dup_clusters(
            pairs, max_iterations=12, driver_max_pairs=0
        ).collect()
    }
    assert got == {i: 1000 for i in range(1000, 1401)}


def test_lsh_bucket_size_guard(spark):
    """max_bucket_size drops the quadratic bomb: 40 identical docs share
    every band bucket (780 pairs uncapped); with the cap their bucket is
    dropped while a distinct near-dup pair elsewhere still surfaces."""
    from vastdb_sdk_spark.operators.dedup import lsh_candidate_pairs

    boiler = [(i, "the same boilerplate footer text repeated here") for i in range(40)]
    pairx = [
        (100, "totally unique alpha beta gamma delta epsilon zeta eta theta"),
        (101, "totally unique alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(boiler + pairx, "doc_id LONG, text STRING")
    uncapped = lsh_candidate_pairs(df).collect()
    assert len(uncapped) >= 780  # 40*39/2 boilerplate pairs at minimum
    capped = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(df, max_bucket_size=10).collect()
    }
    assert all(a >= 100 for a, _ in capped)  # boilerplate bucket dropped
    assert (100, 101) in capped              # real near-dup pair survives


def test_normalize_text(spark):
    from vastdb_sdk_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [
            (1, "\x01hello\x07  world\t\tnow\x0b "),
            (2, "already clean"),
            (3, "\x00\x1f\x7f"),
        ],
        "id LONG, t STRING",
    )
    got = {r.id: r.s for r in df.select("id", normalize_text(F.col("t")).alias("s")).collect()}
    assert got[1] == "hello world now"
    assert got[2] == "already clean"
    assert got[3] == ""


def test_gopher_quality_flags(spark):
    from vastdb_sdk_spark.functions.text import gopher_quality_flags

    good = " ".join(
        ["the quick brown fox jumps over and rests in the shade of it"] * 5
    )  # 60 words, all alphabetic, stopwords present
    short = "too few words here"
    symbols = " ".join(["x1"] * 60)  # no alphabetic-only... x1 has alpha; use digits
    digits = " ".join(["12345"] * 60)  # alpha_frac 0
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, digits), (4, None)],
        "doc_id LONG, text STRING",
    )
    flags = gopher_quality_flags(F.col("text"))
    out = {
        r.doc_id: r
        for r in df.select("doc_id", *[v.alias(k) for k, v in flags.items()])
        .collect()
    }
    assert out[1].gopher_ok and out[1].words_ok and out[1].alpha_ok
    assert not out[2].words_ok and not out[2].gopher_ok
    assert out[3].alpha_word_frac == 0.0 and not out[3].alpha_ok
    assert out[4].gopher_ok is None  # null doc propagates null, not a crash


def test_c4_filter_rules(spark):
    from vastdb_sdk_spark.functions.text import c4_doc_ok, c4_kept_lines

    doc = "\n".join([
        "a good first sentence with plenty of words.",  # kept
        "short one.",                                   # dropped: < 5 words
        "no terminal punctuation in this line at all",  # dropped
        "please enable JavaScript to continue reading.",  # dropped: js
        'he said "this ends with a quote"',              # kept: ends "
        "and one more closing line to pass the bar!",    # kept: ends !
    ])
    df = spark.createDataFrame([(1, doc)], "doc_id LONG, text STRING")
    kept = c4_kept_lines(F.col("text"))
    row = df.select(
        F.size(kept).alias("n"),
        c4_doc_ok(F.col("text"), kept=kept).alias("ok"),
    ).collect()[0]
    assert row.n == 3 and row.ok
    # brace / lorem ipsum / too-few-lines all reject
    for bad in (doc + "\n{", doc + "\nLorem Ipsum filler.",
                "just one keeper line here today."):
        r = spark.createDataFrame([(1, bad)], "doc_id LONG, text STRING").select(
            c4_doc_ok(F.col("text")).alias("ok")
        ).collect()[0]
        assert not r.ok, bad[:40]


def test_heuristic_filters_compose_with_streaming(spark, tmp_path):
    """gopher_quality_flags / c4 rules are pure map expressions, so they
    must run unchanged inside Structured Streaming (file source -> flags ->
    memory sink) and agree with the batch run — the scan-time quality gate
    of a streaming ingestion pipeline."""
    from vastdb_sdk_spark.functions.text import (
        c4_doc_ok,
        gopher_quality_flags,
    )

    good = " ".join(["the quick brown fox jumps over and naps in the sun"] * 6)
    docs = spark.createDataFrame(
        [(1, good), (2, "too short"), (3, good + " {")],
        "id LONG, t STRING",
    )
    src = str(tmp_path / "filters_in")
    docs.repartition(2).write.parquet(src)

    def shape(df):
        flags = gopher_quality_flags(F.col("t"))
        return df.select(
            "id",
            flags["gopher_ok"].alias("gok"),
            c4_doc_ok(F.col("t")).alias("c4ok"),
        )

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        shape(stream)
        .writeStream.format("memory")
        .queryName("filters_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_filters"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.id: (r.gok, r.c4ok)
        for r in spark.sql("SELECT * FROM filters_stream").collect()
    }
    expected = {
        r.id: (r.gok, r.c4ok)
        for r in shape(spark.read.parquet(src)).collect()
    }
    assert got == expected and got[1][0] and not got[2][0]


def test_bpe_pretokens(spark):
    """GPT-2-shaped pretokenization: contractions split as suffix tokens,
    letter/digit/punct runs separate, space rides the following token."""
    from vastdb_sdk_spark.functions.text import bpe_pretokens, bpe_token_count

    df = spark.createDataFrame(
        [(1, "Don't say 2024 twice!!"), (2, ""), (3, None)],
        "id LONG, t STRING",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            bpe_pretokens(F.col("t")).alias("toks"),
            bpe_token_count(F.col("t")).alias("n"),
        ).collect()
    }
    assert list(rows[1].toks) == ["Don", "'t", " say", " 2024", " twice", "!!"]
    assert rows[1].n == 6
    assert list(rows[2].toks) == [] and rows[2].n == 0
    assert rows[3].toks is None


# -- unigram LM scoring ----------------------------------------------------


def test_unigram_logprob_matches_hand_model(spark):
    import math

    from vastdb_sdk_spark.operators.lm import unigram_logprob_scores

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the the dog"),
            (3, ""),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in unigram_logprob_scores(df, "text", "doc_id").collect()}
    # corpus counts: the=3, cat=1, sat=1, dog=1; total=6, V=4
    p = lambda c: (c + 0.5) / (6 + 0.5 * 5)
    lp1 = (math.log(p(3)) + math.log(p(1)) + math.log(p(1))) / 3
    lp2 = (2 * math.log(p(3)) + math.log(p(1))) / 3
    assert out[1].n_tokens == 3 and abs(out[1].unigram_logprob - lp1) < 1e-12
    assert out[2].n_tokens == 3 and abs(out[2].unigram_logprob - lp2) < 1e-12
    # common-word doc scores higher than rarer-word doc
    assert out[2].unigram_logprob > out[1].unigram_logprob
    # empty doc: zero tokens, NULL score
    assert out[3].n_tokens == 0 and out[3].unigram_logprob is None


def test_unigram_logprob_top_n_oov_bucket(spark):
    import math

    from vastdb_sdk_spark.operators.lm import unigram_logprob_scores

    df = spark.createDataFrame(
        [(1, "the cat"), (2, "the the")],
        "doc_id LONG, text STRING",
    )
    # top_n=1 keeps only "the"; "cat" becomes OOV (c=0) but total/V stay
    # fit on the FULL distribution (total=4, V=2)
    out = {
        r.doc_id: r
        for r in unigram_logprob_scores(df, "text", "doc_id", top_n=1).collect()
    }
    p = lambda c: (c + 0.5) / (4 + 0.5 * 3)
    lp1 = (math.log(p(3)) + math.log(p(0))) / 2
    assert abs(out[1].unigram_logprob - lp1) < 1e-12

    import pytest as _pytest

    with _pytest.raises(ValueError, match="smoothing"):
        unigram_logprob_scores(df, "text", "doc_id", smoothing=0.0)


def test_unigram_logprob_top_n_broadcasts_vocab(spark):
    """The top_n path must join the exploded token stream to a BROADCAST
    vocabulary — the 100 TB skew-free shape (no shuffle keyed on the
    Zipf-head token)."""
    from vastdb_sdk_spark.operators.lm import unigram_logprob_scores
    from vastdb_sdk_spark.plans import inspect as pi

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = unigram_logprob_scores(df, "text", "doc_id", top_n=100)
    plan = pi.formatted_plan(out)
    assert "BroadcastHashJoin" in plan


def test_bigram_logprob_matches_hand_model(spark):
    import math

    from vastdb_sdk_spark.operators.lm import bigram_logprob_scores

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the cat ran"),
            (3, "the"),
            (4, ""),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in bigram_logprob_scores(df, "text", "doc_id").collect()}
    # bigram counts: (the,cat)=2, (cat,sat)=1, (cat,ran)=1
    # prefix counts: c(the)=2, c(cat)=2; continuation vocab V = {cat,sat,ran} = 3
    p = lambda cvw, cv: (cvw + 0.5) / (cv + 0.5 * 4)
    lp1 = (math.log(p(2, 2)) + math.log(p(1, 2))) / 2
    assert out[1].n_bigrams == 2 and abs(out[1].bigram_logprob - lp1) < 1e-12
    # doc 2 has the same structure -> identical score
    assert abs(out[2].bigram_logprob - lp1) < 1e-12
    # the common bigram scores higher than the rare one
    assert math.log(p(2, 2)) > math.log(p(1, 2))
    # docs with < 2 tokens: zero bigrams, NULL score
    assert out[3].n_bigrams == 0 and out[3].bigram_logprob is None
    assert out[4].n_bigrams == 0 and out[4].bigram_logprob is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="smoothing"):
        bigram_logprob_scores(df, "text", "doc_id", smoothing=-1.0)


def test_bigram_logprob_top_n_oov_and_plan(spark):
    """top_n caps the scoring vocabulary to the most frequent bigrams:
    OOV bigrams take c=0 while prefix counts and the continuation
    vocabulary stay fit on the FULL distribution — and both stats
    frames ride broadcasts (the skew-free 100 TB shape)."""
    import math

    from vastdb_sdk_spark.operators.lm import bigram_logprob_scores
    from vastdb_sdk_spark.plans import inspect as pi

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")],
        "doc_id LONG, text STRING",
    )
    # top_n=1 keeps only (the,cat); (cat,sat)/(cat,ran) become OOV, but
    # c(cat)=2 and V=3 still normalize
    out = {
        r.doc_id: r
        for r in bigram_logprob_scores(df, "text", "doc_id", top_n=1).collect()
    }
    p = lambda cvw, cv: (cvw + 0.5) / (cv + 0.5 * 4)
    lp1 = (math.log(p(2, 2)) + math.log(p(0, 2))) / 2
    assert abs(out[1].bigram_logprob - lp1) < 1e-12

    big = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = pi.formatted_plan(
        bigram_logprob_scores(big, "text", "doc_id", top_n=100)
    )
    assert "BroadcastHashJoin" in plan


def test_bm25_scores_match_hand_model(spark):
    import math

    from vastdb_sdk_spark.operators.lm import bm25_scores

    df = spark.createDataFrame(
        [
            (1, "cat sat on the cat mat"),
            (2, "dog sat on the log"),
            (3, "cat cat cat everywhere"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r.bm25 for r in bm25_scores(df, ["cat"], "text", "doc_id").collect()}
    # N=3, df=2, dl = [6,5,4], avgdl=5; tf = [2,0,3]
    idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    k1, b = 1.2, 0.75

    def s(tf, dl):
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / 5.0))

    assert abs(out[1] - s(2, 6)) < 1e-12
    assert out[2] == 0.0
    assert abs(out[3] - s(3, 4)) < 1e-12
    # longer doc with same tf scores lower; higher tf scores higher
    assert out[3] > out[1] > out[2]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        bm25_scores(df, [], "text", "doc_id")


def test_bm25_plan_shape(spark):
    """BM25 must stay explode-free: the only exchange is the 1-row corpus
    stats aggregate, and the scoring side is pure map work."""
    from vastdb_sdk_spark.operators.lm import bm25_scores
    from vastdb_sdk_spark.plans import inspect as pi

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = bm25_scores(df, ["hash", "join"], "text", "doc_id")
    plan = pi.formatted_plan(out)
    assert "Generate" not in plan  # no explode
    assert "Python" not in plan
    assert pi.exchange_count(out) <= 2  # the single-row stats aggregate


def test_bm25_null_text_scores_zero(spark):
    """NULL-text rows behave as empty documents: score 0.0, dl=0 — never
    a poisoned avgdl (size(NULL) = -1) or a garbage non-null score."""
    from vastdb_sdk_spark.operators.lm import bm25_scores

    df = spark.createDataFrame(
        [(1, "cat sat"), (2, None), (3, "cat cat")],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r.bm25 for r in bm25_scores(df, ["cat"], "text", "doc_id").collect()}
    assert out[2] == 0.0
    assert out[3] > out[1] > 0.0


def test_bm25_duplicate_terms_count_once(spark):
    """BM25 sums over DISTINCT query terms: passing a term twice must not
    double its contribution."""
    from vastdb_sdk_spark.operators.lm import bm25_scores

    df = spark.createDataFrame(
        [(1, "cat sat on the cat mat"), (2, "dog sat")],
        "doc_id LONG, text STRING",
    )
    once = {r.doc_id: r.bm25 for r in bm25_scores(df, ["cat"], "text", "doc_id").collect()}
    twice = {
        r.doc_id: r.bm25
        for r in bm25_scores(df, ["cat", "CAT", "cat"], "text", "doc_id").collect()
    }
    assert once == twice


def test_bm25_all_empty_corpus_scores_zero(spark):
    """avgdl=0 (every document empty/NULL) must yield 0.0 scores, never
    NaN from the 0/0 length normalization."""
    import math

    from vastdb_sdk_spark.operators.lm import bm25_scores

    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   ")], "doc_id LONG, text STRING"
    )
    out = {r.doc_id: r.bm25 for r in bm25_scores(df, ["cat"], "text", "doc_id").collect()}
    assert out == {1: 0.0, 2: 0.0, 3: 0.0}
    assert not any(math.isnan(v) for v in out.values())


def test_hybrid_topk_plan_and_contract(spark):
    """hybrid_topk's scale shape: the BM25 shortlist is a TakeOrdered
    (only `shortlist` rows cross the wire) that BROADCASTS into the
    embedding scan — the big side never shuffles. Contract: k rows,
    ordered by cosine desc, all members of the shortlist."""
    from pyspark.sql import functions as F

    from vastdb_sdk_spark.operators.lm import bm25_scores, hybrid_topk
    from vastdb_sdk_spark.plans import inspect as pi

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]]

    out = hybrid_topk(docs, emb, ["hash", "join"], qvec, k=5, shortlist=50)
    plan = pi.formatted_plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    rows = out.collect()
    assert len(rows) == 5
    cos = [r.cosine for r in rows]
    assert cos == sorted(cos, reverse=True)
    short_ids = {
        r.doc_id
        for r in bm25_scores(docs, ["hash", "join"], "text", "doc_id")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
        .collect()
    }
    assert all(r.doc_id in short_ids for r in rows)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="shortlist"):
        hybrid_topk(docs, emb, ["hash"], qvec, k=10, shortlist=5)


def test_hybrid_topk_colliding_id_columns(spark):
    """The embedding frame may legally carry a column NAMED id_col (e.g.
    emb_id_col == id_col, or emb_df derived from df itself). The
    shortlist's columns are aliased before the join, so this must not
    raise AMBIGUOUS_REFERENCE and must return the same ranking as the
    collision-free call."""
    from pyspark.sql import functions as F

    from vastdb_sdk_spark.operators.lm import hybrid_topk

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]]

    clean = hybrid_topk(docs, emb, ["hash", "join"], qvec, k=5, shortlist=50)
    # collision 1: emb frame carries doc_id (same name as id_col)
    emb_doc = emb.withColumn("doc_id", F.col("vec_id"))
    a = hybrid_topk(
        docs, emb_doc, ["hash", "join"], qvec, k=5, shortlist=50,
        emb_id_col="doc_id",
    )
    # collision 2: emb frame also carries a bm25 column
    emb_bm = emb.withColumn("bm25", F.lit(-1.0))
    b = hybrid_topk(docs, emb_bm, ["hash", "join"], qvec, k=5, shortlist=50)
    want = [(r.doc_id, round(r.bm25, 9), round(r.cosine, 9)) for r in clean.collect()]
    assert [(r.doc_id, round(r.bm25, 9), round(r.cosine, 9)) for r in a.collect()] == want
    assert [(r.doc_id, round(r.bm25, 9), round(r.cosine, 9)) for r in b.collect()] == want


def test_bpe_learn_merges_matches_naive_trainer(spark):
    """The incremental pair-count trainer must equal a naive
    recount-every-iteration reference on the same word counts — and the
    classic low/lower/newest corpus yields the textbook merges."""
    from vastdb_sdk_spark.operators.bpe import (
        END_OF_WORD,
        _merge_word,
        _pair_counts,
        learn_bpe_merges,
        word_counts,
    )

    rows = [(1, "low low low low low lower lower newest newest newest "
                "newest newest newest widest widest widest")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    merges = learn_bpe_merges(df, num_merges=10)

    # naive reference trainer over the same distributed word counts
    vocab = {
        tuple(r.word) + (END_OF_WORD,): r.n
        for r in word_counts(df).collect()
    }
    base = dict(vocab)
    expect = []
    for _ in range(10):
        pc = {p: c for p, c in _pair_counts(vocab).items() if c >= 2}
        if not pc:
            break
        # tie-break: max count, lexicographically smallest pair
        bc = max(pc.values())
        expect.append(sorted(p for p, c in pc.items() if c == bc)[0])
        # naive: replay ALL merges so far on the pristine vocab
        vocab = dict(base)
        for p in expect:
            merged = {}
            for s, n in vocab.items():
                ns = _merge_word(s, p)
                merged[ns] = merged.get(ns, 0) + n
            vocab = merged
    assert merges == expect
    # textbook: 'est</w>' forms within the first few merges
    joined = ["".join(p) for p in merges]
    assert any(j.endswith("est" + END_OF_WORD) or j == "est" for j in joined)


def test_bpe_segment_round_trip_and_plan(spark):
    """Applying learned merges reconstructs each word's characters
    exactly (merges never cross word boundaries), and the encode plan is
    zero-shuffle mapInPandas."""
    from vastdb_sdk_spark.operators.bpe import (
        END_OF_WORD,
        bpe_segment,
        learn_bpe_merges,
    )
    from vastdb_sdk_spark.plans import inspect as pi

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        "doc_id < 50"
    )
    merges = learn_bpe_merges(df, num_merges=40)
    assert len(merges) == 40
    seg = bpe_segment(df, merges, "text", "doc_id")
    assert pi.exchange_count(seg) == 0
    rows = {r.doc_id: r for r in seg.collect()}
    src = {r.doc_id: r.text for r in df.select("doc_id", "text").collect()}
    from vastdb_sdk_spark.functions.text import tokens as _tok
    ref = {
        r.doc_id: r.tk
        for r in df.select("doc_id", _tok(F.col("text")).alias("tk")).collect()
    }
    for did, r in rows.items():
        # strip markers, rejoin: equals the concatenated pre-tokens
        flat = "".join(p.replace(END_OF_WORD, "") for p in r.bpe_tokens)
        assert flat == "".join(ref[did])
        assert r.n_bpe_tokens == len(r.bpe_tokens)
        # every word ends with an end-of-word-marked piece
        assert sum(1 for p in r.bpe_tokens if p.endswith(END_OF_WORD)) == len(ref[did])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="num_merges"):
        learn_bpe_merges(df, num_merges=0)


def test_linear_classifier_scores_hand_model(spark):
    """Σ count·w + bias against a hand computation; NULL/empty text
    scores exactly bias; normalize divides by doc length; the weight
    join is a broadcast (the 100k-term-classifier shape)."""
    import math

    from vastdb_sdk_spark.operators.lm import linear_classifier_scores
    from vastdb_sdk_spark.plans import inspect as pi

    df = spark.createDataFrame(
        [(1, "cat sat on the cat mat"), (2, None), (3, "dog dog dog")],
        "doc_id LONG, text STRING",
    )
    W = {"cat": 0.5, "dog": -0.25, "mat": 1.0}
    out = linear_classifier_scores(df, W, bias=0.125)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].clf_score == 0.125 + 2 * 0.5 + 1.0
    assert rows[2].clf_score == 0.125
    assert rows[3].clf_score == 0.125 - 3 * 0.25
    for r in rows.values():
        assert abs(r.clf_prob - 1.0 / (1.0 + math.exp(-r.clf_score))) < 1e-15

    norm = {r.doc_id: r.clf_score for r in
            linear_classifier_scores(df, W, bias=0.0, normalize=True).collect()}
    assert norm[1] == (2 * 0.5 + 1.0) / 6
    assert norm[2] == 0.0

    # the WEIGHT join must broadcast (classifier-sized vocabulary, never
    # shuffled); the doc-keyed re-attach of zero-token rows is a
    # legitimate id-keyed shuffle join and is allowed to sort-merge
    plan = pi.formatted_plan(out)
    assert "BroadcastHashJoin" in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        linear_classifier_scores(df, {})


def test_tfidf_top_terms_formula_and_ranks(spark):
    """w(d,t) = tf * (ln((1+N)/(1+df)) + 1) with smooth idf; per-doc
    top-k; ties break on ascending term; empty docs count toward N but
    emit nothing."""
    import math

    from vastdb_sdk_spark.operators.lm import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, ""),  # counts toward N, emits no rows
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, k=2)
    rows = {(r.doc_id, r.rk): (r.term, r.tfidf) for r in out.collect()}
    n = 3
    idf = lambda d: math.log((1.0 + n) / (1.0 + d)) + 1.0
    # doc 1: apple tf=2 df=1 -> 2*idf(1); banana tf=1 df=2 -> idf(2)
    assert rows[(1, 1)] == ("apple", 2 * idf(1))
    assert rows[(1, 2)] == ("banana", idf(2))
    # doc 2: cherry (df=1) outranks banana (df=2), both tf=1
    assert rows[(2, 1)] == ("cherry", idf(1))
    assert rows[(2, 2)] == ("banana", idf(2))
    assert not any(d == 3 for d, _ in rows)


def test_tfidf_top_terms_tie_breaks_on_term(spark):
    from vastdb_sdk_spark.operators.lm import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "zebra apple"), (2, "zebra apple")], "doc_id long, text string"
    )
    out = tfidf_top_terms(df, k=2).collect()
    by_rank = {(r.doc_id, r.rk): r.term for r in out}
    # identical tf and df for both terms -> ascending term order
    assert by_rank[(1, 1)] == "apple" and by_rank[(1, 2)] == "zebra"
    assert by_rank[(2, 1)] == "apple" and by_rank[(2, 2)] == "zebra"


def test_tfidf_top_terms_k_validation(spark):
    import pytest as _pytest

    from vastdb_sdk_spark.operators.lm import tfidf_top_terms

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="k=0"):
        tfidf_top_terms(df, k=0)


def test_cap_per_group_deterministic_and_stable(spark):
    """Cap keeps exactly n rows per group, identical across runs, and
    the kept set is hash-stable: adding rows to OTHER groups never
    changes a group's survivors."""
    from vastdb_sdk_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(60)], "doc_id long, source string"
    )
    kept = cap_per_group(df, "source", 5)
    got = sorted((r.source, r.doc_id) for r in kept.collect())
    assert len(got) == 15
    assert got == sorted((r.source, r.doc_id) for r in kept.collect())
    # enlarge group g0 only; g1/g2 survivors must not move
    extra = spark.createDataFrame(
        [(1000 + i, "g0") for i in range(30)], "doc_id long, source string"
    )
    got2 = {
        (r.source, r.doc_id)
        for r in cap_per_group(df.unionByName(extra), "source", 5).collect()
    }
    assert {x for x in got if x[0] != "g0"} == {x for x in got2 if x[0] != "g0"}


def test_cap_per_group_keep_col_and_small_groups(spark):
    from vastdb_sdk_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
    )
    marked = cap_per_group(df, "source", 10, keep_col="keep")
    assert all(r.keep for r in marked.collect())  # groups under the cap
    assert marked.count() == 3


def test_cap_per_group_uses_window_group_limit(spark):
    """The scale claim in the docstring: a rank-filter window compiles to
    WindowGroupLimit (map-side per-group trim before the shuffle)."""
    from vastdb_sdk_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(30)], "doc_id long, source string"
    )
    plan = (
        cap_per_group(df, "source", 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_pmi_top_pairs_hand_model(spark):
    """PMI from the bigram table's own marginals; min_count floor;
    deterministic tie order."""
    import math

    from vastdb_sdk_spark.operators.lm import pmi_top_pairs

    # corpus: "a b" x3, "a c" x1 -> bigrams: (a,b):3, (a,c):1
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c")],
        "doc_id long, text string",
    )
    out = pmi_top_pairs(df, k=5, min_count=1).collect()
    # T=4, cl(a)=4, cr(b)=3, cr(c)=1
    exp = {
        ("a", "b"): math.log(3 * 4 / (4 * 3)),
        ("a", "c"): math.log(1 * 4 / (4 * 1)),
    }
    assert {(r.v, r.w): r.pmi for r in out} == exp
    # min_count drops the singleton pair
    out2 = pmi_top_pairs(df, k=5, min_count=2).collect()
    assert [(r.v, r.w, r.n) for r in out2] == [("a", "b", 3)]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k=0"):
        pmi_top_pairs(df, k=0)


def test_tfidf_cosine_pairs_exact_dup_and_cut(spark):
    """Identical bag-of-words -> cosine 1.0; disjoint docs never pair;
    the df-cut drops ubiquitous terms from the vectors."""
    from vastdb_sdk_spark.operators.dedup import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma beta alpha"),   # same bag, reordered
            (3, "delta epsilon zeta"),  # disjoint
            (4, "alpha beta gamma stop stop"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.a, r.b): round(r.cosine, 6)
        for r in tfidf_cosine_pairs(df, threshold=0.1, max_df=3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert not any(3 in p for p in pairs)
    assert (1, 4) in pairs and pairs[(1, 4)] < 1.0
    # df-cut: with max_df=1 no term is shared by 2+ docs -> zero pairs
    assert (
        tfidf_cosine_pairs(df, threshold=0.1, max_df=1).count() == 0
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        tfidf_cosine_pairs(df, threshold=0.0)
    with _pytest.raises(ValueError, match="max_df"):
        tfidf_cosine_pairs(df, threshold=0.5, max_df=None, max_df_fraction=None)


def test_keep_best_in_cluster_argmax_and_singletons(spark):
    """Argmax-quality survivor per cluster (tie -> min id); singletons
    and unclustered docs pass through; bad quality column raises."""
    import pytest as _pytest

    from vastdb_sdk_spark.errors import InvalidArgument
    from vastdb_sdk_spark.operators.dedup import keep_best_in_cluster

    df = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 1), (10, 7)],
        "doc_id long, quality long",
    )
    # cluster {1,2,3}: quality 9 tie between 2 and 3 -> keep 2;
    # cluster {4}: trivial; 10 never clustered -> survives
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster_id long"
    )
    kept = sorted(
        r.doc_id for r in keep_best_in_cluster(df, clusters, "quality").collect()
    )
    assert kept == [2, 4, 10]
    with _pytest.raises(InvalidArgument, match="quality"):
        keep_best_in_cluster(df, clusters, "nope")


def test_token_entropy_hand_model(spark):
    """H = ln n - (1/n) sum c ln c against a hand computation; empty and
    NULL docs kept with n_tokens=0 / NULL entropy."""
    import math

    from vastdb_sdk_spark.operators.lm import token_entropy

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in token_entropy(df).collect()}
    assert rows[1].n_tokens == 3
    assert math.isclose(
        rows[1].entropy, math.log(3) - (2 * math.log(2)) / 3, rel_tol=1e-12
    )
    assert rows[2].n_tokens == 1 and rows[2].entropy == 0.0
    assert rows[3].n_tokens == 0 and rows[3].entropy is None
    assert rows[4].n_tokens == 0 and rows[4].entropy is None


def test_source_vocab_overlap_jaccard_and_zero_pairs(spark):
    """Jaccard over distinct vocabularies; zero-overlap pairs appear
    with jaccard 0.0 instead of vanishing."""
    from vastdb_sdk_spark.operators.lm import source_vocab_overlap

    df = spark.createDataFrame(
        [
            (1, "a b c", "s1"),
            (2, "b c d", "s2"),   # vocab {b,c,d}: inter {b,c}, union 4
            (3, "x y", "s3"),      # disjoint from both
            (4, "a a b", "s1"),    # no new s1 terms (distinct vocab)
        ],
        "doc_id long, text string, source string",
    )
    rows = {(r.a, r.b): r for r in source_vocab_overlap(df).collect()}
    assert set(rows) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    r12 = rows[("s1", "s2")]
    assert (r12.n_a, r12.n_b, r12.n_common) == (3, 3, 2)
    assert r12.jaccard == 2 / 4
    assert rows[("s1", "s3")].n_common == 0
    assert rows[("s1", "s3")].jaccard == 0.0


def test_winnow_fingerprints_hand_model(spark):
    """Winnowing selections replicated against a literal Python
    implementation of the published algorithm (min per window, ties to
    the rightmost), plus the guarantee: docs sharing a >= w+k-1 token
    run share a fingerprint; short and empty docs behave."""
    import hashlib

    from vastdb_sdk_spark.functions.text import tokens as _  # noqa: F401
    from vastdb_sdk_spark.operators.dedup import winnow_fingerprints

    k, w = 3, 2
    docs = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "xx yy the quick brown fox jumps zz",  # shares a 7-token run w/ 1? (w+k-1=4 needed)
        3: "one two",    # shorter than k -> single whole-stream gram
        4: "",            # zero tokens -> no fingerprints
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }

    def ref_winnow(text):
        tk = [t for t in text.lower().split() if t]
        if not tk:
            return set()
        if len(tk) < k:
            grams = [" ".join(tk)]
        else:
            grams = [" ".join(tk[p:p + k]) for p in range(len(tk) - k + 1)]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        out = set()
        for i in range(max(len(hs) - w, 0) + 1):
            win = hs[i:i + w]
            m = min(win)
            # rightmost occurrence of the min
            j = max(idx for idx, h in enumerate(win) if h == m)
            out.add((i + j, m))
        return out

    exp = {
        (d, p, h) for d, text in docs.items() for (p, h) in ref_winnow(text)
    }
    assert got == exp
    # shared >= w+k-1 = 4 token run ("the quick brown fox jumps" = 5) ->
    # at least one common fingerprint hash between docs 1 and 2
    fp1 = {h for (d, p, h) in got if d == 1}
    fp2 = {h for (d, p, h) in got if d == 2}
    assert fp1 & fp2
    assert not {h for (d, p, h) in got if d == 4}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must"):
        winnow_fingerprints(df, k=1)
    with _pytest.raises(ValueError, match="w must"):
        winnow_fingerprints(df, w=0)


def test_tfidf_prefix_filter_lossless(spark):
    """AllPairs prefix filtering must be LOSSLESS: identical (a, b,
    cosine) set with prefix_filter on and off, across thresholds, on a
    corpus with shared-vocab structure."""
    from vastdb_sdk_spark.operators.dedup import tfidf_cosine_pairs

    rows = []
    words = ["w%d" % i for i in range(12)]
    for d in range(40):
        # overlapping sliding vocab windows + a few exact dups
        base = [words[(d + j) % 12] for j in range(6)]
        if d % 7 == 0:
            base = [words[0], words[1], words[2], words[3]]
        rows.append((d, " ".join(base * (1 + d % 3))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.6, 0.9):
        fast = {
            (r.a, r.b, round(r.cosine, 9))
            for r in tfidf_cosine_pairs(
                df, threshold=t, max_df=40, prefix_filter=True
            ).collect()
        }
        naive = {
            (r.a, r.b, round(r.cosine, 9))
            for r in tfidf_cosine_pairs(
                df, threshold=t, max_df=40, prefix_filter=False
            ).collect()
        }
        assert fast == naive, f"threshold {t}: prefix filter changed results"
    assert len(naive) > 0


def test_zipf_slope_hand_model(spark):
    """OLS slope/intercept against a closed-form check on a 3-term
    corpus; validation."""
    import math

    import pytest as _pytest

    from vastdb_sdk_spark.operators.lm import zipf_slope

    # counts: a=4, b=2, c=1 -> ranks 1,2,3
    df = spark.createDataFrame(
        [(1, "a a a a b b c")], "doc_id long, text string"
    )
    row = zipf_slope(df, top_n=3).collect()[0]
    xs = [math.log(r) for r in (1, 2, 3)]
    ys = [math.log(c) for c in (4, 2, 1)]
    n = 3
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row.n_terms == 3
    assert math.isclose(row.slope, slope, rel_tol=1e-12)
    assert math.isclose(row.intercept, (sy - slope * sx) / n, rel_tol=1e-12)
    with _pytest.raises(ValueError, match="top_n"):
        zipf_slope(df, top_n=2)


def test_borda_topk_competition_ranks_and_ties(spark):
    """Rank fusion equals the textbook RANK()-based Borda: competition
    ranking on ties, mean of ranks, (borda, id) tie-break at the cut."""
    import pytest as _pytest

    from vastdb_sdk_spark.operators.sampling import borda_topk

    df = spark.createDataFrame(
        [
            (1, 10, 5),
            (2, 10, 7),   # ties with 1 on s1 (both rank 1), beats on s2
            (3, 8, 7),    # ties with 2 on s2
            (4, 1, 1),
        ],
        "doc_id long, s1 long, s2 long",
    )
    rows = borda_topk(df, ["s1", "s2"], k=3).collect()
    got = [(r.doc_id, r.rank_s1, r.rank_s2, r.borda) for r in rows]
    # competition ranks: s1 -> {10:1, 8:3, 1:4}; s2 -> {7:1, 5:3, 1:4}
    assert got == [
        (2, 1, 1, 1.0),
        (1, 1, 3, 2.0),
        (3, 3, 1, 2.0),   # borda tie with doc 1 -> id ascending
    ]
    with _pytest.raises(ValueError, match="signal_cols"):
        borda_topk(df, [], k=1)
    with _pytest.raises(ValueError, match="k="):
        borda_topk(df, ["s1"], k=0)


# ---------------------------------------------------------------------------
# naive Bayes train/classify (operators/lm.py)


def _nb_corpus(spark):
    rows = [
        (1, "spam", "buy cheap pills buy now"),
        (2, "spam", "cheap pills cheap deal"),
        (3, "spam", "win money now buy"),
        (4, "ham", "meeting notes for tuesday"),
        (5, "ham", "notes about the quarterly meeting"),
        (6, "ham", "lunch tuesday with the team"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, cls STRING, text STRING")


def test_naive_bayes_train_matches_hand_computation(spark):
    import math

    import pytest

    from vastdb_sdk_spark.operators.lm import naive_bayes_train

    d = _nb_corpus(spark)
    weights, priors = naive_bayes_train(d, "cls", "text")
    w = {(r["label"], r["tok"]): r["__ll"] for r in weights.collect()}
    p = {r["label"]: r for r in priors.collect()}
    # hand stats: spam tokens=14, ham tokens=16, vocab = distinct across both
    toks_spam = "buy cheap pills buy now cheap pills cheap deal win money now buy".split()
    toks_ham = ("meeting notes for tuesday notes about the quarterly meeting "
                "lunch tuesday with the team").split()
    vocab = len(set(toks_spam) | set(toks_ham))
    assert w[("spam", "buy")] == pytest.approx(
        math.log((toks_spam.count("buy") + 1) / (len(toks_spam) + vocab))
    )
    assert w[("ham", "meeting")] == pytest.approx(
        math.log((toks_ham.count("meeting") + 1) / (len(toks_ham) + vocab))
    )
    assert p["spam"]["__prior"] == pytest.approx(math.log(3 / 6))
    assert p["spam"]["__unseen_ll"] == pytest.approx(
        math.log(1 / (len(toks_spam) + vocab))
    )
    assert p["ham"]["__n_docs"] == 3


def test_naive_bayes_classify_recovers_labels_and_handles_unseen(spark):
    from vastdb_sdk_spark.operators.lm import (
        naive_bayes_classify,
        naive_bayes_train,
    )

    d = _nb_corpus(spark)
    weights, priors = naive_bayes_train(d, "cls", "text")
    probe = spark.createDataFrame(
        [
            (10, "cheap pills deal unseenword"),   # spam-ish + OOV token
            (11, "quarterly meeting notes zzz"),   # ham-ish + OOV token
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r["predicted"]
           for r in naive_bayes_classify(probe, weights, priors).collect()}
    assert got == {10: "spam", 11: "ham"}
    # self-classification recovers every training label confidently
    self_got = {r["doc_id"]: r["predicted"]
                for r in naive_bayes_classify(d, weights, priors).collect()}
    want = {r["doc_id"]: r["cls"] for r in d.collect()}
    assert self_got == want


def test_naive_bayes_classify_min_margin_and_min_count(spark):
    from vastdb_sdk_spark.operators.lm import (
        naive_bayes_classify,
        naive_bayes_train,
    )

    d = _nb_corpus(spark)
    weights, priors = naive_bayes_train(d, "cls", "text", min_count=2)
    # min_count prunes singleton tokens from the emitted weights
    assert weights.filter("__count < 2").count() == 0
    # a doc of only OOV tokens scores prior + n*unseen_ll per class: equal
    # priors (3 vs 3 docs) leave only the unseen-mass gap — the class with
    # fewer training tokens (spam: 14 vs ham: 16) smooths to MORE per-token
    # mass and wins by a small margin
    probe = spark.createDataFrame([(20, "zzz qqq")], "doc_id LONG, text STRING")
    rows = naive_bayes_classify(probe, weights, priors, min_margin=1e-9).collect()
    assert [r["predicted"] for r in rows] == ["spam"]
    assert 0 < rows[0]["__margin"] < 1
    # ...and a min_margin above that tiny gap filters the unconfident row
    assert naive_bayes_classify(
        probe, weights, priors, min_margin=1.0
    ).count() == 0
    # NULL-labeled training docs fall out of the model at train's label
    # equijoins (null keys never match) — the trained classes exclude
    # NULL, and classify still works over the surviving classes. An
    # externally built priors frame WITH a null label fails loud instead
    # (the pivoted classify cannot name a NULL class column).
    import pytest as _pytest

    nulled = spark.createDataFrame(
        [(1, None, "cheap pills"), (2, "ham", "meeting notes")],
        "doc_id LONG, cls STRING, text STRING",
    )
    w2, p2 = naive_bayes_train(nulled, "cls", "text")
    assert [r["label"] for r in p2.select("label").collect()] == ["ham"]
    assert naive_bayes_classify(probe, w2, p2).count() == 1
    bad_priors = p2.unionByName(
        p2.select(
            F.lit(None).cast("string").alias("label"),
            "__prior", "__unseen_ll", "__n_docs",
        )
    )
    with _pytest.raises(ValueError, match="NULL label"):
        naive_bayes_classify(probe, w2, bad_priors)


# ---------------------------------------------------------------------------
# sentence segmentation + sentence-aligned chunking


def test_sentences_split_and_strip(spark):
    from vastdb_sdk_spark.functions.text import sentence_count, sentences

    rows = [
        (1, "First one. Second here! Third?? Yes"),
        (2, "no terminators at all"),
        (3, "Trailing dot."),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["s"] for r in
           df.select("doc_id", sentences(F.col("text")).alias("s")).collect()}
    # "Third?? Yes" splits at "?? " — any terminator run + whitespace is
    # a boundary, and the run is stripped from the left piece
    assert got[1] == ["First one", "Second here", "Third", "Yes"]
    assert got[2] == ["no terminators at all"]
    assert got[3] == ["Trailing dot"]  # trailing terminator stripped
    assert got[4] == []
    n = {r["doc_id"]: r["n"] for r in
         df.select("doc_id", sentence_count(F.col("text")).alias("n")).collect()}
    assert n == {1: 4, 2: 1, 3: 1, 4: 0}


def test_chunk_by_sentences_boundaries(spark):
    from vastdb_sdk_spark.operators.sampling import chunk_by_sentences

    # pack_greedy bins by PREFIX-BEFORE: a sentence STARTING inside the
    # budget window joins the chunk even if it overflows it (same
    # contract as token packing; oracle replays the identical rule)
    text = "a b c. d e f. g h i. j k l."
    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    got = sorted(
        (r["chunk_id"], r["chunk_text"], r["n_sentences"], r["n_tokens"])
        for r in chunk_by_sentences(df, budget=7).collect()
    )
    assert got == [
        (0, "a b c. d e f. g h i", 3, 9),
        (1, "j k l", 1, 3),
    ]
    # a sentence longer than the budget still gets its own chunk
    df2 = spark.createDataFrame(
        [(2, "one two three four five six. tail")], "doc_id LONG, text STRING"
    )
    got2 = sorted((r["chunk_id"], r["n_sentences"])
                  for r in chunk_by_sentences(df2, budget=3).collect())
    assert got2 == [(0, 1), (2, 1)]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget"):
        chunk_by_sentences(df, budget=0)


def test_canonical_url_variants(spark):
    from vastdb_sdk_spark.functions.text import canonical_url

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&q=1#frag"),
        (2, "http://example.com/A/b?q=1"),
        (3, "https://example.com:80/A/b/"),
        (4, "https://example.com/A/b?utm_a=1&utm_b=2"),
        (5, "not a url"),
        (6, "ftp://Example.NET/File.TXT"),
        (7, "https://example.com/?ref=x&keep=1"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, u STRING")
    got = {r["doc_id"]: r["c"] for r in
           df.select("doc_id", canonical_url(F.col("u")).alias("c")).collect()}
    # scheme/case/www/port/tracking/fragment variants collapse
    assert got[1] == got[2] == "example.com/A/b?q=1"
    assert got[3] == "example.com/A/b"
    assert got[4] == "example.com/A/b"       # all-tracking query dropped
    assert got[5] is None                     # non-URL -> NULL
    assert got[6] == "example.net/File.TXT"   # path case preserved
    assert got[7] == "example.com?keep=1"     # ref stripped, keep kept


def test_strip_html_blocks_tags_entities(spark):
    from vastdb_sdk_spark.functions.text import strip_html

    rows = [
        (1, '<div><p>Hello <b>world</b></p></div>'),
        (2, '<script>ignore < all; this</script>kept'),
        (3, '<style>p{x:1}</style>before<!-- note -->after'),
        (4, 'a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;c'),
        (5, 'plain text, no markup'),
        (6, '&amp;lt;'),  # double-escaped: must end as the LITERAL "&lt;"
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, h STRING")
    got = {r["doc_id"]: r["c"] for r in
           df.select("doc_id", strip_html(F.col("h")).alias("c")).collect()}
    assert got[1] == "Hello world"
    assert got[2] == "kept"                       # script body vanishes whole
    assert got[3] == "before after"
    assert got[4] == 'a & b <tag> "q" \'s\' c'
    assert got[5] == "plain text, no markup"
    assert got[6] == "&lt;"


def test_remove_duplicate_lines_semantics(spark):
    from vastdb_sdk_spark.operators.dedup import line_dup_stats, remove_duplicate_lines

    df = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\n\nunique one\nSHARED FOOT"),
            (2, "COOKIE BANNER\nunique two\nSHARED FOOT"),
            (3, "COOKIE BANNER\nunique three"),
            (4, "all unique\nhere"),
            (5, "   \nCOOKIE BANNER"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_lines(df, min_docs=2).collect()
    }
    # banner (4 docs) and footer (2 docs) dropped; blank lines always kept
    assert out[1]["text_clean"] == "\nunique one"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_dropped"]) == (2, 2)
    assert out[2]["text_clean"] == "unique two"
    assert out[3]["text_clean"] == "unique three"
    # untouched doc comes back verbatim with zero drops
    assert out[4]["text_clean"] == "all unique\nhere"
    assert out[4]["n_lines_dropped"] == 0
    # doc reduced to its blank skeleton — never NULL
    assert out[5]["text_clean"] == "   "
    assert out[5]["n_lines_dropped"] == 1
    # stats table: exactly the two boilerplate lines
    stats = line_dup_stats(df, min_docs=2).collect()
    assert sorted(r["n_docs"] for r in stats) == [2, 4]
    # min_docs=1 counts every distinct non-blank line
    import pytest as _pt

    with _pt.raises(ValueError):
        line_dup_stats(df, min_docs=0)


def test_remove_duplicate_lines_within_doc_repeat_kept(spark):
    """A line repeated only WITHIN one document is not corpus boilerplate:
    distinct-doc count is 1, both copies survive."""
    from vastdb_sdk_spark.operators.dedup import remove_duplicate_lines

    df = spark.createDataFrame(
        [(1, "same\nmiddle\nsame"), (2, "other")],
        "doc_id long, text string",
    )
    row = remove_duplicate_lines(df, min_docs=2).filter("doc_id = 1").first()
    assert row["text_clean"] == "same\nmiddle\nsame"
    assert row["n_lines_dropped"] == 0


def test_rrf_fuse_hand_model(spark):
    from vastdb_sdk_spark.operators.lm import rrf_fuse

    l1 = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 5.0), (4, 1.0)], "doc_id long, score double"
    )
    l2 = spark.createDataFrame(
        [(3, 0.9), (5, 0.8), (1, 0.7)], "doc_id long, score double"
    )
    out = {r["doc_id"]: r for r in rrf_fuse([l1, l2], k=60).collect()}
    # l1 ranks: 1->1, 2->2 (tie with 3 broken by id), 3->3, 4->4
    # l2 ranks: 3->1, 5->2, 1->3
    assert out[1]["rank_1"] == 1 and out[1]["rank_2"] == 3
    assert out[2]["rank_1"] == 2 and out[2]["rank_2"] is None
    assert out[3]["rank_1"] == 3 and out[3]["rank_2"] == 1
    assert out[5]["rank_1"] is None and out[5]["rank_2"] == 2
    assert abs(out[1]["rrf"] - (1 / 61 + 1 / 63)) < 1e-15
    assert abs(out[3]["rrf"] - (1 / 63 + 1 / 61)) < 1e-15
    assert abs(out[5]["rrf"] - 1 / 62) < 1e-15
    # fusion order: 1 and 3 tie exactly (same term multiset) -> id breaks
    ordered = [
        r["doc_id"] for r in rrf_fuse([l1, l2], k=60, top_k=4).collect()
    ]
    # 1 and 3 tie exactly, id breaks; then 2 and 5 tie at 1/62, id breaks
    assert ordered == [1, 3, 2, 5]
    import pytest as _pt

    with _pt.raises(ValueError):
        rrf_fuse([], k=60)
    with _pt.raises(ValueError):
        rrf_fuse([l1], k=0)


def test_rrf_fuse_oversized_input_guard(spark):
    """VERDICT r12 #4: rrf_fuse's per-list ranking is an unpartitioned
    window — a corpus-sized input must be refused loudly, not funneled
    through one single-partition sort. Pin all three guard paths:
    statically-bounded shortlists pass for free, unbounded frames over
    the cap raise, and max_list_rows=None knowingly accepts."""
    import pytest as _pt
    from pyspark.sql import functions as F
    from vastdb_sdk_spark.operators.lm import _plan_max_rows, rrf_fuse

    corpus = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).cast("double").alias("score")
    )
    # static Catalyst bound: limit(n) carries maxRows=n (Range is itself
    # statically bounded at 500 — above the cap, so the probe path runs)
    assert _plan_max_rows(corpus.limit(7)) == 7
    assert _plan_max_rows(corpus) == 500

    with _pt.raises(ValueError, match="max_list_rows"):
        rrf_fuse([corpus], max_list_rows=100)
    with _pt.raises(ValueError):
        rrf_fuse([corpus.limit(50)], max_list_rows=0)

    # statically bounded shortlist under the cap: no probe, works
    ok = rrf_fuse([corpus.limit(50)], max_list_rows=100, top_k=3).collect()
    assert len(ok) == 3
    # explicit opt-out accepts the single-partition sort
    opt = rrf_fuse([corpus], max_list_rows=None, top_k=3).collect()
    assert [r["doc_id"] for r in opt] == [96, 193, 290]

    # ADVICE r13: LocalRelation frames (SQL VALUES / inline rows — they
    # carry no maxRows in Spark 4) are sized driver-side without a probe
    # job, including after projections (ConvertToLocalRelation collapses
    # them); pyspark createDataFrame builds a LogicalRDD and still pays
    # the probe — that case is the documented eager path.
    vals = ", ".join(f"({i}, {float(i % 7)})" for i in range(120))
    local = spark.sql(f"SELECT * FROM VALUES {vals} AS t(doc_id, score)")
    assert _plan_max_rows(local) == 120
    assert _plan_max_rows(local.select("doc_id", "score")) == 120
    before = spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()
    tiny = rrf_fuse([local], max_list_rows=200, top_k=2)  # lazy: no job yet
    after = spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()
    assert after == before, "under-cap local frame must skip the probe job"
    assert len(tiny.collect()) == 2
    # over-cap: maxRows is an UPPER bound, so the probe (<= cap+1 rows)
    # still adjudicates the actual count before refusing
    with _pt.raises(ValueError, match="max_list_rows"):
        rrf_fuse([local], max_list_rows=100)


def test_kl_drift_terms_hand_model(spark):
    import math
    from vastdb_sdk_spark.operators.lm import kl_drift_terms

    a = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "cat fish")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(3, "dog dog fish"), (4, "dog bird")], "doc_id long, text string"
    )
    out = kl_drift_terms(a, b, top_k=10).collect()
    rows = {r["term"]: r for r in out}
    # union vocab {cat,dog,fish,bird}: V=4, Na=5, Nb=5
    def contrib(ca, cb):
        pa, pb = (ca + 1) / 9, (cb + 1) / 9
        return pa * math.log(pa / pb)

    assert (rows["cat"]["count_a"], rows["cat"]["count_b"]) == (3, 0)
    assert abs(rows["cat"]["contribution"] - contrib(3, 0)) < 1e-15
    assert (rows["bird"]["count_a"], rows["bird"]["count_b"]) == (0, 1)
    assert abs(rows["dog"]["contribution"] - contrib(1, 3)) < 1e-15
    # ordering: cat (overrepresented in A) first, dog (under) last of the 4
    assert [r["term"] for r in out][0] == "cat"
    assert [r["term"] for r in out][-1] == "dog"
    import pytest as _pt

    with _pt.raises(ValueError):
        kl_drift_terms(a, b, top_k=0)


def test_kn_bigram_logprob_hand_model(spark):
    import math
    from vastdb_sdk_spark.operators.lm import kn_bigram_logprob_scores

    # corpus: doc1 "a b a b", doc2 "a c". bigram types: (a,b)x2? ->
    # counts: (a,b)=2, (b,a)=1, (a,c)=1; D=3 types, V={a,b,c} -> 3
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "z")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in kn_bigram_logprob_scores(df).collect()}
    d = 0.75
    D, V = 3, 3
    # continuation: N1+(.,a)=1, N1+(.,b)=1, N1+(.,c)=1
    pc = {t: (1 + 1) / (D + V + 1) for t in "abc"}
    pc["z"] = 1 / (D + V + 1)
    # prefixes: c(a)=3, N1+(a,.)=2; c(b)=1, N1+(b,.)=1
    def p(v, w, cvw, cv, n1f):
        return (max(cvw - d, 0) + d * n1f * pc[w]) / cv

    lp1 = (
        math.log(p("a", "b", 2, 3, 2))
        + math.log(p("b", "a", 1, 1, 1))
        + math.log(p("a", "b", 2, 3, 2))
    ) / 3
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["kn_logprob"] - lp1) < 1e-12
    lp2 = math.log(p("a", "c", 1, 3, 2))
    assert abs(out[2]["kn_logprob"] - lp2) < 1e-12
    # single-token doc: no bigrams, NULL score
    assert out[3]["n_bigrams"] == 0 and out[3]["kn_logprob"] is None
    # OOV prefix backs off to continuation prob (score via a held-out doc)
    from vastdb_sdk_spark.operators.lm import fit_bigram_counts

    cnt = fit_bigram_counts(df)
    held = spark.createDataFrame([(9, "q a")], "doc_id long, text string")
    r = kn_bigram_logprob_scores(held, counts=cnt).first()
    assert abs(r["kn_logprob"] - math.log(pc["a"])) < 1e-12
    # top_n cap keeps the exact backoff for dropped pairs
    capped = {
        r["doc_id"]: r
        for r in kn_bigram_logprob_scores(df, top_n=1).collect()
    }
    # only (a,b) stays in vocab; (b,a) and (a,c) take c=0 with exact stats
    lp1c = (
        math.log(p("a", "b", 2, 3, 2))
        + math.log(p("b", "a", 0, 1, 1))
        + math.log(p("a", "b", 2, 3, 2))
    ) / 3
    assert abs(capped[1]["kn_logprob"] - lp1c) < 1e-12
    import pytest as _pt

    with _pt.raises(ValueError):
        kn_bigram_logprob_scores(df, discount=1.0)


def _span_corrupt_model(doc_id, text, rate, mean_span, sentinel="<extra_id_{}>"):
    """Literal Python replay of operators/augment.span_corrupt."""
    import hashlib
    import re as _re

    toks = [t for t in _re.split(r"[^a-z0-9]+", text.lower()) if t]
    k = max(1, round(mean_span / rate))
    width = 2 * mean_span - 1
    reach = -1
    masked, new = [], []
    for p, _t in enumerate(toks):
        h = hashlib.md5(f"{doc_id}:{p}".encode()).hexdigest()
        h1 = int(h[0:12], 16)
        h2 = int(h[12:24], 16)
        if h1 % k == 0:
            reach = max(reach, p + 1 + h2 % width)
        m = reach > p
        new.append(m and not (masked[-1] if masked else False))
        masked.append(m)
    inp, tgt, span = [], [], -1
    for p, t in enumerate(toks):
        if new[p]:
            span += 1
            inp.append(sentinel.format(span))
            tgt.append(sentinel.format(span))
            tgt.append(t)
        elif masked[p]:
            tgt.append(t)
        else:
            inp.append(t)
    tgt.append(sentinel.format(span + 1))
    return (
        " ".join(inp),
        " ".join(tgt),
        len(toks),
        sum(masked),
        span + 1,
    )


def test_span_corrupt_matches_hand_replay(spark):
    from vastdb_sdk_spark.operators.augment import span_corrupt

    docs = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta iota kappa "
            f"lam mu nu xi omicron pi rho sigma tau upsilon doc{i}")
        for i in range(30)
    ] + [(100, ""), (101, "solo")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in span_corrupt(df, corruption_rate=0.3, mean_span=2).collect()
    }
    any_masked = 0
    for i, text in docs:
        inp, tgt, n, nm, ns = _span_corrupt_model(i, text, 0.3, 2)
        r = out[i]
        assert r["input"] == inp, (i, r["input"], inp)
        assert r["target"] == tgt, (i, r["target"], tgt)
        assert (r["n_tokens"], r["n_masked"], r["n_spans"]) == (n, nm, ns)
        any_masked += nm
    # at rate 0.3 over 630 tokens, masking statistically certain
    assert any_masked > 50
    import pytest as _pt

    with _pt.raises(ValueError):
        span_corrupt(df, corruption_rate=0.0)
    with _pt.raises(ValueError):
        span_corrupt(df, mean_span=0)


def test_prefix_lm_split_hand_replay(spark):
    import hashlib
    import math
    import re as _re
    from vastdb_sdk_spark.operators.augment import prefix_lm_split

    docs = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc{i} tail")
        for i in range(20)
    ] + [(100, ""), (101, "solo"), (102, "two tokens")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in prefix_lm_split(df).collect()}
    for i, text in docs:
        toks = [t for t in _re.split(r"[^a-z0-9]+", text.lower()) if t]
        n = len(toks)
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16)
        if n >= 2:
            lo = math.ceil(0.25 * n)
            hi = math.floor(0.75 * n)
            split = min(max(lo + h % max(hi - lo + 1, 1), 1), max(n - 1, 1))
        else:
            split = n
        r = out[i]
        assert r["split_at"] == split, (i, r["split_at"], split)
        assert r["input"] == " ".join(toks[:split])
        assert r["target"] == " ".join(toks[split:])
        assert r["n_tokens"] == n
    # split always leaves a non-empty prefix AND suffix for n >= 2
    for i, text in docs:
        r = out[i]
        if r["n_tokens"] >= 2:
            assert r["input"] and r["target"]
    import pytest as _pt

    with _pt.raises(ValueError):
        prefix_lm_split(df, min_prefix=0.8, max_prefix=0.2)


def test_mlm_mask_matches_hand_replay(spark):
    import hashlib
    import re as _re
    from vastdb_sdk_spark.operators.augment import mlm_mask

    docs = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta iota kappa doc{i}")
        for i in range(25)
    ] + [(100, ""), (101, "solo")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in mlm_mask(df, mask_rate=0.3).collect()
    }
    k = round(1 / 0.3)
    branches = {"mask": 0, "replace": 0, "keep": 0}
    for i, text in docs:
        toks = [t for t in _re.split(r"[^a-z0-9]+", text.lower()) if t]
        inp, lbl = [], []
        for p, t in enumerate(toks):
            h = hashlib.md5(f"{i}:{p}".encode()).hexdigest()
            h1, h2 = int(h[0:12], 16), int(h[12:24], 16)
            if h1 % k == 0:
                lbl.append(f"{p}:{t}")
                b = h2 % 10
                if b <= 7:
                    inp.append("[MASK]")
                    branches["mask"] += 1
                elif b == 8:
                    inp.append(toks[h2 % len(toks)])
                    branches["replace"] += 1
                else:
                    inp.append(t)
                    branches["keep"] += 1
            else:
                inp.append(t)
        r = out[i]
        assert r["input"] == " ".join(inp), (i, r["input"])
        assert r["labels"] == " ".join(lbl)
        assert (r["n_tokens"], r["n_selected"]) == (len(toks), len(lbl))
    # all three branches exercised across the corpus
    assert branches["mask"] > 0 and (branches["replace"] + branches["keep"]) > 0
    import pytest as _pt

    with _pt.raises(ValueError):
        mlm_mask(df, mask_rate=1.5)


def test_contrastive_pairs_ring_and_chunks(spark):
    import hashlib
    import re as _re
    from vastdb_sdk_spark.operators.augment import contrastive_pairs

    docs = [
        (i, " ".join(f"t{i}w{j}" for j in range(12))) for i in range(20)
    ] + [(99, "short doc")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in contrastive_pairs(
            df, chunk_tokens=5, num_buckets=4
        ).collect()
    }
    # short doc (2 tokens <= 5) excluded
    assert 99 not in out
    # replay: chunks + bucketed md5 ring
    def toks(t):
        return [x for x in _re.split(r"[^a-z0-9]+", t.lower()) if x]

    eligible = [(i, t) for i, t in docs if len(toks(t)) > 5]
    ring = {}
    buckets = {}
    for i, t in eligible:
        h = hashlib.md5(str(i).encode()).hexdigest()
        b = int(h[:12], 16) % 4
        buckets.setdefault(b, []).append((h, i, t))
    for b, rows in buckets.items():
        rows.sort()
        for j, (_h, i, t) in enumerate(rows):
            nh, ni, nt = rows[(j + 1) % len(rows)]
            ring[i] = (ni, nt)
    for i, t in eligible:
        ni, nt = ring[i]
        if ni == i:  # singleton bucket
            assert i not in out
            continue
        r = out[i]
        tt = toks(t)
        assert r["anchor"] == " ".join(tt[:5])
        assert r["positive"] == " ".join(tt[5:10])
        assert r["neg_id"] == ni
        assert r["negative"] == " ".join(toks(nt)[5:10])
    import pytest as _pt

    with _pt.raises(ValueError):
        contrastive_pairs(df, chunk_tokens=0)


def test_collapse_repeated_lines(spark):
    from vastdb_sdk_spark.functions.text import collapse_repeated_lines

    df = spark.createDataFrame(
        [
            (1, "a\na\nb\na\na\na\nc"),
            (2, "same\nsame"),
            (3, "only"),
            (4, ""),
            (5, "x\n\n\ny"),  # consecutive blanks collapse too
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", collapse_repeated_lines(F.col("text")).alias("c")
        ).collect()
    }
    assert out[1] == "a\nb\na\nc"
    assert out[2] == "same"
    assert out[3] == "only"
    assert out[4] == ""
    assert out[5] == "x\n\ny"


def test_normalize_scores_per_group(spark):
    import math
    from vastdb_sdk_spark.operators.sampling import normalize_scores_per_group

    df = spark.createDataFrame(
        [
            ("web", 1.0), ("web", 2.0), ("web", 3.0),
            ("code", 10.0), ("code", 30.0),
            ("const", 5.0), ("const", 5.0),
            ("single", 7.0),
        ],
        "source string, score double",
    )
    rows = normalize_scores_per_group(df, "score", "source").collect()
    by = {}
    for r in rows:
        by.setdefault(r["source"], []).append(r)
    web = sorted(by["web"], key=lambda r: r["score"])
    sd = math.sqrt(2 / 3)  # population stddev of {1,2,3}
    assert abs(web[0]["z"] - (-1 / sd)) < 1e-12
    assert abs(web[1]["z"]) < 1e-12
    assert [r["pct"] for r in web] == [0.0, 0.5, 1.0]
    code = sorted(by["code"], key=lambda r: r["score"])
    assert abs(code[1]["z"] - 1.0) < 1e-12  # {10,30}: sd=10, (30-20)/10
    # constant group: zero spread has no z; pct still ranks
    assert all(r["z"] is None for r in by["const"])
    # singleton group: percent_rank = 0
    assert by["single"][0]["pct"] == 0.0


def test_render_chat_spans(spark):
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )
    from vastdb_sdk_spark.operators.augment import render_chat

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField(
                "messages",
                ArrayType(
                    StructType(
                        [
                            StructField("role", StringType()),
                            StructField("content", StringType()),
                        ]
                    )
                ),
            ),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, [("system", "be brief"), ("user", "hi"), ("assistant", "hello"),
                 ("user", "more?"), ("assistant", "sure")]),
            (2, [("user", "only question")]),
            (3, []),
            (4, None),
            (5, [("assistant", None)]),  # null content renders empty
        ],
        schema,
    )
    out = {r["doc_id"]: r for r in render_chat(df).collect()}

    def block(role, content):
        return f"<|im_start|>{role}\n{content}<|im_end|>\n"

    t1 = (
        block("system", "be brief") + block("user", "hi")
        + block("assistant", "hello") + block("user", "more?")
        + block("assistant", "sure")
    )
    r1 = out[1]
    assert r1["text"] == t1
    assert (r1["n_turns"], r1["n_masked_turns"]) == (5, 2)
    # spans point exactly at the assistant CONTENTS
    for sp, want in zip(r1["spans"], ("hello", "sure")):
        assert t1[sp["start"] : sp["start"] + sp["length"]] == want
    assert out[2]["spans"] == [] and out[2]["n_turns"] == 1
    for i in (3, 4):
        assert out[i]["text"] == "" and out[i]["n_turns"] == 0
    r5 = out[5]
    assert r5["text"] == block("assistant", "")
    assert r5["spans"][0]["length"] == 0
