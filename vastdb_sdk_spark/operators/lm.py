"""Corpus-fit statistical language-model scoring for LLM-data pipelines.

Beyond-parity (BASELINE.json north star): the standard data-quality signal
a perplexity filter provides (CCNet/Gopher-style), re-expressed without an
external KenLM artifact — the model IS the corpus's own unigram
distribution, fit distributedly in the same job that scores. Documents
whose tokens are improbable under the corpus distribution (gibberish,
boilerplate soup, wrong-language text) score low; filtering on a
percentile of this score composes with quality_percentile_filter.

Scale design: fitting is ONE explode + groupBy(token) — the classic
word-count shape with map-side partial aggregation. Scoring joins the
token stream back to the count table: with ``top_n`` set (the 100 TB
path) the vocabulary is capped to the most frequent top_n tokens and
BROADCAST, so the scoring join is map-side — no shuffle of the exploded
token stream and no Zipf-head skew (the "the" bucket never concentrates
on one reducer). Without ``top_n`` the join is a shuffle equi-join on
token — exact, fine at gate scale, skew-exposed at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

# model-statistic frames here feed 3-5 separate subtrees (normalizer,
# vocabulary cap, prefix stats, scoring join) — measured r14:
# tx_kn_logprob's plan scanned the corpus 12 times and re-ran the
# tokenize/explode Generate 10 times with ZERO reused exchanges. The pin
# is per-invocation (no cross-run state): a fresh call re-fits and
# re-materializes. Frames are vocabulary-sized, so the materialization
# is small wherever the corpus is big.
from .pinning import pin


def fit_unigram_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus token counts — the unigram model's sufficient statistic:
    one explode + groupBy(token) with map-side partial aggregation.
    Returns (tok, __c). At corpus scale, ``.persist()`` this frame (it is
    vocabulary-sized, not corpus-sized) and pass it to
    :func:`unigram_logprob_scores` as ``counts`` so the normalizer, the
    vocabulary cap and the scoring join all read ONE materialization
    instead of re-deriving the explode+groupBy lineage per use."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    return toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__c"))


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
    top_n: int | None = None,
    out_col: str = "unigram_logprob",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Mean token log-probability per document under the corpus's own
    add-``smoothing`` unigram model:

        p(t) = (c(t) + a) / (total + a * (V + 1))

    with ``c(t)`` the corpus count (0 for out-of-vocabulary tokens when
    ``top_n`` caps the vocabulary), ``total`` the corpus token count and
    ``V`` the full distinct-token count — the "+1" reserves mass for OOV.
    Returns one row per input row: (id_col, n_tokens, out_col); documents
    with zero tokens get a NULL score.

    ``counts``: a precomputed (ideally persisted) frame from
    :func:`fit_unigram_counts`. Without it, the returned plan re-derives
    the explode+groupBy lineage for each of its three uses (normalizer,
    vocabulary cap, scoring join) — fine at test scale, ~3x the scan cost
    at corpus scale, where fit-once-score-many is the right shape anyway.

    Exact SQL twin (DuckDB): same counts via unnest(string_split_regex),
    same ln() expression — keep in sync with the ``tx_unigram_logprob``
    oracle in ``__spark_entry__.py``.
    """
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    cnt = counts if counts is not None else pin(fit_unigram_counts(df, text_col))
    # total/V come from the FULL distribution even when the scoring vocab
    # is capped — the cap changes which tokens fall into the OOV bucket,
    # not the model's normalizer.
    tot = cnt.agg(
        F.sum("__c").alias("__total"), F.count(F.lit(1)).alias("__v")
    )
    if top_n is not None:
        vocab = cnt.orderBy(F.col("__c").desc(), F.col("tok").asc()).limit(int(top_n))
        joined = toks.join(F.broadcast(vocab), "tok", "left")
    else:
        joined = toks.join(cnt, "tok")
    lp = F.log(
        (F.coalesce(F.col("__c"), F.lit(0)).cast("double") + F.lit(float(smoothing)))
        / (
            F.col("__total").cast("double")
            + F.lit(float(smoothing)) * (F.col("__v").cast("double") + F.lit(1.0))
        )
    )
    scored = (
        joined.crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.avg(lp).alias(out_col))
    )
    # re-attach rows whose token stream is empty (explode dropped them)
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .withColumn("n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0)))
    )


def fit_bigram_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus bigram counts — the bigram model's sufficient statistic:
    POSITIONS are exploded (a cheap integer sequence) and each (v, w)
    pair is built per row post-explode, the same shape as the corpus
    bigram miner (exploding a pre-built pair array would cost
    O(n_tokens^2) expression re-evaluation per doc — Generate
    re-evaluates its child per output row). One shuffle on the pair key
    with map-side partial aggregation. Returns (v, w, __c) —
    vocabulary-squared-bounded but Zipf-concentrated, i.e. far smaller
    than the corpus; persist it for fit-once-score-many."""
    tk = tokens(F.col(text_col))
    staged = df.select(tk.alias("__tk")).filter(F.size("__tk") >= 2)
    pos = staged.select(
        "__tk",
        F.explode(F.sequence(F.lit(1), F.size("__tk") - 1)).alias("__p"),
    )
    return (
        pos.select(
            F.element_at(F.col("__tk"), F.col("__p")).alias("v"),
            F.element_at(F.col("__tk"), F.col("__p") + 1).alias("w"),
        )
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
    top_n: int | None = None,
    out_col: str = "bigram_logprob",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Mean bigram log-probability per document under the corpus's own
    add-``smoothing`` conditional bigram model — the next-order
    perplexity-filter signal after :func:`unigram_logprob_scores`
    (CCNet/KenLM-style quality filtering without the external artifact;
    a bigram model penalizes scrambled or boilerplate-stitched text that
    a unigram model scores as perfectly normal):

        p(w | v) = (c(v, w) + a) / (c(v) + a * (V + 1))

    with ``c(v, w)`` the corpus bigram count, ``c(v) = sum_w c(v, w)``
    the prefix count, and ``V`` the continuation vocabulary (distinct
    ``w`` over the bigram table); the "+1" reserves mass for unseen
    continuations. Returns one row per input row: (id_col, n_bigrams,
    out_col); documents with fewer than two tokens get n_bigrams=0 and a
    NULL score.

    Scale shape mirrors the unigram scorer: fitting is one positional
    explode + groupBy (map-side combined); scoring joins the per-doc
    bigram stream back to the counts. With ``top_n`` the scoring
    vocabulary is capped to the most frequent top_n bigrams and
    BROADCAST together with the (vocabulary-sized) prefix counts, so the
    join is map-side — no shuffle of the exploded stream, no Zipf-head
    skew; out-of-vocabulary bigrams take c=0 and keep the exact
    normalizer (the cap changes which pairs hit the OOV floor, not the
    model). ``counts``: a precomputed persisted frame from
    :func:`fit_bigram_counts`.

    Exact SQL twin (DuckDB): same pair construction via
    range(1, len(tk)), same ln() expression — keep in sync with the
    ``tx_bigram_logprob`` oracle in ``__spark_entry__.py``."""
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    tk = tokens(F.col(text_col))
    staged = df.select(F.col(id_col), tk.alias("__tk")).filter(
        F.size("__tk") >= 2
    )
    pos = staged.select(
        id_col,
        "__tk",
        F.explode(F.sequence(F.lit(1), F.size("__tk") - 1)).alias("__p"),
    )
    pairs = pos.select(
        id_col,
        F.element_at(F.col("__tk"), F.col("__p")).alias("v"),
        F.element_at(F.col("__tk"), F.col("__p") + 1).alias("w"),
    )
    cnt = counts if counts is not None else pin(fit_bigram_counts(df, text_col))
    # prefix counts and the continuation vocabulary come from the FULL
    # distribution even when the scoring vocab is capped
    pfx = cnt.groupBy("v").agg(F.sum("__c").alias("__cv"))
    vv = cnt.agg(F.count_distinct("w").alias("__v"))
    if top_n is not None:
        vocab = cnt.orderBy(
            F.col("__c").desc(), F.col("v").asc(), F.col("w").asc()
        ).limit(int(top_n))
        joined = pairs.join(F.broadcast(vocab), ["v", "w"], "left").join(
            F.broadcast(pfx), "v", "left"
        )
    else:
        joined = pairs.join(cnt, ["v", "w"]).join(pfx, "v")
    a = float(smoothing)
    lp = F.log(
        (F.coalesce(F.col("__c"), F.lit(0)).cast("double") + F.lit(a))
        / (
            F.coalesce(F.col("__cv"), F.lit(0)).cast("double")
            + F.lit(a) * (F.col("__v").cast("double") + F.lit(1.0))
        )
    )
    scored = (
        joined.crossJoin(F.broadcast(vv))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.avg(lp).alias(out_col))
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .withColumn("n_bigrams", F.coalesce(F.col("n_bigrams"), F.lit(0)))
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    out_col: str = "bm25",
) -> DataFrame:
    """Okapi BM25 keyword relevance of every document to a small term
    set — the lexical complement to the ANN tier (hybrid retrieval:
    BM25 shortlist + embedding re-rank), and the standard targeted-
    curation signal ("find docs about X" over a raw corpus).

    score(d) = Σ_t idf_t · tf_dt·(k1+1) / (tf_dt + k1·(1-b+b·|d|/avgdl)),
    idf_t = ln(1 + (N - df_t + 0.5)/(df_t + 0.5)).

    Plan — NO explode, NO per-token shuffle: term frequencies are per-row
    array HOFs (``size(filter(tokens, = term))``, one per query term —
    fine for the ≤dozens of terms a query has), and the corpus statistics
    (N, avgdl, per-term document frequencies) are ONE aggregate row
    broadcast back. ONE tokenize pass total (r14): the per-doc
    ``(id, dl, tf_0..tf_k)`` frame — a few ints per document — is pinned
    (materialized once, eagerly) and feeds BOTH the stats aggregate and
    the scoring pass; previously each consumer re-ran the regex
    tokenizer over the corpus. Zero shuffle beyond the 1-row broadcast;
    at 100 TB the scoring pass is a narrow scan of the pinned frame.
    Terms are matched under the same tokenizer as everything else
    (lowercased alphanumeric runs). NOTE: the pin makes this operator
    EAGER (one Spark job at call time). The pin's blocks are reclaimed
    by JVM GC once the result is unreferenced; long-lived sessions
    calling this in a loop should drain deterministically with
    ``operators.pinning.release_all_pins(spark)`` BETWEEN calls (after
    fully consuming each result — released pins cannot recompute)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # dedupe (order-preserving): a term passed twice must not double its
    # idf*tf contribution — BM25 sums over DISTINCT query terms
    terms = list(dict.fromkeys(str(t).lower() for t in query_terms))
    # NULL text behaves as an empty document (dl=0, every tf=0, score 0)
    # — without the coalesce, size(NULL)=-1 would poison avgdl and emit
    # garbage scores for the null rows
    toked = df.select(
        F.col(id_col),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__tk"),
    )

    def raw_tf(t):
        return F.size(F.filter(F.col("__tk"), lambda x: x == F.lit(t)))

    staged = pin(
        toked.select(
            F.col(id_col),
            F.size("__tk").alias("__dl"),
            *[raw_tf(t).alias(f"__tf_{i}") for i, t in enumerate(terms)],
        )
    )

    def tf(t):
        return F.col(f"__tf_{terms.index(t)}")

    stats = staged.groupBy().agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((tf(t) > 0).cast("long")).alias(f"__df_{i}")
            for i, t in enumerate(terms)
        ],
    )
    scored = staged.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i, t in enumerate(terms):
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n") - F.col(f"__df_{i}") + F.lit(0.5))
            / (F.col(f"__df_{i}") + F.lit(0.5))
        )
        tf_i = tf(t).cast("double")
        # greatest(avgdl, tiny): an all-empty corpus has avgdl=0 and every
        # dl=0, so dl/avgdl would be 0/0=NaN and poison every score; with
        # the guard the ratio is 0 and tf=0 makes each term contribute 0.
        denom = tf_i + F.lit(float(k1)) * (
            F.lit(1.0 - b)
            + F.lit(float(b))
            * F.col("__dl")
            / F.greatest(F.col("__avgdl"), F.lit(1e-12))
        )
        score = score + idf * tf_i * F.lit(float(k1) + 1.0) / denom
    return scored.select(id_col, score.alias(out_col))


def hybrid_topk(
    df: DataFrame,
    emb_df: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    emb_col: str = "embedding",
    k1: float = 1.2,
    b: float = 0.75,
    out_col: str = "cosine",
) -> DataFrame:
    """Hybrid retrieval as a CONTRACT, not a recipe: Okapi BM25 keyword
    shortlist over ``df``, exact embedding-cosine re-rank of the
    shortlist against ``query_vec`` — the standard two-stage lexical +
    semantic ranker (BM25 recalls keyword matches embeddings miss;
    cosine orders them by meaning).

    Plan shape at scale: the BM25 pass is bm25_scores' zero-shuffle map
    scan, and the shortlist is a TakeOrdered — only ``shortlist`` rows
    ever cross the wire. That tiny shortlist then BROADCASTS into the
    embedding table's scan (the big side never shuffles, and id-pushdown
    prunes its files where stats allow), so the whole second stage costs
    one map-side join + a k-row TakeOrdered. Returns (id_col, bm25,
    out_col) ordered by cosine desc, id asc.

    Ties: shortlist breaks on ascending id (deterministic cut), re-rank
    likewise."""
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    if shortlist < k:
        raise ValueError(f"shortlist={shortlist} must be >= k={k}")
    from ..functions.vector import cosine_similarity_to_lit

    # the shortlist's columns are ALIASED before the join: if emb_df also
    # carries a column named id_col or "bm25" (e.g. emb_df IS df, or
    # emb_id_col == id_col), bare-name orderBy/select would raise
    # AMBIGUOUS_REFERENCE despite valid inputs
    sl = (
        bm25_scores(df, query_terms, text_col, id_col, k1=k1, b=b)
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(int(shortlist))
        .select(F.col(id_col).alias("__sl_id"), F.col("bm25").alias("__sl_bm25"))
    )
    joined = emb_df.join(
        F.broadcast(sl), sl["__sl_id"] == emb_df[emb_id_col], "inner"
    )
    return (
        # literal query norm computed at plan time (bit-identical values;
        # the generic form re-folds the O(d) literal norm per row)
        joined.withColumn(out_col, cosine_similarity_to_lit(emb_col, query_vec))
        .orderBy(F.desc(out_col), F.asc("__sl_id"))
        .limit(int(k))
        .select(
            F.col("__sl_id").alias(id_col),
            F.col("__sl_bm25").alias("bm25"),
            out_col,
        )
    )


def linear_classifier_scores(
    df: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    bias: float = 0.0,
    out_col: str = "clf_score",
    prob_col: str | None = "clf_prob",
    normalize: bool = False,
) -> DataFrame:
    """Apply a TRAINED linear bag-of-words classifier (logistic
    regression / fastText-style over token counts) — the
    quality-classifier filter step of GPT-3/LLaMA-style curation
    pipelines: training happens offline on labeled data; the engine's
    job is applying it to the corpus.

        score(d) = bias + Σ_t count_dt · w_t   (counts / |d| if
        ``normalize``), p(d) = sigmoid(score)

    Plan: the weight vocabulary (classifier-sized — thousands to a few
    hundred thousand terms, never corpus-sized) rides a BROADCAST joined
    to the exploded token stream, so the only shuffle is the per-doc
    partial-aggregated sum keyed by ``id_col`` — no Zipf-head skew (the
    join is map-side) and no per-row Python. Documents with no weighted
    tokens score exactly ``bias``. Returns (id_col, out_col[, prob_col])
    one row per input row."""
    if not weights:
        raise ValueError("weights must be non-empty")
    spark = df.sparkSession
    from ..localrel import local_df

    # literal plan: a createDataFrame LogicalRDD re-runs a Python-RDD
    # scan on every action that reads the weights (~0.3 s fixed, r14)
    wdf = local_df(
        spark,
        [(str(t).lower(), float(w)) for t, w in weights.items()],
        "__tok STRING, __w DOUBLE",
    )
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__tok"),
    )
    dots = (
        toks.join(F.broadcast(wdf), "__tok")
        .groupBy(id_col)
        .agg(F.sum("__w").alias("__dot"))
    )
    base = df.select(
        F.col(id_col),
        F.size(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__dl"),
    )
    joined = base.join(dots, id_col, "left")
    dot_val = F.coalesce(F.col("__dot"), F.lit(0.0))
    if normalize:
        dot_val = dot_val / F.greatest(F.col("__dl").cast("double"), F.lit(1.0))
    score = (F.lit(float(bias)) + dot_val).alias(out_col)
    out_cols = [F.col(id_col), score]
    if prob_col:
        out_cols.append(
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + dot_val)))).alias(
                prob_col
            )
        )
    return joined.select(*out_cols)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    broadcast_vocab: bool = True,
    rank_col: str = "rk",
    out_col: str = "tfidf",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the classic keyword/topic
    signature used for corpus exploration, per-topic sampling and
    cluster labeling in curation pipelines (the lexical analogue of the
    embedding tier's cluster assignment):

        w(d, t) = tf(d, t) * (ln((1 + N) / (1 + df(t))) + 1)

    with raw term counts, smoothed idf (the "+1"s keep every observed
    term finite and positive, sklearn's ``smooth_idf`` convention) and
    N the TOTAL document count of ``df`` (empty documents count toward
    N; they simply emit no rows).

    Plan shape at scale: tf is one explode + groupBy(id, term) — the
    word-count shape with map-side partial aggregation; df(t) reuses the
    tf frame (one extra vocabulary-sized groupBy, never a second corpus
    scan). With ``broadcast_vocab`` (default) the vocabulary-sized
    df-count frame BROADCASTS into the tf stream, so the scoring join is
    map-side — no shuffle of per-doc term rows by term and no Zipf-head
    skew (the "the" bucket never lands on one reducer); set it False
    only when the distinct-term count genuinely cannot fit an executor
    (then the join shuffles by term — exact, skew-exposed). The final
    per-doc top-k is a row_number window partitioned by ``id_col``:
    documents are bounded, so no partition outgrows memory, and a
    predicate on ``id_col`` above this operator pushes below the window.

    Determinism: tf and df are exact integers and N is exact, so w is
    the same IEEE double in any engine evaluating the formula in this
    shape; ranking ties (equal tf AND equal df) break on ascending term.
    Returns (id_col, term, out_col, rank_col) with rank_col in 1..k.
    Exact SQL twin: the ``tx_tfidf_topterms`` oracle in
    ``__spark_entry__.py``.
    """
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("__tf"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    n = df.agg(F.count(F.lit(1)).alias("__n"))
    vocab = F.broadcast(dfc) if broadcast_vocab else dfc
    idf = F.log(
        (F.lit(1.0) + F.col("__n").cast("double"))
        / (F.lit(1.0) + F.col("__df").cast("double"))
    ) + F.lit(1.0)
    scored = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(n))
        .select(F.col(id_col), "term", (F.col("__tf").cast("double") * idf).alias(out_col))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc(out_col), F.asc("term"))
    return scored.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= F.lit(int(k))
    )


def pmi_top_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    min_count: int = 5,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` adjacent token pairs by pointwise mutual information —
    the collocation miner (multi-word expressions, "new york"-style
    units) used for tokenizer-vocabulary curation and corpus
    exploration:

        pmi(v, w) = ln( c(v,w) * T / (c_l(v) * c_r(w)) )

    with all marginals taken from the bigram table itself (c_l/c_r =
    occurrences of v as left / w as right element, T = total bigrams) —
    one table, exactly mirrorable in SQL, and every input to the ln is
    an exact integer so the score is the same IEEE double in any
    engine. ``min_count`` drops the unstable singleton tail (a pair
    seen once with rare margins otherwise tops any list).

    Plan shape: the bigram table is vocabulary-squared-bounded and
    Zipf-concentrated (far smaller than the corpus); its two marginal
    aggregates BROADCAST back onto it, the 1-row total rides a
    broadcast too, and the top-k is a TakeOrdered — after the one
    fit_bigram_counts shuffle, nothing corpus-sized moves. Ties break
    on (v, w) ascending. Returns (v, w, n, pmi)."""
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    if min_count < 1:
        raise ValueError(f"min_count={min_count} must be >= 1")
    bc = counts if counts is not None else pin(fit_bigram_counts(df, text_col))
    left = bc.groupBy("v").agg(F.sum("__c").alias("__cl"))
    right = bc.groupBy("w").agg(F.sum("__c").alias("__cr"))
    tot = bc.agg(F.sum("__c").alias("__t"))
    pmi = F.log(
        F.col("__c").cast("double")
        * F.col("__t").cast("double")
        / (F.col("__cl").cast("double") * F.col("__cr").cast("double"))
    )
    return (
        bc.filter(F.col("__c") >= F.lit(int(min_count)))
        .join(F.broadcast(left), "v")
        .join(F.broadcast(right), "w")
        .crossJoin(F.broadcast(tot))
        .select("v", "w", F.col("__c").alias("n"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("v"), F.asc("w"))
        .limit(int(k))
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token Shannon entropy — the repetitiveness /
    gibberish quality signal (low entropy = a few tokens dominate:
    keyword-stuffed spam, boilerplate, degenerate generations; the
    standard filter column alongside Gopher's repetition ratios).
    Computed in the cross-engine-stable form

        H = ln(n) - (1/n) * sum_i c_i * ln(c_i)

    (algebraically -sum p_i ln p_i) so that EVERY ln() input is an
    exact integer count — ln of the non-integer ratio c/n is where
    engines' libm implementations can drift a ulp; ln of the same
    integer cannot.

    Plan shape: one word-count groupBy (tokenize -> explode ->
    groupBy(doc, token)) then one per-doc aggregate — two shuffles on
    uniform keys, no skew, no driver-side anything. Docs with zero
    tokens are kept with ``n_tokens = 0`` and NULL entropy (dropping
    them would silently shrink the corpus).

    Returns (id_col, n_tokens, entropy)."""
    tf = (
        df.select(
            F.col(id_col),
            F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__t"),
        )
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = tf.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        F.sum(F.col("__c").cast("double") * F.log(F.col("__c").cast("double"))).alias(
            "__s"
        ),
    )
    scored = agg.select(
        id_col,
        "n_tokens",
        (
            F.log(F.col("n_tokens").cast("double"))
            - F.col("__s") / F.col("n_tokens").cast("double")
        ).alias("entropy"),
    )
    return df.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        "entropy",
    )


def source_vocab_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus groups (sources /
    domains / dumps) — the mixture-diversity diagnostic: two sources
    with near-1 vocabulary overlap are redundant in a pretraining mix,
    near-0 means a domain contributes unique coverage. For every
    unordered group pair: distinct-term counts, the intersection size,
    and Jaccard |A∩B| / |A∪B|.

    Plan: one distinct over (group, term) builds the per-group
    vocabulary (word-count shape); the intersection is an equi-join of
    that table WITH ITSELF on term — a term in g groups contributes
    g²/2 candidate rows, bounded by the GROUP count squared (domains
    number in the thousands, never corpus-sized), not by corpus size.
    Group sizes broadcast; the all-pairs frame is the tiny sizes table
    non-equi-joined with itself (groups² rows), so pairs with ZERO
    shared terms still appear with jaccard 0 rather than silently
    vanishing. Jaccard is a single IEEE division of two exact integers
    — correctly rounded, hence identical in any engine.

    Returns (a, b, n_a, n_b, n_common, jaccard) with a < b."""
    # per-group vocabulary — consumed THREE times (sizes + both join
    # sides): pin it or the distinct shuffle runs per consumer
    vocab = pin(
        df.select(
            F.col(group_col).alias("__g"),
            F.explode(
                tokens(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("__t"),
        ).distinct()
    )
    sizes = vocab.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    inter = (
        vocab.select(F.col("__g").alias("a"), "__t")
        .join(vocab.select(F.col("__g").alias("b"), "__t"), "__t")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    all_pairs = (
        F.broadcast(sizes.select(F.col("__g").alias("a"), F.col("__n").alias("n_a")))
        .join(
            F.broadcast(
                sizes.select(F.col("__g").alias("b"), F.col("__n").alias("n_b"))
            ),
            F.col("a") < F.col("b"),
        )
    )
    return (
        all_pairs.join(inter, ["a", "b"], "left")
        .select(
            "a",
            "b",
            "n_a",
            "n_b",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            (
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                / (
                    F.col("n_a") + F.col("n_b")
                    - F.coalesce(F.col("n_common"), F.lit(0))
                ).cast("double")
            ).alias("jaccard"),
        )
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary head: OLS
    slope of ln(count) against ln(rank) for the ``top_n`` most frequent
    tokens (rank ties broken by token asc, so ranks are a deterministic
    permutation). Natural corpora fit slope ≈ -1 (Zipf's law);
    template-generated or deduplicated-to-death corpora drift toward 0
    (flat head) — the one-number corpus-health diagnostic next to
    token_entropy's per-doc signal.

    Every ln() input is an exact integer (rank from row_number, count
    from the word count), so x/y are identical doubles in any engine;
    the OLS sums run over only ``top_n`` rows. Plan: one word-count
    shuffle, a TakeOrdered head, one tiny (top_n-row) window + aggregate
    — nothing corpus-sized past the word count. Returns one row:
    (n_terms, slope, intercept)."""
    from pyspark.sql import Window

    if top_n < 3:
        raise ValueError(f"top_n={top_n} must be >= 3")
    counts = (
        df.select(
            F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__t")
        )
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), F.asc("__t"))
        .limit(int(top_n))
    )
    w = Window.orderBy(F.desc("__c"), F.asc("__t"))
    xy = counts.select(
        F.log(F.row_number().over(w).cast("double")).alias("__x"),
        F.log(F.col("__c").cast("double")).alias("__y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    n = F.col("__n").cast("double")
    slope = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / (
        n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    return agg.select(
        F.col("__n").alias("n_terms"),
        slope.alias("slope"),
        ((F.col("__sy") - slope * F.col("__sx")) / n).alias("intercept"),
    )


def naive_bayes_train(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Train a multinomial Naive Bayes text classifier IN the engine —
    the classic labeled-quality / domain / language classifier a curation
    pipeline fits on its own corpus (complement of
    :func:`linear_classifier_scores`, which only APPLIES an offline
    model). Add-one (Laplace) smoothing:

        ll(t, c)  = ln( (count(t, c) + 1) / (tokens(c) + V) )
        prior(c)  = ln( docs(c) / docs )

    where V is the corpus-wide distinct-token count. Returns
    ``(weights, priors)``: weights = (label, tok, __ll, __count),
    priors = (label, __prior, __unseen_ll, __n_docs) with ``__unseen_ll``
    the smoothed log-likelihood of a token never seen with that label —
    everything a scorer needs, including out-of-vocabulary handling.

    Scale design: ONE explode + groupBy(label, tok) word-count (map-side
    partial agg, no skew hazard beyond the word-count shape itself);
    per-class totals and V are CLASS-COUNT-sized and vocabulary-sized
    aggregates attached via 1-row/broadcast joins — nothing corpus-sized
    moves after the count shuffle. ``min_count`` prunes the long tail
    from the emitted weights (the smoothing denominators still count the
    full vocabulary, so pruning only drops rows a scorer would treat as
    unseen anyway at negligible mass)."""
    toks = df.select(
        F.col(label_col).alias("label"),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("tok"),
    )
    pair = toks.groupBy("label", "tok").agg(F.count(F.lit(1)).alias("__count"))
    class_tok = pair.groupBy("label").agg(F.sum("__count").alias("__ctok"))
    vocab = pair.select(F.countDistinct("tok").alias("__v"))
    doc_counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("__n_docs")
    )
    total_docs = df.agg(F.count(F.lit(1)).alias("__n_total"))

    weights = (
        pair.join(F.broadcast(class_tok), "label")
        .crossJoin(F.broadcast(vocab))
        .select(
            "label",
            "tok",
            F.log(
                (F.col("__count") + 1).cast("double")
                / (F.col("__ctok") + F.col("__v")).cast("double")
            ).alias("__ll"),
            "__count",
        )
    )
    if min_count > 1:
        weights = weights.filter(F.col("__count") >= min_count)
    priors = (
        doc_counts.join(F.broadcast(class_tok), "label")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(total_docs))
        .select(
            "label",
            F.log(
                F.col("__n_docs").cast("double") / F.col("__n_total").cast("double")
            ).alias("__prior"),
            F.log(
                F.lit(1.0) / (F.col("__ctok") + F.col("__v")).cast("double")
            ).alias("__unseen_ll"),
            "__n_docs",
        )
    )
    return weights, priors


def naive_bayes_classify(
    df: DataFrame,
    weights: DataFrame,
    priors: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_margin: float = 0.0,
    out_col: str = "predicted",
) -> DataFrame:
    """Classify documents with a model from :func:`naive_bayes_train`:

        score(d, c) = prior(c) + Σ_t [ ll(t, c)  if (t, c) seen
                                       else unseen_ll(c) ]

    argmax over classes, ties broken by label order. ``min_margin``
    drops documents whose best-vs-runner-up score gap is below the
    threshold (also the float-safety knob: engines that sum in different
    orders can flip a near-tie, so gates compare only confident rows).
    Returns (id_col, out_col, __margin).

    Scale design (r12 restructure): the model is collected driver-side —
    it is CLASSIFIER-sized (#classes priors; vocab x classes weights stay
    distributed) — and the weights are pivoted to ONE row per token with
    a log-likelihood column per class. The token stream then left-joins
    the broadcast pivoted vocabulary ONCE (no x#classes row fan-out: the
    previous shape pushed #classes copies of every token through the
    shuffle and needed a second per-doc reduce, and the fan dominated the
    decade profile at ~5x per stage) and ONE groupBy(id_col) computes all
    class sums as parallel aggregates; argmax + runner-up margin are a
    pure expression over the #classes score columns. One shuffle total,
    no per-row Python. NB: collecting the priors makes this call EAGER
    (the model frames are evaluated at plan-construction time) — persist
    trained models you reuse."""
    pr_rows = priors.select("label", "__prior", "__unseen_ll").collect()
    if not pr_rows:
        raise ValueError("naive_bayes_classify: priors frame is empty")
    if any(r["label"] is None for r in pr_rows):
        # a NULL training label is garbage-in: the old fan-join shape
        # silently scored a NULL class that could never match a weight;
        # the pivoted shape cannot name a NULL column — fail loud instead
        raise ValueError(
            "naive_bayes_classify: priors contain a NULL label; drop or "
            "fill null label rows before training"
        )
    labels = sorted(r["label"] for r in pr_rows)
    prior_of = {r["label"]: float(r["__prior"]) for r in pr_rows}
    unseen_of = {r["label"]: float(r["__unseen_ll"]) for r in pr_rows}
    # one vocab row per token, one ll column per class; a (label, tok)
    # pair absent from the weights reads NULL -> that class's unseen mass.
    # toDF renames POSITIONALLY (pivot with explicit values emits columns
    # in that order): re-parsing label text as a quoted identifier would
    # break on labels containing a backtick
    safe = [f"__ll_{i}" for i in range(len(labels))]
    wide = (
        weights.groupBy("tok")
        .pivot("label", labels)
        .agg(F.first("__ll"))
        .toDF("tok", *safe)
    )
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("tok"),
    )
    scored = toks.join(F.broadcast(wide), "tok", "left")
    sums = scored.groupBy(id_col).agg(
        *[
            F.sum(
                F.coalesce(F.col(safe[i]), F.lit(unseen_of[lbl]))
            ).alias(f"__s_{i}")
            for i, lbl in enumerate(labels)
        ]
    )
    # argmax + runner-up margin as a pure expression: sort (neg score,
    # label) structs ascending — smaller label wins ties, same contract
    # as the previous per-(doc, class) reduce
    arr = F.sort_array(
        F.array(
            *[
                F.struct(
                    (-(F.col(f"__s_{i}") + F.lit(prior_of[lbl]))).alias("neg"),
                    F.lit(lbl).alias("lbl"),
                )
                for i, lbl in enumerate(labels)
            ]
        ),
        asc=True,
    )
    staged = sums.select(F.col(id_col), F.slice(arr, 1, 2).alias("__top2"))
    best = F.col("__top2")[0]
    second = F.when(F.size("__top2") > 1, -F.col("__top2")[1]["neg"])
    margin = F.when(
        second.isNotNull(), (-best["neg"]) - second
    ).otherwise(F.lit(float("inf")))
    out = staged.select(
        F.col(id_col),
        best["lbl"].alias(out_col),
        margin.alias("__margin"),
    )
    if min_margin > 0.0:
        out = out.filter(F.col("__margin") >= min_margin)
    return out


#: rrf_fuse ranks each input list with an UNPARTITIONED row_number window —
#: a single-partition global sort, correct and cheap for top-N shortlists
#: but a scale hazard if a caller passes a corpus-sized score frame. The
#: guard mirrors similarity.rhp_signature_col's explicit-refusal pattern:
#: inputs above this bound are rejected with instructions, not silently
#: funneled through one task.
_MAX_RRF_LIST_ROWS = 100_000


def _plan_max_rows(df: DataFrame) -> int | None:
    """Catalyst's static row-count bound for a plan (LogicalPlan.maxRows),
    or None when unbounded. A ``limit(n)`` input — every real retrieval
    shortlist — carries maxRows=n, so the rrf_fuse size guard costs
    nothing on the intended inputs. In-memory frames (createDataFrame —
    Spark 4 LocalRelation does NOT define maxRows) are sized from the
    driver-side rows directly, so they skip the probe job too (ADVICE
    r13: don't charge tiny composed frames an eager count)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        mr = plan.maxRows()
        if mr.isDefined():
            return int(mr.get())
        # ConvertToLocalRelation collapses projections/filters over
        # local data, so a driver-built shortlist optimizes to a bare
        # LocalRelation whose size is known without any Spark job
        if plan.getClass().getSimpleName() == "LocalRelation":
            return int(plan.data().size())
        return None
    except Exception:  # non-JVM frame / API drift: fall back to the probe
        return None


def rrf_fuse(
    lists: "list[DataFrame]",
    id_col: str = "doc_id",
    score_col: str = "score",
    k: int = 60,
    top_k: int | None = None,
    max_list_rows: int | None = _MAX_RRF_LIST_ROWS,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) of N
    ranked retrieval lists: rrf(d) = Σ_i 1/(k + rank_i(d)), summed over
    the lists that contain d. The standard training-free fusion for
    hybrid search (BM25 list + ANN list) — unlike score interpolation it
    needs no per-signal normalization, because only RANKS enter.

    Each input frame carries (id_col, score_col); rank within a list is
    dense 1-based by score DESC with ascending-id tie-break, so the
    fusion is fully deterministic. Ids absent from a list contribute
    nothing for it (the usual convention).

    Inputs are RETRIEVAL LISTS — top-N shortlists, not corpora — so each
    per-list ranking is a single-partition window over ≤ N rows and the
    fusion is a chain of tiny full-outer joins: the whole plan is
    shortlist-sized regardless of corpus size (produce the lists with
    TakeOrdered shapes like ``hybrid_topk`` does). The fused score is the
    same left-to-right float sum on any engine: every term is 1/(k+r)
    with integer r, so cross-engine doubles are bit-identical.

    Returns (id_col, rank_1..rank_N nullable, rrf) ordered by rrf DESC,
    id ASC; ``top_k`` truncates to the final cut.

    Size guard (``max_list_rows``, default 100k): each list's ranking is
    an unpartitioned window, sized for shortlists — a corpus-sized input
    would become one single-partition global sort. Lists whose plan
    carries a static Catalyst bound (any ``limit(n)`` shortlist —
    ``LogicalPlan.maxRows``) are checked for free, as are SQL-VALUES /
    JVM-local frames (LocalRelation sized driver-side); an unbounded plan
    (parquet scans, pyspark createDataFrame's LogicalRDD) pays
    one EAGER ``limit(cap+1).count()`` probe (scans at most cap+1 rows,
    documented eager evaluation) and is refused over the cap with
    instructions to pre-truncate via a distributed top-k. Pass
    ``max_list_rows=None`` to accept the single-partition sort knowingly.
    """
    from pyspark.sql import Window as W

    if not lists:
        raise ValueError("lists must be non-empty")
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    if max_list_rows is not None:
        if max_list_rows < 1:
            raise ValueError(f"max_list_rows={max_list_rows} must be >= 1")
        for i, df in enumerate(lists):
            bound = _plan_max_rows(df)
            if bound is not None and bound <= max_list_rows:
                continue  # statically shortlist-sized: zero-cost check
            if df.limit(max_list_rows + 1).count() > max_list_rows:
                raise ValueError(
                    f"rrf_fuse input list {i} exceeds max_list_rows="
                    f"{max_list_rows}: per-list ranking is an unpartitioned "
                    "window (single-partition global sort), sized for top-N "
                    "retrieval shortlists, not corpora. Pre-truncate each "
                    "list with a distributed top-k (orderBy(...).limit(n) — "
                    "TakeOrdered, as hybrid_topk does), or raise "
                    "max_list_rows / pass None to accept the sort."
                )
    ranked = []
    for i, df in enumerate(lists):
        w = W.orderBy(F.desc(score_col), F.asc(id_col))
        ranked.append(
            df.select(
                F.col(id_col),
                F.row_number().over(w).alias(f"rank_{i + 1}"),
            )
        )
    fused = ranked[0]
    for nxt in ranked[1:]:
        fused = fused.join(nxt, id_col, "full_outer")
    score = F.lit(0.0)
    for i in range(len(lists)):
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(int(k)) + F.col(f"rank_{i + 1}")), F.lit(0.0)
        )
    out = fused.withColumn("rrf", score).orderBy(F.desc("rrf"), F.asc(id_col))
    return out.limit(int(top_k)) if top_k is not None else out


def kl_drift_terms(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    alpha_smooth: bool = True,
    top_k: int = 50,
) -> DataFrame:
    """Corpus-drift diagnostic: the terms contributing most to
    KL(P_A || P_B), where P_A / P_B are add-one-smoothed unigram
    distributions over the UNION vocabulary — the standard check that a
    new crawl snapshot / filtered mix still looks like the reference
    corpus, and WHICH terms moved when it doesn't.

    contribution(t) = p_A(t) * ln(p_A(t) / p_B(t)),
    p(t) = (count_t + 1) / (N + V)  (V = union vocabulary size).

    Every ln() input is a ratio of exact integers, so per-term doubles
    are bit-identical cross-engine (the nb_train discipline). The TOTAL
    KL is deliberately NOT emitted: a vocabulary-sized float sum has no
    deterministic addition order on any distributed engine — and the
    per-term view is the actionable artifact anyway (rank by what
    drifted). Returns top_k rows (term, count_a, count_b, contribution)
    by contribution DESC (terms overrepresented in A first), term ASC
    tie-break.

    Plan: one word-count shuffle per side, a full-outer join on the
    term (vocabulary-sized, uniform key), 1-row totals broadcast, then
    TakeOrdered(top_k). No corpus-sized intermediate beyond the two
    counts."""
    if top_k < 1:
        raise ValueError(f"top_k={top_k} must be >= 1")
    if not alpha_smooth:
        raise ValueError("only add-one smoothing is supported (alpha_smooth=True)")

    def counts(df):
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    ca = counts(df_a).withColumnRenamed("c", "count_a")
    cb = counts(df_b).withColumnRenamed("c", "count_b")
    # vocabulary-sized, consumed by totals AND the scoring join: pin it
    # or both word-count shuffles and the full-outer join run twice
    vocab = pin(
        ca.join(cb, "term", "full_outer").select(
            "term",
            F.coalesce("count_a", F.lit(0)).alias("count_a"),
            F.coalesce("count_b", F.lit(0)).alias("count_b"),
        )
    )
    totals = vocab.groupBy().agg(
        F.sum("count_a").alias("__na"),
        F.sum("count_b").alias("__nb"),
        F.count(F.lit(1)).alias("__v"),
    )
    j = vocab.crossJoin(F.broadcast(totals))
    pa = (F.col("count_a") + F.lit(1)) / (F.col("__na") + F.col("__v"))
    pb = (F.col("count_b") + F.lit(1)) / (F.col("__nb") + F.col("__v"))
    contrib = pa * F.log(pa / pb)
    return (
        j.select("term", "count_a", "count_b", contrib.alias("contribution"))
        .orderBy(F.desc("contribution"), F.asc("term"))
        .limit(int(top_k))
    )


def kn_bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    top_n: int | None = None,
    out_col: str = "kn_logprob",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Mean bigram log-probability per document under an interpolated
    KNESER-NEY model fit on the corpus itself — the smoothing that made
    KenLM the de-facto pretraining quality filter: instead of flat
    add-a mass, absolute discounting redistributes exactly
    ``d * N1+(v,.)`` of each prefix's probability to a CONTINUATION
    model (how many distinct contexts a word follows — "francisco" is
    frequent but follows only "san", so its continuation probability is
    tiny and boilerplate stitched around it scores low):

        p_cont(w)  = (N1+(.,w) + 1) / (D + V + 1)
        p(w | v)   = (max(c(v,w) - d, 0) + d * N1+(v,.) * p_cont(w)) / c(v)
        p(w | v)   = p_cont(w)                       when c(v) = 0 (OOV prefix)

    with N1+ the distinct-bigram-type counts, D the total distinct
    bigram types and V the continuation vocabulary; the +1/+V+1 on the
    continuation model reserves mass for unseen words (exact KN leaves
    them at zero). Every input to the arithmetic is an exact integer
    and ``d`` defaults to the dyadic 0.75, so per-bigram doubles are
    bit-identical cross-engine.

    Scale shape mirrors :func:`bigram_logprob_scores`: fit = one
    positional explode + groupBy; the three model tables (per-prefix
    ``c(v)/N1+(v,.)``, per-word ``N1+(.,w)``, the 1-row ``D/V``) are all
    vocabulary-sized or smaller and BROADCAST, so scoring never shuffles
    the exploded stream; ``top_n`` additionally caps + broadcasts the
    bigram-count join (OOV pairs keep the exact backoff). Returns one
    row per input row: (id_col, n_bigrams, out_col); docs with < 2
    tokens score NULL."""
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    # coalesce: NULL text => empty token array => the sentinel row below
    # (n_bigrams 0, NULL score), same as the old filter + join-back
    tk = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
    staged = df.select(F.col(id_col), tk.alias("__tk"))
    # docs with < 2 tokens emit ONE sentinel position whose (v, w) are
    # NULL: they survive the per-doc aggregate directly (count(v) = 0,
    # avg skips the NULL score), which removes the old repair join — a
    # full extra corpus scan + two exchanges just to re-attach short
    # docs (r15; guide §2.4 remove shuffles outright)
    pos = staged.select(
        id_col,
        "__tk",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("__tk") - 1, F.lit(1)))
        ).alias("__p"),
    )
    real = F.size("__tk") >= 2
    pairs = pos.select(
        id_col,
        F.when(real, F.element_at(F.col("__tk"), F.col("__p"))).alias("v"),
        F.when(real, F.element_at(F.col("__tk"), F.col("__p") + 1)).alias("w"),
    )
    cnt = counts if counts is not None else pin(fit_bigram_counts(df, text_col))
    pfx = cnt.groupBy("v").agg(
        F.sum("__c").alias("__cv"), F.count(F.lit(1)).alias("__n1f")
    )
    wst = cnt.groupBy("w").agg(F.count(F.lit(1)).alias("__n1b"))
    # D = total bigram types = sum of per-word type counts; V = distinct
    # continuation words = wst's row count — derived from wst instead of
    # a second count_distinct pass over cnt (one aggregation fewer, r15)
    tot = wst.agg(
        F.sum("__n1b").alias("__d"), F.count(F.lit(1)).alias("__vv")
    )
    if top_n is not None:
        vocab = cnt.orderBy(
            F.col("__c").desc(), F.col("v").asc(), F.col("w").asc()
        ).limit(int(top_n))
        joined = pairs.join(F.broadcast(vocab), ["v", "w"], "left")
    else:
        joined = pairs.join(cnt, ["v", "w"], "left")
    joined = (
        joined.join(F.broadcast(pfx), "v", "left")
        .join(F.broadcast(wst), "w", "left")
        .crossJoin(F.broadcast(tot))
    )
    d = float(discount)
    pc = (
        F.coalesce(F.col("__n1b"), F.lit(0)).cast("double") + F.lit(1.0)
    ) / (
        F.col("__d").cast("double") + F.col("__vv").cast("double") + F.lit(1.0)
    )
    seen = (
        F.greatest(
            F.coalesce(F.col("__c"), F.lit(0)).cast("double") - F.lit(d),
            F.lit(0.0),
        )
        + F.lit(d) * F.coalesce(F.col("__n1f"), F.lit(0)).cast("double") * pc
    ) / F.col("__cv").cast("double")
    p = F.when(
        F.col("__cv").isNull() | (F.col("__cv") == 0), pc
    ).otherwise(seen)
    # sentinel rows (NULL v) contribute neither to the count nor the
    # mean: count(v) skips NULLs, and their score is forced NULL
    return joined.groupBy(id_col).agg(
        F.count(F.col("v")).alias("n_bigrams"),
        F.avg(F.when(F.col("v").isNotNull(), F.log(p))).alias(out_col),
    )
