"""Deterministic sampling / splitting / packing operators for
training-data pipelines.

Beyond-parity (BASELINE.json north star): the reference has no sampling
surface; these are the dataset-assembly primitives a 100 TB pretraining
pipeline needs, designed Spark-first:

- **hash_sample / stratified_sample**: row membership is a pure function of
  the key column (multiplicative Knuth hash), so the sample is stable across
  runs, executors, and engines — no ``rand()``, no seed-plumbing through
  tasks, fully pushed into whole-stage codegen, and reproducible by any SQL
  engine for auditing. Filtering happens before any shuffle, so a 1 %
  sample of 100 TB reads 100 TB but shuffles ~1 TB.
- **train_test_split**: the same hash assigns each row to a named split;
  a document can never migrate between splits when the corpus grows
  (membership depends only on the key, not on row count or ordering) —
  the property that prevents train/test leakage across dataset versions.
- **pack_greedy**: assigns documents to fixed-token-budget context windows
  ("packing") with one window function per stratum — a single range-shuffle
  on (stratum, position); no driver-side loop, no UDF.

All transforms are pure DataFrame -> DataFrame and engine-reproducible
(the gate queries in ``__spark_entry__`` hash-match DuckDB running the
identical arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

# Knuth's multiplicative constant (2^32 / golden ratio), applied to the key
# after a prime-modulus fold, then reduced mod 10_000: two decimal digits of
# bucket resolution. Plain integer arithmetic so DuckDB/any engine
# reproduces it bit-for-bit. The pre-fold makes the multiply overflow-safe
# for the FULL int64 key space: (_FOLD_P - 1) * _KNUTH < 2^63, so no silent
# wraparound regardless of key magnitude (keys below _FOLD_P — e.g. every
# testdata id — pass through the fold unchanged).
_KNUTH = 2654435761
_FOLD_P = 3_037_000_493  # prime; largest residue * _KNUTH stays under 2^63
_BUCKETS = 10_000


def hash_bucket(key: Column | str, buckets: int = _BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets) from an integer key column.
    SQL twin: ``((key % 3037000493) * 2654435761) % buckets`` (pmod
    semantics for negative keys)."""
    key = F.col(key) if isinstance(key, str) else key
    folded = F.pmod(key.cast("long"), F.lit(_FOLD_P))
    return (folded * F.lit(_KNUTH)) % F.lit(buckets)


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep ``fraction`` of rows, membership decided by the key hash alone.

    Unlike ``df.sample()`` the result is identical across runs/partitionings
    and across engines; unlike ``TABLESAMPLE`` it composes with joins (both
    sides sampled on the same key keep matching rows).
    """
    return df.filter(hash_bucket(key_col) < int(fraction * _BUCKETS))


def stratified_sample(
    df: DataFrame, key_col: str, strata_col: str, fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling rates (e.g. downsample dominant
    languages, keep the tail). ``fractions`` maps stratum value -> rate."""
    rate = F.lit(int(default_fraction * _BUCKETS))
    for value, frac in fractions.items():
        rate = F.when(F.col(strata_col) == value, int(frac * _BUCKETS)).otherwise(rate)
    return df.filter(hash_bucket(key_col) < rate)


def train_test_split(
    df: DataFrame, key_col: str, test_fraction: float = 0.1,
    split_col: str = "split",
) -> DataFrame:
    """Tag each row 'train' / 'test' by key hash. Growing the corpus never
    moves an existing row between splits."""
    is_test = hash_bucket(key_col) < int(test_fraction * _BUCKETS)
    return df.withColumn(split_col, F.when(is_test, "test").otherwise("train"))


def resample_to_mix(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """Deterministically undersample strata so the output follows the
    target ``weights`` mix (e.g. ``{"en": 0.4, "de": 0.3, "fr": 0.3}``)
    while keeping the maximum possible row count: the binding stratum
    (smallest count/weight ratio) is kept whole and every other stratum is
    hash-thresholded down to match. Rows whose stratum is not in
    ``weights`` are dropped.

    Fully declarative — per-stratum counts come from an aggregate that is
    broadcast-joined back (a handful of rows), never collected to the
    driver, so the plan is one scan + one tiny shuffle + a map-side
    filter; membership is the same :func:`hash_bucket` arithmetic as
    ``hash_sample``, hence stable across runs/engines and reproducible in
    SQL for auditing. The integer bucket threshold makes the realized mix
    approximate to 1/buckets (1e-4) per stratum.
    """
    if not weights:
        raise ValueError("weights must be a non-empty mapping")
    wt = F.lit(None).cast("double")
    for value, w in weights.items():
        wt = F.when(F.col(stratum_col) == value, F.lit(float(w))).otherwise(wt)
    counts = (
        df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__w", wt)
        .filter(F.col("__w").isNotNull())
    )
    # scale = min over strata of n/w; stratum threshold = scale*w/n buckets.
    # The expression shapes mirror the SQL twin exactly (same associativity)
    # so double rounding is engine-identical.
    scale = counts.agg(F.min(F.col("__n") / F.col("__w")).alias("__scale"))
    thr = counts.crossJoin(F.broadcast(scale)).select(
        stratum_col,
        F.floor(
            F.col("__scale") * F.col("__w") / F.col("__n") * F.lit(_BUCKETS)
        ).alias("__thr"),
    )
    return (
        df.join(F.broadcast(thr), stratum_col)
        .filter(hash_bucket(key_col) < F.col("__thr"))
        .drop("__thr")
    )


def quality_percentile_filter(
    df: DataFrame,
    score_col,
    keep_fraction: float = 0.5,
    stratum_col: str | None = None,
    order_tiebreak: str = "doc_id",
) -> DataFrame:
    """Keep the top ``keep_fraction`` of rows by a quality score, per
    stratum (e.g. per source/language) — the percentile-based quality
    gate of a pretraining pipeline (relative cutoffs per domain rather
    than one global absolute threshold, so a low-scoring domain isn't
    wiped out wholesale).

    ``score_col`` may be a column name or a Column expression (e.g.
    functions/text.quality_score). Membership is PERCENT_RANK over
    (stratum, score, tiebreak) — deterministic under ties via the id
    tiebreak, engine-reproducible in SQL. One range-shuffle per stratum
    (the window); at 100 TB the stratum must bound partition size, same
    contract as pack_greedy. Rows with percent_rank >= 1-keep_fraction
    are kept, so exactly the top fraction survives (ceil-ish at small n:
    the rank-1 row always survives — a single-row stratum keeps its row,
    even though percent_rank degenerates to 0 there; without the n==1
    escape a one-doc domain would be wiped out entirely, the exact
    failure mode the per-stratum design exists to prevent)."""
    if not 0.0 < keep_fraction <= 1.0:
        raise ValueError(f"keep_fraction must be in (0, 1], got {keep_fraction}")
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    parts = [stratum_col] if stratum_col else []
    w = W.partitionBy(*parts).orderBy(score.asc(), F.col(order_tiebreak).asc())
    # same partition keys, no ordering: Spark evaluates both specs in one
    # window stage over one exchange (plan-asserted in tests/test_plans.py)
    w_n = W.partitionBy(*parts)
    # epsilon absorbs the representation error of 1-keep_fraction (e.g.
    # 1-0.7 = 0.30000000000000004 would drop the exact-boundary rank whose
    # percent_rank is k/(n-1) = 0.299999...); percent_rank spacing is
    # 1/(n-1), far above 1e-12 for any real stratum
    return (
        df.withColumn("__pr", F.percent_rank().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(w_n))
        .filter(
            (F.col("__pr") >= 1.0 - keep_fraction - 1e-12) | (F.col("__n") == 1)
        )
        .drop("__pr", "__n")
    )


def chunk_fixed_tokens(
    df: DataFrame,
    text_col: str = "text",
    size: int = 128,
    overlap: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-token-window chunks with ``overlap``
    tokens of context carry-over — the context-window chunking step of a
    training/RAG pipeline. Output: (id, chunk_id, n_chunk_tokens,
    chunk_text), one row per chunk.

    Chunk i covers tokens [i*stride+1, i*stride+size] (stride =
    size-overlap, 1-indexed); n_chunks = ceil(max(n_tokens-overlap,1) /
    stride), so every token lands in >=1 chunk and a short doc yields
    exactly one. Empty-token docs yield no rows.

    Scale design: tokenization is staged once per row, chunk ids come from
    ``sequence``+``explode`` and the slice/join are array HOFs — all
    whole-stage codegen, zero shuffle, output size O(n_tokens/stride) per
    doc. No Python, no window function (chunking is per-row arithmetic,
    unlike pack_greedy's cross-row running sum)."""
    from ..functions.text import tokens

    if overlap >= size:
        raise ValueError(f"overlap={overlap} must be < size={size}")
    stride = size - overlap
    staged = df.select(
        id_col, tokens(F.col(text_col)).alias("__toks")
    ).withColumn("__n", F.size(F.col("__toks")))
    n_chunks = F.ceil(
        F.greatest(F.col("__n") - overlap, F.lit(1)) / F.lit(float(stride))
    )
    return (
        staged.filter(F.col("__n") > 0)
        .withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            id_col,
            "chunk_id",
            F.size(
                F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, size)
            ).alias("n_chunk_tokens"),
            F.concat_ws(
                " ",
                F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, size),
            ).alias("chunk_text"),
        )
    )


def pack_greedy(
    df: DataFrame,
    size_col: str,
    budget: int,
    stratum_col: str | None = None,
    order_col: str = "doc_id",
    bin_col: str = "pack_bin",
) -> DataFrame:
    """Assign rows to fixed-budget bins by running-sum order ("sequence
    packing" for context windows): bin = floor(prefix_sum_before / budget).

    One window per stratum — Spark executes it as a single range shuffle on
    (stratum, order). At 100 TB the stratum must bound partition size (pack
    per language/source/date, never one global stream); a document larger
    than ``budget`` still gets its own bin rather than being dropped.
    """
    parts = [stratum_col] if stratum_col else []
    w = (
        W.partitionBy(*parts)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prefix_before = F.sum(F.col(size_col)).over(w) - F.col(size_col)
    return df.withColumn(bin_col, F.floor(prefix_before / F.lit(budget)))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    id_col: str = "doc_id",
    keep_col: str | None = None,
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen by a DETERMINISTIC
    per-row hash — the per-domain cap of web-curation pipelines
    (RefinedWeb/C4 cap documents per registered domain so no single
    site dominates the corpus; same shape caps per-language, per-date
    or per-source quotas). Hash order makes the kept subset a stable
    pseudo-random sample: re-running on the same rows keeps the same
    rows, and inserting unrelated rows only displaces by hash order,
    never by input order.

    Plan shape at scale: one row_number window partitioned by
    ``group_col`` ordered by md5(id). Because the window function is a
    rank filtered by a constant, Spark rewrites it to WindowGroupLimit:
    each map task pre-trims its partition-local groups to ``n`` rows
    BEFORE the shuffle, so a hot domain with 10^9 rows ships ~n rows per
    map task, not the whole group — the skew a naive groupBy-collect
    cap would hit never materializes.

    Returns the kept rows with original columns (``keep_col=None``), or
    all rows with a boolean ``keep_col`` marking survivors.
    """
    if n < 1:
        raise ValueError(f"n={n} must be >= 1")
    h = F.md5(F.col(id_col).cast("string"))
    w = W.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    rk = F.row_number().over(w)
    if keep_col is not None:
        return df.withColumn(keep_col, rk <= F.lit(int(n)))
    return (
        df.withColumn("__cap_rk", rk)
        .filter(F.col("__cap_rk") <= F.lit(int(n)))
        .drop("__cap_rk")
    )


def exact_group_percentiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | str,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    id_col: str | None = None,
) -> DataFrame:
    """EXACT nearest-rank percentiles per group — the length/score
    distribution report of a curation pipeline (sequence-length budgets,
    quality-score cut points) where ``percentile_approx``'s error bars
    are unacceptable and, unlike approx sketches, the result is
    reproducible bit-for-bit in any engine: the type-1 (nearest-rank)
    percentile is the value at sorted rank ceil(p*n), computed with
    INTEGER arithmetic (p as an exact fraction; ``ceil(num*n/den)`` =
    ``(num*n + den - 1) div den``) so there is no floating-point
    boundary to disagree on.

    Plan shape at scale: ONE window sort per group partition (rank +
    count ride the same partitioning) and a per-group conditional
    aggregate — a single shuffle by the group key. Groups must fit a
    partition's sort (percentiles of a 10^12-row single group want a
    sketch instead; per-language/per-source groups are fine). Returns
    one row per group: (group_cols..., n, p<pct> per requested
    percentile), e.g. p50, p90, p99.
    """
    from fractions import Fraction

    if isinstance(group_cols, str):
        group_cols = [group_cols]
    if not percentiles:
        raise ValueError("percentiles must be non-empty")
    fracs = []
    for p in percentiles:
        if not 0 < p <= 1:
            raise ValueError(f"percentile {p} must be in (0, 1]")
        fr = Fraction(str(p))
        label = ("p%g" % (p * 100)).replace(".", "_")
        fracs.append((label, fr.numerator, fr.denominator))
    order = [F.col(value_col).asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    wp = W.partitionBy(*group_cols)
    rk = F.row_number().over(wp.orderBy(*order))
    cnt = F.count(F.lit(1)).over(wp)
    staged = df.select(
        *group_cols,
        F.col(value_col).alias("__v"),
        rk.alias("__rk"),
        cnt.alias("__n"),
    )
    aggs = [F.max("__n").alias("n")]
    for label, num, den in fracs:
        target = F.expr(f"(__n * {num} + {den - 1}) div {den}")
        aggs.append(
            F.max(F.when(F.col("__rk") == target, F.col("__v"))).alias(label)
        )
    return staged.groupBy(*group_cols).agg(*aggs)


def borda_topk(
    df: DataFrame,
    signal_cols: list[str],
    k: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-signal rank fusion (Borda count): rank the corpus by each
    quality signal independently (DESCENDING — higher is better;
    competition/min ranking for ties) and keep the ``k`` documents with
    the best AVERAGE rank. The standard way to blend incommensurable
    quality signals (length, entropy, classifier score, ...) without
    inventing a weighting: rank space is scale-free, and rank fusion is
    robust to one signal's outliers.

    Scale shape — no corpus-sized global window: the competition rank
    of a row equals (count of rows with a strictly greater value) + 1,
    computed from the per-VALUE count table (bounded by the signal's
    cardinality, not the corpus): one groupBy per signal, a cumulative
    window over the distinct-value table, and a broadcast-sized join
    back. A naive ``rank() OVER (ORDER BY sig)`` would funnel the whole
    corpus through one partition; the oracle uses exactly that RANK()
    (identical semantics by definition of competition ranking), so the
    gate also proves the decomposition correct. Final top-k is a
    TakeOrdered on (fused, id) — never a full sort.

    Returns (id_col, rank_<sig>... , borda) with borda = mean rank,
    the k best (ties broken by ascending id)."""
    if not signal_cols:
        raise ValueError("signal_cols must be non-empty")
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    out = df.select(id_col, *signal_cols)
    rank_cols = []
    for c in signal_cols:
        vals = df.groupBy(c).agg(F.count(F.lit(1)).alias("__c"))
        w = W.orderBy(F.desc(c)).rowsBetween(W.unboundedPreceding, W.currentRow)
        ranks = vals.select(
            c,
            (F.sum("__c").over(w) - F.col("__c") + F.lit(1)).alias(f"rank_{c}"),
        )
        out = out.join(F.broadcast(ranks), c)
        rank_cols.append(f"rank_{c}")
    fused = sum((F.col(rc) for rc in rank_cols), F.lit(0)) / F.lit(
        float(len(rank_cols))
    )
    return (
        out.select(id_col, *rank_cols, fused.alias("borda"))
        .orderBy(F.asc("borda"), F.asc(id_col))
        .limit(int(k))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
    seed: int = 42,
    keep_col: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows (per group if
    ``group_cols``), via the Efraimidis-Spirakis A-ES scheme with a
    DETERMINISTIC hash-derived uniform: each row draws

        u   = (h48 + 1) / 2^48,  h48 = first 12 hex nibbles of
                                       md5(seed || ':' || id)
        key = ln(u) / w

    and the k LARGEST keys win — provably equivalent to sequential
    weighted draws without replacement (Efraimidis & Spirakis 2006,
    via the u^(1/w) -> ln(u)/w monotone transform). Rows with NULL or
    non-positive weight are excluded (zero-weight rows are unsampleable
    by definition). Determinism makes the sample reproducible across
    runs, engines, and partitionings — the md5 arithmetic is
    SQL-expressible, so an oracle can re-derive the exact winner set.

    Plan shape at scale: one row_number window (partitioned by
    ``group_cols`` or a single constant) ordered by the key — the
    rank-filter-by-constant form Spark rewrites to WindowGroupLimit, so
    each map task pre-trims to k rows before the shuffle; the global
    (ungrouped) case ships ~k rows per task, never the corpus. No
    collects, no UDFs.

    Returns kept rows (``keep_col=None``) or all rows with a boolean
    ``keep_col``."""
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    h48 = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    u = (h48 + F.lit(1)).cast("double") / F.lit(float(2**48))
    eligible = F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    # ineligible rows get a NULL key (desc orders nulls last) so a
    # negative weight can never flip the sign and steal a top-k slot
    key = F.when(eligible, F.log(u) / F.col(weight_col).cast("double"))
    parts = (
        [F.col(c) for c in group_cols] if group_cols else [F.lit(0)]
    )
    w = W.partitionBy(*parts).orderBy(key.desc(), F.col(id_col).asc())
    rk = F.row_number().over(w)
    if keep_col is not None:
        return df.withColumn(keep_col, eligible & (rk <= F.lit(int(k))))
    return (
        df.filter(eligible)
        .withColumn("__ws_rk", rk)
        .filter(F.col("__ws_rk") <= F.lit(int(k)))
        .drop("__ws_rk")
    )


def _feature_bucket(col: Column, num_buckets: int, seed: int) -> Column:
    """Hashed-n-gram feature bucket: first 12 hex nibbles of
    md5(seed || ':' || feature) as a 48-bit int, mod num_buckets — the
    same SQL-expressible arithmetic the weighted-sample uniform uses."""
    h48 = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), col)), 1, 12),
        16,
        10,
    ).cast("long")
    return F.pmod(h48, F.lit(int(num_buckets)))


def _doc_feature_buckets(
    df: DataFrame, text_col: str, id_col: str, num_buckets: int, seed: int
) -> DataFrame:
    """(id, bucket) rows: one per unigram AND one per bigram occurrence
    (DSIR's hashed n-gram featurization, Xie et al. 2023 §3)."""
    from ..functions.text import tokens
    from .parallelism import fan_out

    # ONE tokenize + ONE explode (r14): the old two-branch union (explode
    # unigrams, explode bigrams, unionByName) re-ran the tokenizer per
    # branch — unigrams and bigrams now concatenate into a single array
    # before one Generate. Same rows (aggregation consumers downstream),
    # and the scan is fanned out so the per-token hashing parallelizes
    # on single-split inputs.
    toks = fan_out(df).select(
        F.col(id_col), tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__tk")
    )
    bigrams = F.when(
        F.size("__tk") >= 2,
        F.zip_with(
            F.slice("__tk", 1, F.size("__tk") - 1),
            F.slice("__tk", 2, F.size("__tk") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array())
    feats = toks.select(
        F.col(id_col),
        F.explode(F.concat(F.col("__tk"), bigrams)).alias("__f"),
    )
    return feats.select(
        F.col(id_col),
        _feature_bucket(F.col("__f"), num_buckets, seed).alias("__fb"),
    )


def dsir_logratio_weights(
    df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 10_000,
    seed: int = 42,
    out_col: str = "dsir_weight",
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance Resampling,
    Xie et al. 2023): per document,

        w(d) = Σ_f ln p_target(bucket(f)) - ln p_raw(bucket(f))

    over hashed unigram+bigram features, with add-one-smoothed bucket
    distributions fit on ``target_df`` (the domain you WANT more of) and
    ``df`` (the raw corpus) respectively. High weight = looks like the
    target. Feed the result to :func:`dsir_select` (Gumbel-top-k) for
    the resampling step, or threshold it directly.

    Scale design: both distributions are ``num_buckets``-sized aggregates
    (map-side combined explode + groupBy); the per-bucket log-ratio table
    BROADCASTS into the document feature stream, so the only
    corpus-sized shuffle is the final per-doc sum keyed by ``id_col``.
    Documents with no features get weight 0. No UDFs, no collects.
    NOTE: the pins below make this operator EAGER and their blocks are
    reclaimed by JVM GC once the result is unreferenced; loops should
    drain deterministically with
    ``operators.pinning.release_all_pins(spark)`` between calls (after
    fully consuming each result — released pins cannot recompute)."""
    from .pinning import pin

    # raw_feats feeds TWO consumers (the raw bucket distribution and the
    # final per-doc log-ratio sum) — pinned, or the corpus-wide
    # tokenize+hash explode re-runs per consumer (r14). Two ints per
    # feature occurrence; the target stream has one consumer and stays
    # lazy.
    raw_feats = pin(
        _doc_feature_buckets(df, text_col, id_col, num_buckets, seed)
    )
    tgt_feats = _doc_feature_buckets(
        target_df, text_col, id_col, num_buckets, seed
    )

    def _dist(feats, name):
        # B-sized bucket counts, consumed by the log-ratio select AND the
        # totals aggregate: pin, or the corpus-wide feature explode
        # re-runs per consumer (no subplan reuse in Spark)
        counts = pin(
            feats.groupBy("__fb").agg(F.count(F.lit(1)).alias("__c"))
        )
        total = counts.agg(F.sum("__c").alias("__t"))
        return counts.crossJoin(F.broadcast(total)).select(
            "__fb",
            F.log(
                (F.col("__c") + 1).cast("double")
                / (F.col("__t") + F.lit(int(num_buckets))).cast("double")
            ).alias(name),
        ), total

    tgt_lp, tgt_total = _dist(tgt_feats, "__lp_t")
    raw_lp, raw_total = _dist(raw_feats, "__lp_r")
    # unseen-bucket smoothing mass: ln(1 / (T + B)) per distribution
    unseen_t = tgt_total.select(
        F.log(
            F.lit(1.0) / (F.col("__t") + F.lit(int(num_buckets))).cast("double")
        ).alias("__u_t")
    )
    unseen_r = raw_total.select(
        F.log(
            F.lit(1.0) / (F.col("__t") + F.lit(int(num_buckets))).cast("double")
        ).alias("__u_r")
    )
    lr = (
        tgt_lp.join(raw_lp, "__fb", "full_outer")
        .crossJoin(F.broadcast(unseen_t))
        .crossJoin(F.broadcast(unseen_r))
        .select(
            "__fb",
            (
                F.coalesce(F.col("__lp_t"), F.col("__u_t"))
                - F.coalesce(F.col("__lp_r"), F.col("__u_r"))
            ).alias("__lr"),
        )
    )
    sums = (
        raw_feats.join(F.broadcast(lr), "__fb")
        .groupBy(id_col)
        .agg(F.sum("__lr").alias(out_col))
    )
    return df.select(id_col).join(sums, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(out_col), F.lit(0.0)).alias(out_col)
    )


def dsir_select(
    df: DataFrame,
    target_df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """DSIR's resampling step: Gumbel-top-k over the importance weights —
    key = w(d) + g(d) with deterministic Gumbel noise
    g = -ln(-ln u) from the md5-derived uniform (so selection is
    reproducible across runs and engines). Equivalent to sampling k docs
    without replacement with probability ∝ exp(w). Returns the selected
    (id_col, dsir_weight) rows; the top-k compiles to TakeOrdered."""
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    w = dsir_logratio_weights(
        df, target_df, text_col, id_col, num_buckets, seed
    )
    h48 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(f"gumbel{seed}"), F.col(id_col).cast("string")
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    u = (h48 + F.lit(1)).cast("double") / F.lit(float(2**48))
    key = F.col("dsir_weight") + -F.log(-F.log(u))
    return (
        w.withColumn("__gk", key)
        .orderBy(F.col("__gk").desc(), F.col(id_col).asc())
        .limit(int(k))
        .drop("__gk")
    )


def chunk_by_sentences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-boundary-aligned context-window chunking: split each
    document into sentences (functions/text.sentences — RE2-common
    boundary), then greedily pack CONSECUTIVE sentences into
    fixed-token-budget chunks per document — the RAG/pretraining chunker
    that never cuts mid-sentence (a sentence longer than the budget
    still gets its own chunk rather than being dropped). A pure
    composition: positional sentence explode + :func:`pack_greedy`
    strata'd by document, so the only shuffle is one window per doc
    ordered by sentence position. Returns (id_col, chunk_id, chunk_text,
    n_sentences, n_tokens)."""
    from ..functions.text import sentences, tokens

    if budget < 1:
        raise ValueError(f"budget={budget} must be >= 1")
    sent = df.select(
        F.col(id_col),
        F.posexplode(sentences(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "__pos", "__sent"
        ),
    ).withColumn("__ntok", F.size(tokens(F.col("__sent"))))
    packed = pack_greedy(
        sent, "__ntok", budget, stratum_col=id_col, order_col="__pos",
        bin_col="__chunk",
    )
    return (
        packed.groupBy(id_col, "__chunk")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__sent")))
                ).getField("__sent"),
                ". ",
            ).alias("chunk_text"),
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum("__ntok").alias("n_tokens"),
        )
        .withColumnRenamed("__chunk", "chunk_id")
    )


def sample_to_token_budget(
    df: DataFrame,
    budgets: dict,
    group_col: str = "source",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    keep_col: str | None = None,
) -> DataFrame:
    """Build a pretraining mix by PER-SOURCE TOKEN budgets: for each group,
    keep documents in deterministic md5(id) order until the group's
    cumulative token count reaches its budget — the "sample N billion
    tokens of web, M billion of code" step every LLM data recipe ends
    with. Budgets are counted in ``tokens_col`` units (precompute with
    ``functions.text.tokens`` size or a tokenizer pass).

    Keep rule: a document survives iff the cumulative tokens of all
    hash-earlier documents in its group is STRICTLY below the budget —
    so the document that crosses the line is included (budgets are
    floors of the "at least this many tokens" kind, the usual mix
    convention) and every later one is cut. Groups absent from
    ``budgets`` are dropped entirely; a budget of 0 drops the group.

    Determinism: same corpus -> same sample, and inserting unrelated
    documents displaces the selection only by hash order. Plan: one
    cumulative-sum window per group (single shuffle on group_col); the
    running sum is computed map-side per partition after the sort, and
    group cardinality bounds nothing — a group is one ordered pass.
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    for g, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {g!r} must be >= 0, got {b}")
    h = F.md5(F.col(id_col).cast("string"))
    w = (
        W.partitionBy(group_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    before = F.coalesce(
        F.sum(F.col(tokens_col)).over(w).cast("long"), F.lit(0)
    )
    budget = None
    for g, b in budgets.items():
        cond = F.lit(int(b))
        budget = (
            F.when(F.col(group_col) == F.lit(g), cond)
            if budget is None
            else budget.when(F.col(group_col) == F.lit(g), cond)
        )
    budget = budget.otherwise(F.lit(-1))
    keep = (budget >= 0) & (before < budget)
    if keep_col is not None:
        return df.withColumn(keep_col, keep)
    return (
        df.withColumn("__keep", keep).filter(F.col("__keep")).drop("__keep")
    )


def assign_shards(
    df: DataFrame,
    num_shards: int,
    id_col: str = "doc_id",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic shard assignment + within-shard order for a training
    export: every pretraining run shards the corpus into N files and needs
    the SAME well-mixed document order on every re-export (resume from
    step k, reproduce a loss curve, bisect a data bug). ``shard`` is the
    Knuth-fold hash bucket of the id (so sources/domains interleave
    rather than cluster), ``pos`` is the 0-based rank of md5(id) within
    the shard — two INDEPENDENT hashes, so within-shard order does not
    correlate with shard choice.

    Determinism: both columns are pure functions of the id — same corpus,
    same layout, any partitioning, any engine. Adding documents never
    reorders existing (shard, pos) pairs relative to each other.

    Plan: one row_number window per shard partition — a single shuffle on
    the shard key, which is uniform by construction (no skew); writers
    then ``repartition(shard).sortWithinPartitions(pos)`` for the export.
    """
    if num_shards < 1:
        raise ValueError(f"num_shards={num_shards} must be >= 1")
    shard = hash_bucket(F.col(id_col), num_shards)
    w = W.partitionBy(shard).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return df.withColumn(shard_col, shard.cast("int")).withColumn(
        pos_col, (F.row_number().over(w) - 1).cast("long")
    )


def normalize_scores_per_group(
    df: DataFrame,
    score_col: str,
    group_col: str,
    z_col: str = "z",
    pct_col: str = "pct",
) -> DataFrame:
    """Make quality scores comparable ACROSS sources before a global
    threshold: a classifier score of 0.7 means different things on web
    text and on code, so per-source calibration — the within-group
    z-score and the within-group percent rank — is the standard step
    between scoring and mix-wide filtering.

    z = (x - mean_g) / stddev_g (population stddev; NULL when the group
    is constant — a zero spread has no z), pct = (rank - 1) / (n - 1)
    (percent_rank, 0 for a 1-row group). Appends both columns.

    Plan: one aggregate per group broadcast back (means/stddevs are
    groups-sized) + one rank window per group partition — the window
    sort is the only corpus-sized work, a single shuffle keyed by the
    group.
    """
    from pyspark.sql import Window as W2

    stats = df.groupBy(group_col).agg(
        F.avg(score_col).alias("__mu"),
        F.stddev_pop(score_col).alias("__sd"),
    )
    w = W2.partitionBy(group_col).orderBy(F.asc(score_col))
    z = F.when(
        F.col("__sd") > 0, (F.col(score_col) - F.col("__mu")) / F.col("__sd")
    )
    return (
        df.join(F.broadcast(stats), group_col)
        .withColumn(z_col, z)
        .withColumn(pct_col, F.percent_rank().over(w))
        .drop("__mu", "__sd")
    )
