"""Training-data augmentation transforms.

Beyond-parity (BASELINE.json north star): deterministic corpus-level
noising for denoising-objective pretraining (T5 span corruption, UL2
denoisers). Everything is a pure DataFrame transform driven by md5 hashes
of (doc, position) — no RNG state, so the same corpus always yields the
same pairs (reshuffling partitions, re-running, or regenerating a lost
shard cannot change a single example), and an exact SQL twin exists for
the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text import tokens
from .parallelism import fan_out


def span_corrupt(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    corruption_rate: float = 0.15,
    mean_span: int = 3,
    sentinel: str = "<extra_id_{}>",
) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020 §3.1.4): mask ~15% of
    tokens in spans of mean length 3; the corrupted INPUT replaces each
    span with one sentinel token, the TARGET lists each sentinel followed
    by the tokens it hid, closed by a final sentinel. The denoising-
    objective data pipeline as a corpus operator.

    Determinism: a token at position p STARTS a span iff
    ``H(doc:p) % K == 0`` with ``K = round(mean_span / corruption_rate)``,
    and the span length is ``1 + H2(doc:p) % (2*mean_span - 1)`` (uniform,
    mean ``mean_span``) — both H values are md5 bits, so the masking is a
    pure function of (doc_id, position): re-running, repartitioning, or
    regenerating one lost shard reproduces identical pairs. Overlapping
    spans merge (the running coverage max), exactly one sentinel per
    merged span.

    Plan (r14): ZERO shuffle — the span length is bounded by
    ``2*mean_span - 1``, so coverage at position p depends only on the
    previous ``2*mean_span - 2`` positions, and the whole transform
    (start decisions, bounded-lookback coverage merge, sentinel
    numbering, both reassembled strings) runs as array higher-order
    functions over the token array in whole-stage codegen. Previously:
    one positional explode + three window passes + an ordered
    collect_list reassembly + a join back (two doc-keyed shuffles).
    Returns (id_col, input, target, n_tokens, n_masked, n_spans).
    """
    if not 0.0 < corruption_rate < 1.0:
        raise ValueError(f"corruption_rate must be in (0,1), got {corruption_rate}")
    if mean_span < 1:
        raise ValueError(f"mean_span must be >= 1, got {mean_span}")
    k_start = max(1, round(mean_span / corruption_rate))
    width = 2 * mean_span - 1
    sent_fmt = sentinel.replace("{}", "%d")

    # NULL text => empty token array => ("", bare closing sentinel, 0,
    # 0, 0), same as the old explode path (no rows -> left-join nulls ->
    # coalesced defaults)
    tk = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))

    def _h(pos, lo, hi):
        key = F.concat(
            F.col(id_col).cast("string"), F.lit(":"), pos.cast("string")
        )
        return F.conv(F.substring(F.md5(key), lo, hi - lo), 16, 10).cast("long")

    # per-position span-start decisions and lengths, each computed ONCE
    # into arrays (md5 of (doc:pos) per position); the later stages read
    # the arrays. Staged selects keep the multiply-referenced arrays out
    # of CollapseProject inlining (the minhash_signatures device).
    starts = F.transform(
        F.col("__tk"), lambda t, i: (_h(i, 1, 13) % F.lit(int(k_start))) == 0
    )
    lens = F.transform(
        F.col("__tk"),
        lambda t, i: (F.lit(1) + (_h(i, 13, 25) % F.lit(int(width)))).cast("int"),
    )

    def _covered(i):
        # masked(i) = EXISTS d in [0, width-1]: start(i-d) AND len(i-d) > d
        # — the bounded-lookback form of the running coverage max
        conds = None
        for d in range(int(width)):
            c = (
                (i - F.lit(d) >= 0)
                & F.coalesce(
                    F.element_at(F.col("__st"), (i - F.lit(d) + 1).cast("int")),
                    F.lit(False),
                )
                & (
                    F.coalesce(
                        F.element_at(
                            F.col("__ln"), (i - F.lit(d) + 1).cast("int")
                        ),
                        F.lit(0),
                    )
                    > F.lit(d)
                )
            )
            conds = c if conds is None else (conds | c)
        return conds

    masked = F.transform(F.col("__tk"), lambda t, i: _covered(i))
    new_span = F.transform(
        F.col("__tk"),
        lambda t, i: F.element_at(F.col("__mk"), (i + 1).cast("int"))
        & ~F.when(i > 0, F.element_at(F.col("__mk"), i.cast("int"))).otherwise(
            F.lit(False)
        ),
    )

    # Sentinel numbering is LINEAR (r15): span starts are marked with a
    # placeholder byte (\x01 — tokens are [a-z0-9]+ so it cannot occur in
    # text), the pieces are joined once, and the k-th placeholder becomes
    # sentinel k by splitting on it and re-joining with the index-numbered
    # sentinel. The previous form summed a slice of __ns at every span
    # start (an O(i) aggregate, evaluated twice — in_pieces and
    # tgt_pieces), making long documents O(n * n_spans); this is one
    # split + one indexed transform per output string.
    _PH = "\x01"

    def _number(joined):
        # split keeps trailing empties (limit -1), so a trailing
        # placeholder still yields its sentinel
        return F.concat_ws(
            "",
            F.transform(
                F.split(joined, _PH, -1),
                lambda s, j: F.when(j == 0, s).otherwise(
                    F.concat(F.format_string(sent_fmt, j - 1), s)
                ),
            ),
        )

    in_pieces = F.transform(
        F.col("__tk"),
        lambda t, i: F.when(
            ~F.element_at(F.col("__mk"), (i + 1).cast("int")), t
        ).when(F.element_at(F.col("__ns"), (i + 1).cast("int")), F.lit(_PH)),
    )
    tgt_pieces = F.transform(
        F.col("__tk"),
        lambda t, i: F.when(
            F.element_at(F.col("__ns"), (i + 1).cast("int")),
            F.concat(F.lit(_PH), F.lit(" "), t),
        ).when(F.element_at(F.col("__mk"), (i + 1).cast("int")), t),
    )
    n_spans = F.size(F.filter(F.col("__ns"), lambda x: x))
    closing = F.format_string(sent_fmt, n_spans)
    body = _number(F.concat_ws(" ", tgt_pieces))  # NULL pieces are skipped
    return (
        fan_out(df)
        .select(F.col(id_col), tk.alias("__tk"))
        .select(F.col(id_col), "__tk", starts.alias("__st"), lens.alias("__ln"))
        .select(F.col(id_col), "__tk", masked.alias("__mk"))
        .select(F.col(id_col), "__tk", "__mk", new_span.alias("__ns"))
        .select(
            F.col(id_col),
            _number(F.concat_ws(" ", in_pieces)).alias("input"),
            F.when(n_spans > 0, F.concat(body, F.lit(" "), closing))
            .otherwise(closing)
            .alias("target"),
            F.size("__tk").cast("long").alias("n_tokens"),
            F.size(F.filter(F.col("__mk"), lambda x: x))
            .cast("long")
            .alias("n_masked"),
            n_spans.cast("long").alias("n_spans"),
        )
    )


def prefix_lm_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_prefix: float = 0.25,
    max_prefix: float = 0.75,
) -> DataFrame:
    """Prefix-LM pairs (the UL2 S-denoiser / sequential denoising case):
    split each document's token stream at a DETERMINISTIC point drawn
    uniformly from ``[min_prefix, max_prefix]`` of its length — the
    prefix becomes the conditioning input, the suffix the target.

    The split fraction comes from md5 bits of the doc id alone, so the
    pair set is stable under re-runs and repartitioning (the
    ``span_corrupt`` discipline). Split point =
    ``1 + h % max(1, hi - lo + 1) + lo - 1`` clamped to ``[1, n-1]`` with
    ``lo = ceil(min_prefix*n)``, ``hi = floor(max_prefix*n)`` — documents
    with fewer than 2 tokens emit an empty target rather than an empty
    prefix (a conditioning input must be non-empty).

    Pure Column expressions over the token array (slice + array_join) —
    zero shuffle, zero Python; the scan stays in whole-stage codegen.
    Returns (id_col, input, target, n_tokens, split_at).
    """
    if not 0.0 < min_prefix <= max_prefix < 1.0:
        raise ValueError(
            f"need 0 < min_prefix <= max_prefix < 1, got {min_prefix}, {max_prefix}"
        )
    tk = tokens(F.col(text_col))
    n = F.size(tk)
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("long")
    lo = F.ceil(F.lit(float(min_prefix)) * n).cast("long")
    hi = F.floor(F.lit(float(max_prefix)) * n).cast("long")
    span = F.greatest(hi - lo + 1, F.lit(1))
    split = F.least(
        F.greatest(lo + (h % span), F.lit(1)), F.greatest(n - 1, F.lit(1))
    )
    split = F.when(n >= 2, split).otherwise(n.cast("long"))
    # NO fan_out (r15 interleaved A/B: nofan 0.649 vs fan 0.731 s median
    # at 32 cores, sf0.1): the per-row work is two slices + joins — too
    # light to repay the round-robin exchange, unlike span_corrupt /
    # mlm_mask (md5-per-position, measured 1.9-2.4x fan wins)
    return df.select(
        F.col(id_col),
        F.array_join(F.slice(tk, F.lit(1), split.cast("int")), " ").alias("input"),
        F.array_join(
            F.slice(tk, (split + 1).cast("int"), F.greatest(n.cast("long") - split, F.lit(0)).cast("int")),
            " ",
        ).alias("target"),
        n.alias("n_tokens"),
        split.alias("split_at"),
    )


def mlm_mask(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_rate: float = 0.15,
    mask_token: str = "[MASK]",
) -> DataFrame:
    """BERT-style masked-LM pairs (Devlin et al. 2019 §3.1): select
    ~``mask_rate`` of tokens; of the selected, 80% become ``mask_token``,
    10% are replaced by another token, 10% stay verbatim — the model must
    predict the ORIGINAL token at every selected position either way.

    Determinism (the ``span_corrupt`` discipline): selection is
    ``H1(doc:pos) % round(1/rate) == 0``; the 80/10/10 branch is
    ``H2 % 10`` (0-7 mask, 8 replace, 9 keep); the replacement token is
    the document's OWN token at position ``H2 % n`` — doc-local, so the
    transform needs no vocabulary broadcast and stays a pure function of
    (doc_id, position, doc content).

    Returns (id_col, input, labels, n_tokens, n_selected) where
    ``labels`` is the space-joined ``pos:original`` list for the selected
    positions (0-based). Every per-position decision is independent of
    the other positions (unlike ``span_corrupt`` there is no coverage
    merging), so the whole transform runs as array higher-order
    functions over the token array — ZERO shuffle, zero Python, no
    explode/reassembly, the scan stays in whole-stage codegen (r14;
    previously one positional explode + a doc-keyed collect_list
    reassembly + a join back).
    """
    if not 0.0 < mask_rate < 1.0:
        raise ValueError(f"mask_rate must be in (0,1), got {mask_rate}")
    k_sel = max(1, round(1.0 / mask_rate))
    # NULL text => empty token array => ("", "", 0, 0), same as the old
    # explode path (no rows -> left-join nulls -> coalesced defaults)
    tk = F.coalesce(
        tokens(F.col(text_col)), F.array().cast("array<string>")
    )

    def _h(pos, lo, hi):
        key = F.concat(
            F.col(id_col).cast("string"), F.lit(":"), pos.cast("string")
        )
        return F.conv(F.substring(F.md5(key), lo, hi - lo), 16, 10).cast("long")

    def _selected(pos):
        return (_h(pos, 1, 13) % F.lit(int(k_sel))) == 0

    def _out_tok(tok, pos, tkc):
        h2 = _h(pos, 13, 25)
        branch = h2 % 10
        replacement = F.element_at(tkc, (h2 % F.size(tkc) + 1).cast("int"))
        return (
            F.when(~_selected(pos), tok)
            .when(branch <= 7, F.lit(mask_token))
            .when(branch == 8, replacement)
            .otherwise(tok)
        )

    def _label(tok, pos):
        # NULL for unselected positions — concat_ws skips NULL array
        # elements, exactly like the old flatten-empty-array trick
        return F.when(
            _selected(pos),
            F.concat(pos.cast("string"), F.lit(":"), tok),
        )

    # one struct per position, computed in ONE transform pass (md5 of
    # (doc:pos) evaluated once per position via codegen subexpression
    # elimination within the lambda); the three output columns then read
    # the struct array — a multiply-referenced non-cheap alias, which
    # CollapseProject deliberately does not inline (same device as
    # minhash_signatures' staged projections)
    return fan_out(df).select(
        F.col(id_col),
        tk.alias("__tk"),
    ).select(
        F.col(id_col),
        F.col("__tk"),
        F.transform(
            F.col("__tk"),
            lambda tok, i: F.struct(
                _out_tok(tok, i, F.col("__tk")).alias("out"),
                _label(tok, i).alias("lbl"),
                _selected(i).alias("sel"),
            ),
        ).alias("__pieces"),
    ).select(
        F.col(id_col),
        F.concat_ws(
            " ", F.transform(F.col("__pieces"), lambda s: s["out"])
        ).alias("input"),
        F.concat_ws(
            " ", F.transform(F.col("__pieces"), lambda s: s["lbl"])
        ).alias("labels"),
        F.size("__tk").cast("long").alias("n_tokens"),
        F.size(
            F.filter(F.col("__pieces"), lambda s: s["sel"])
        ).cast("long").alias("n_selected"),
    )


def contrastive_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    num_buckets: int = 64,
) -> DataFrame:
    """Contrastive training triples for embedding models (the SimCSE /
    DPR in-corpus recipe): the ANCHOR is a document's first
    ``chunk_tokens`` tokens, the POSITIVE its next chunk (two views of
    the same document), and the NEGATIVE another document's positive
    chunk — chosen deterministically as the next document on the md5
    ring within a hash bucket, so every re-run and repartition yields
    the same triples.

    Only documents with more than ``chunk_tokens`` tokens qualify (the
    positive must be non-empty). The negative ring is bucketed
    (``num_buckets`` partitions of the md5 order, wrap-around inside
    each bucket): windows are bucket-sized, never corpus-sized, and a
    bucket with a single document yields no triple (its only candidate
    negative is itself). Hash-bucket negatives are "random" negatives —
    mine hard negatives with the ANN tier instead when semantic
    difficulty matters.

    Returns (id_col, anchor, positive, neg_id, negative). One
    bucket-keyed shuffle.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    tk = tokens(F.col(text_col))
    c = int(chunk_tokens)
    # NO fan_out (r15 interleaved A/B: nofan 0.561 vs fan 0.661 s median
    # at 32 cores, sf0.1): the pipeline shuffles immediately anyway (the
    # bucket window), so the exchange is pure added cost — the r14
    # keep/revert rule's "immediately shuffles" case
    staged = df.select(
        F.col(id_col),
        F.md5(F.col(id_col).cast("string")).alias("__h"),
        tk.alias("__tk"),
    ).filter(F.size("__tk") > c)
    staged = staged.select(
        id_col,
        "__h",
        (
            F.conv(F.substring("__h", 1, 12), 16, 10).cast("long")
            % F.lit(int(num_buckets))
        ).alias("__b"),
        F.array_join(F.slice("__tk", 1, c), " ").alias("anchor"),
        F.array_join(F.slice("__tk", c + 1, c), " ").alias("positive"),
    )
    w = W.partitionBy("__b").orderBy(F.asc("__h"), F.asc(id_col))
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    neg_id = F.coalesce(
        F.lead(F.col(id_col)).over(w), F.first(F.col(id_col)).over(wfull)
    )
    neg = F.coalesce(
        F.lead("positive").over(w), F.first("positive").over(wfull)
    )
    out = staged.select(
        id_col,
        "anchor",
        "positive",
        neg_id.alias("neg_id"),
        neg.alias("negative"),
    )
    return out.filter(F.col("neg_id") != F.col(id_col))


def render_chat(
    df: DataFrame,
    messages_col: str = "messages",
    id_col: str = "doc_id",
    mask_role: str = "assistant",
) -> DataFrame:
    """Render chat transcripts to training text WITH loss-mask spans —
    the SFT data-prep step: ``messages`` is an
    ``array<struct<role string, content string>>``; each turn renders as
    the ChatML-style block ``<|im_start|>{role}\\n{content}<|im_end|>\\n``
    and the turns concatenate in order. ``spans`` lists, for every turn
    whose role is ``mask_role``, the (start, length) of its CONTENT
    inside the rendered text — exactly the character ranges a trainer
    unmasks for the loss (everything else is context).

    All offsets are integer arithmetic over rendered-piece lengths
    (cumulative sum per transcript), so the output is engine-exact.
    NULL/empty transcripts render to '' with no spans.

    Plan: one positional explode + one cumulative window + one ordered
    reassembly — two transcript-keyed shuffles, no Python. Returns
    (id_col, text, spans, n_turns, n_masked_turns).
    """
    pre = F.lit("<|im_start|>")
    pieces = df.select(
        F.col(id_col),
        F.posexplode(F.coalesce(F.col(messages_col), F.array())).alias(
            "__i", "__m"
        ),
    ).select(
        id_col,
        "__i",
        F.col("__m.role").alias("__role"),
        F.coalesce(F.col("__m.content"), F.lit("")).alias("__content"),
    )
    rendered = F.concat(
        pre, F.col("__role"), F.lit("\n"), F.col("__content"), F.lit("<|im_end|>\n")
    )
    staged = pieces.select(
        id_col,
        "__i",
        "__role",
        "__content",
        rendered.alias("__r"),
        F.length(rendered).alias("__len"),
    )
    w = (
        W.partitionBy(id_col)
        .orderBy("__i")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("__len").over(w), F.lit(0)).cast("long")
    content_start = start + F.lit(12) + F.length("__role") + F.lit(1)
    marked = staged.select(
        id_col,
        "__i",
        "__r",
        (F.col("__role") == F.lit(mask_role)).alias("__mask"),
        F.struct(
            content_start.alias("start"),
            F.length("__content").cast("long").alias("length"),
        ).alias("__span"),
    )
    agg = marked.groupBy(id_col).agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__i"), F.col("__r").alias("r")))
                ),
                lambda s: s["r"],
            ),
        ).alias("text"),
        F.array_sort(
            F.collect_list(F.when(F.col("__mask"), F.col("__span")))
        ).alias("spans"),
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("__mask").cast("int")).cast("long").alias("n_masked_turns"),
    )
    empty_spans = F.array().cast("array<struct<start:bigint,length:bigint>>")
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .withColumn("spans", F.coalesce(F.col("spans"), empty_spans))
        .withColumn("n_turns", F.coalesce(F.col("n_turns"), F.lit(0)))
        .withColumn(
            "n_masked_turns", F.coalesce(F.col("n_masked_turns"), F.lit(0))
        )
    )
