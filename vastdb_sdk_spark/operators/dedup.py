"""Deduplication operators for large-scale training-data pipelines.

Beyond-parity (BASELINE.json north star): the reference has no dedup; these
are designed Spark-first for 100 TB corpora:

- **exact**: hash-groupBy on content digest — one shuffle on a uniformly
  distributed key (md5), no skew by construction.
- **MinHash + LSH**: shingle -> k md5-seeded min-hashes -> band keys ->
  self-join *per band bucket* so the candidate set is |bucket|^2, never
  |corpus|^2; exact Jaccard verification only on candidates.
- **SimHash**: 64-bit token-vote fingerprint, entirely in whole-stage
  codegen (no Python UDF), hamming distance via xor+popcount.
- **Embedding near-dup**: random-hyperplane LSH buckets then exact cosine
  within buckets (see operators/similarity.py for the primitives).

All functions are pure DataFrame -> DataFrame transforms: they compose with
any source (engine tables via ``Table.df()`` or raw ``spark.read``).
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles_from_tokens, tokens
from .parallelism import fan_out
from .pinning import pin
from .pinning import pin_scope as _pin_scope
from .pinning import release as _release

# ---------------------------------------------------------------------------
# exact


def _content_digest(cols: list[str]) -> Column:
    """md5 over the row's column values, NULL-safe: each value is length-
    prefixed and NULL gets its own marker, so ('x', NULL) and (NULL, 'x')
    — which concat_ws would both collapse to 'x' by silently SKIPPING
    nulls — digest differently, and no value string can forge another's
    boundary. Grouping by this digest equals SQL GROUP BY over the
    columns (NULLs equal within a column, positions distinct)."""
    parts = []
    for c in cols:
        s = F.col(c).cast("string")
        parts.append(
            F.coalesce(
                F.concat(F.length(s).cast("string"), F.lit(":"), s),
                F.lit("\x00"),
            )
        )
    return F.md5(F.concat_ws("\x1f", *parts))


def exact_duplicate_groups(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Group rows by content digest; returns one row per distinct content
    with ``n_copies``. Digest = NULL-safe md5 over the columns (uniform
    key -> no shuffle skew)."""
    return df.groupBy(
        _content_digest(cols or df.columns).alias("content_hash")
    ).agg(
        F.count(F.lit(1)).alias("n_copies"),
    )


def dedup_exact(
    df: DataFrame, cols: list[str] | None = None, order_col: str | None = None
) -> DataFrame:
    """Keep exactly one row per distinct content (the min of ``order_col``
    if given; rows whose order value is NULL sort last, so a group whose
    members are ALL null-ordered still keeps a real representative —
    bare min_by would skip every member and emit an all-NULL row).
    Implemented as a window-free groupBy+join-back-free min_by/struct
    trick: a single shuffle, no second pass over the data."""
    cols = cols or df.columns
    if order_col is None:
        # any representative: min over the struct of all columns
        agg = F.min_by(F.struct(*df.columns), F.struct(*df.columns))
    else:
        agg = F.min_by(
            F.struct(*df.columns),
            F.struct(
                F.col(order_col).isNull().alias("n"),
                F.col(order_col).alias("v"),
            ),
        )
    kept = df.groupBy(_content_digest(cols).alias("__h")).agg(agg.alias("__row"))
    return kept.select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])


# ---------------------------------------------------------------------------
# MinHash + LSH


# universal-hash family over a 31-bit prime: h_i(x) = (A_i*x + B_i) mod P.
# One md5 per shingle (the base), then num_hashes cheap affine permutations —
# 16x fewer md5 evaluations than seed-prefixed hashing at identical quality.
MINHASH_P = 2_147_483_647
def _mh_a(i: int) -> int:
    return 2 * i + 3
def _mh_b(i: int) -> int:
    return 7919 * i + 1


def minhash_base(col, hash_fn: str = "xxhash64") -> "F.Column":
    """Integer base hash of a shingle, reduced mod P.

    ``xxhash64`` (default) is the scale path: one native 64-bit hash per
    shingle, no string materialization. ``md5`` parses the first 12 hex
    chars to a 48-bit integer — slower, but DuckDB can reproduce the exact
    arithmetic, so the oracle-gated queries pin it."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(MINHASH_P))
    return F.pmod(F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long"), F.lit(MINHASH_P))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    mark_empty: bool = False,
) -> DataFrame:
    """Per-document MinHash signature: sig_i = min over shingles of
    (A_i * base(shingle) + B_i) mod P. The whole signature is computed in
    staged projections (no explode, no shuffle) and the base is hashed
    once per shingle regardless of num_hashes.

    ``mark_empty=True`` adds a ``__tkempty`` boolean column (True for
    token-empty or NULL text) computed from the ALREADY-materialized token
    array in the same staged projection. This is how the LSH pipelines
    exclude token-empty docs without a ``filter(size(tokens(..)))``:
    PushDownPredicates substitutes a filter's alias references back to the
    producing expression (verified on pyspark 4.1.2), so a pre-filter
    re-runs the regex tokenizer once per row on top of the signature
    pipeline's own evaluation — the r11 2x regression on this family."""
    extra = []
    if mark_empty:
        # coalesce: NULL text => size(NULL)=NULL => flag True, same drop
        # behavior the old size(tokens(..)) > 0 filter had for NULLs
        extra = [
            F.coalesce(F.size(F.col("__tk")) == 0, F.lit(True)).alias("__tkempty")
        ]
    toked = fan_out(df).select(id_col, tokens(F.col(text_col)).alias("__tk"))
    staged = toked.select(
        id_col, shingles_from_tokens(F.col("__tk"), shingle_k).alias("__sh"), *extra
    )
    passthru = ["__tkempty"] if mark_empty else []
    based = staged.select(
        id_col,
        F.transform(
            F.col("__sh"), lambda x: minhash_base(x, hash_fn)
        ).alias("__hb"),
        *passthru,
    )
    # The num_hashes permutation mins are built as ONE parsed SQL
    # expression (r15): the Column-API loop (num_hashes x
    # array_min(transform(...)) with a lambda each) cost ~1.3 s of py4j
    # round-trips PER CALL on the driver — measured 1.294 -> 0.297 s
    # construction for the 16-hash signature, identical values and plan.
    # Literals carry the L suffix so the arithmetic stays bigint exactly
    # like the F.lit int-times-long promotion did.
    sig = F.expr(
        "array("
        + ", ".join(
            f"array_min(transform(__hb, x -> pmod({_mh_a(i)}L * x"
            f" + {_mh_b(i)}L, {MINHASH_P}L)))"
            for i in range(num_hashes)
        )
        + ")"
    )
    return based.select(id_col, sig.alias("minhash_sig"), *passthru)


def _check_bands(num_hashes: int, num_bands: int) -> None:
    """num_bands must divide num_hashes: a band width flooring to 0 gives
    every document IDENTICAL band keys (a corpus-wide cross product), and
    a non-dividing split silently ignores the trailing signature rows,
    skewing the documented S-curve. Both fail loudly instead."""
    if not 1 <= int(num_bands) <= int(num_hashes):
        raise ValueError(
            f"num_bands={num_bands} must be in [1, num_hashes={num_hashes}]"
        )
    if int(num_hashes) % int(num_bands) != 0:
        raise ValueError(
            f"num_bands={num_bands} must divide num_hashes={num_hashes} "
            "(trailing signature rows would be silently ignored)"
        )


def lsh_band_keys(
    sig_df: DataFrame,
    num_bands: int,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    skip_col: str | None = None,
) -> DataFrame:
    """Explode signatures into (band_id, band_key) rows. Two docs share a
    band_key iff their signature rows in that band agree exactly. With
    ``xxhash64`` the band key is a LONG (8-byte shuffle key); the ``md5``
    variant keeps the oracle-reproducible 32-char hex key.

    ``skip_col`` names a boolean column of ``sig_df`` (see
    ``minhash_signatures(mark_empty=True)``): rows where it is True (or
    NULL) get a NULL band array, which ``explode`` drops — zero band rows,
    so they can never join. This exclusion path adds NO filter operator,
    hence nothing for PushDownPredicates to substitute back into a second
    tokenizer evaluation."""
    n = num_bands
    sig_str = F.transform(F.col("minhash_sig"), lambda x: x.cast("string"))

    def _band_key(b):
        joined = F.concat_ws(
            "|",
            b.cast("string"),
            F.concat_ws(
                "|",
                F.slice(
                    sig_str,
                    b * (F.size(F.col("minhash_sig")) / n).cast("int") + 1,
                    (F.size(F.col("minhash_sig")) / n).cast("int"),
                ),
            ),
        )
        return F.xxhash64(joined) if hash_fn == "xxhash64" else F.md5(joined)

    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda b: F.struct(b.alias("band_id"), _band_key(b).alias("band_key")),
    )
    if skip_col is not None:
        # when(cond) with no otherwise: False OR NULL cond => NULL array
        # => explode emits no rows for this document
        bands = F.when(~F.col(skip_col), bands)
    return sig_df.select(id_col, F.explode(bands).alias("b")).select(
        id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH. The self-join runs on
    (band_id, band_key) — the shuffle key is a hash, buckets are tiny for
    non-pathological corpora, and the quadratic blowup is bounded per bucket.
    At 100 TB this is THE standard scalable near-dup plan.

    ``max_bucket_size`` guards the degenerate corpus (thousands of
    byte-identical boilerplate docs land in ONE bucket -> |bucket|² pairs,
    the quadratic bomb no banding prevents): buckets larger than the cap
    are dropped from pair generation. Recall caveat by design — members of
    an oversized bucket are near-certain duplicates of each other, so at
    scale handle them with EXACT dedup first (dedup_exact removes
    byte-identical mass cheaply) and use the cap as the backstop; dropped
    buckets cost one extra window pass over the band rows.

    Token-empty documents (null/empty/punctuation-only text) are excluded
    from candidate generation: they all share the single degenerate
    shingle ``""``, so they'd form ONE quadratic bucket and verify as
    mutual duplicates at Jaccard 1.0 — '!!!' and '???' are not near-dups
    of each other. Byte-identical blank pages belong to EXACT dedup.
    The exclusion is the mark_empty/skip_col path (one tokenizer
    evaluation), NOT a filter — see minhash_signatures' docstring for the
    PushDownPredicates double-tokenize hazard a filter reintroduces."""
    _check_bands(num_hashes, num_bands)
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, hash_fn, mark_empty=True
    )
    # pinned before the self-join below: the signature pipeline
    # (tokenize + shingle + num_hashes permutations) is the expensive
    # part and Spark evaluates it once PER JOIN SIDE without this (r14).
    # The pinned frame is num_bands narrow rows per doc.
    # r15 adjudication of the cross-session "~1.4x regression" suspect
    # (VERDICT r14 #1): 4-arm interleaved A/B (pin/nopin x fan/nofan,
    # OPTIMIZATION_r15.md, two sessions) + an 8-round pin-vs-nopin
    # tie-break. fan_out is the load-bearing win (fan arms 2.0-2.5 s vs
    # nofan 2.8-4.3 s in-session); pin vs nopin is noise (1.884 vs
    # 1.941 s median over 8 interleaved rounds). Same-code sessions
    # spanned 1.29-2.47 canary-normalized on this query — the family's
    # documented 1.3-1.6x session drift (SCALING.md r8), not a code
    # regression. KEEP pin+fan.
    bands = pin(
        lsh_band_keys(sigs, num_bands, id_col, hash_fn, skip_col="__tkempty")
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window as W

        wb = W.partitionBy("band_id", "band_key")
        bands = (
            bands.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only. The corpus is
    first semi-joined down to documents that appear in a candidate pair, so
    shingle sets are computed for |candidates| documents, not |corpus| —
    at 100 TB candidates are a vanishing fraction and this is the difference
    between re-tokenizing the corpus twice and touching only suspects."""
    # no .distinct(): a left-semi join is set-semantics on the probe side
    # regardless of duplicate build-side keys, so deduplicating candidate
    # ids here would only add a shuffle + an AQE stage barrier
    cand_ids = pairs.select(F.col("id_a").alias(id_col)).union(
        pairs.select(F.col("id_b").alias(id_col))
    )
    # no broadcast HINT: on a degenerate corpus (no bucket cap) the
    # candidate-id frame is unbounded, and a forced broadcast dies on
    # driver memory instead of degrading to a shuffled semi-join; AQE
    # still broadcasts it whenever it is actually small
    suspects = df.join(cand_ids, id_col, "left_semi")
    sh = suspects.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__tk")
    ).select(
        F.col(id_col),
        F.array_distinct(shingles_from_tokens(F.col("__tk"), shingle_k)).alias("__sh"),
    )
    # ONE join + ONE groupBy instead of two joins against two aliases of
    # `sh`: Spark has no subplan reuse short of ReusedExchange, so the
    # aliased two-join shape evaluated the whole suspects->shingles subtree
    # twice and paid an extra AQE join round. Here each pair explodes into
    # its two member ids, joins the shingle frame once, and the pair is
    # reassembled by a single hash aggregate. A pair with an id absent
    # from `df` loses that side's row, its shingle slot stays NULL, the
    # Jaccard is NULL, and the >= threshold filter drops it — same outcome
    # as the old inner joins. NB: duplicate input pairs collapse to one
    # output row (the internal caller feeds distinct candidates).
    # CONTRACT: one text per id. If `df` carries duplicate ids, F.max
    # picks the lexicographically-largest shingle set for that id —
    # deterministic, but only one of the texts is verified (the old
    # two-join shape emitted a row per text combination); deduplicate
    # upstream if duplicate ids are possible.
    sides = pairs.select(
        "id_a",
        "id_b",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col),
    )
    grouped = (
        sides.join(sh, id_col)
        .groupBy("id_a", "id_b")
        .agg(
            F.max(
                F.when(F.col(id_col) == F.col("id_a"), F.col("__sh"))
            ).alias("sh_a"),
            F.max(
                F.when(F.col(id_col) == F.col("id_b"), F.col("__sh"))
            ).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter / F.greatest(union, F.lit(1))
    return grouped.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    threshold: float = 0.8,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard >= threshold.
    ``max_bucket_size`` passes through to :func:`lsh_candidate_pairs` (the
    degenerate-corpus quadratic-bomb guard).

    The candidate set is persisted before verification: it is tiny relative
    to the corpus and is consumed three times (two id projections + the
    verify join) — without the persist the whole signature pipeline would
    re-run per consumer. The cache outlives the call so repeated actions on
    the returned frame stay cheap, but total accumulation is BOUNDED: the
    module keeps at most ``_UNMANAGED_CACHE_CAP`` live candidate caches,
    evicting oldest-first (an evicted frame silently recomputes if still
    referenced). Loops wanting deterministic per-iteration cleanup should
    use :func:`minhash_dedup_pairs_managed`, which unpersists on exit
    (Table.dedup_near_rows and the streaming path do)."""
    verified, pairs = _minhash_pipeline(
        df, text_col, id_col, num_hashes, num_bands, threshold, shingle_k,
        hash_fn, max_bucket_size,
    )
    _register_unmanaged_cache(pairs)
    return verified


# Bounded lifetime for the unmanaged APIs' internal candidate caches: a
# long-lived session calling minhash_dedup_pairs / minhash_join per table
# would otherwise accumulate CacheManager entries until context GC (the
# r11 session-spread suspect). Oldest-first eviction; cap 4 keeps the
# common interactive pattern (re-running the same pipeline) fully cached.
_UNMANAGED_CACHE_CAP = 4
_unmanaged_caches: list[DataFrame] = []
_unmanaged_lock = threading.Lock()


def _register_unmanaged_cache(frame: DataFrame) -> None:
    """Track an unmanaged persist, evicting the oldest beyond the cap.

    A re-persist of a semantically identical plan REPLACES its entry
    instead of growing the list: CacheManager shares one cache entry across
    identical plans, so unpersisting the old reference later would also
    drop the new one's cache. Eviction only unpersists — a caller still
    holding an evicted frame recomputes on next use; slower, never wrong."""
    evicted: list[DataFrame] = []
    with _unmanaged_lock:
        replaced = False
        for i, old in enumerate(_unmanaged_caches):
            try:
                if old.sameSemantics(frame):
                    _unmanaged_caches[i] = frame
                    replaced = True
                    break
            except Exception:
                continue
        if not replaced:
            _unmanaged_caches.append(frame)
            evicted = _unmanaged_caches[:-_UNMANAGED_CACHE_CAP]
            del _unmanaged_caches[:-_UNMANAGED_CACHE_CAP]
    for old in evicted:
        try:
            old.unpersist()
        except Exception:
            pass  # session already stopped — nothing left to free


def _minhash_pipeline(
    df, text_col, id_col, num_hashes, num_bands, threshold, shingle_k,
    hash_fn, max_bucket_size,
):
    """Shared candidate-persist + verify body of the managed and unmanaged
    variants (one implementation, two cache lifecycles)."""
    pairs = lsh_candidate_pairs(
        df, text_col, id_col, num_hashes, num_bands, shingle_k, hash_fn,
        max_bucket_size,
    ).persist()
    return (
        jaccard_verify_pairs(df, pairs, text_col, id_col, threshold, shingle_k),
        pairs,
    )


@contextlib.contextmanager
def minhash_dedup_pairs_managed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    threshold: float = 0.8,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
):
    """:func:`minhash_dedup_pairs` with a bounded cache lifetime: yields
    the verified-pairs frame and unpersists the internal candidate cache on
    exit. Use in loops (per-table cleanup, batched corpora) where the
    unmanaged variant would accumulate CacheManager entries. Consume (or
    persist a derivative of) the yielded frame INSIDE the block — after
    exit the candidate cache is gone and any action replays the full
    signature pipeline (and the internal band pin is released — a
    post-exit action on the yielded frame fails rather than recompute)."""
    with _pin_scope():
        verified, pairs = _minhash_pipeline(
            df, text_col, id_col, num_hashes, num_bands, threshold, shingle_k,
            hash_fn, max_bucket_size,
        )
        try:
            yield verified
        finally:
            # blocking: the managed variant's contract is deterministic cache
            # accounting on exit — the default async unpersist leaves the
            # entry listed for a while on a busy session
            pairs.unpersist(blocking=True)


# ---------------------------------------------------------------------------
# SimHash


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash: per token, hash bits vote +1/-1 per bit position; the
    fingerprint takes the sign of each vote sum (bit j of the fingerprint is
    set iff ones_j*2 > n_tokens — same sign test, counted over ones).

    ``hash_fn="xxhash64"`` (default, scale path): one native 64-bit token
    hash, bits extracted by shift-and — no string hex parsing at all. Ones
    are still packed two 32-bit counters per long (32 aggregate buffers).
    ``hash_fn="md5"`` keeps the DuckDB-reproducible fingerprints the oracle
    gate checks; its first 16 hex chars become two conv()'d 32-bit halves
    and bits are shift-extracted exactly like the xxhash64 path.

    Votes are packed: two 32-bit one-counters share each long accumulator
    (long k counts fingerprint bits 2k and 2k+1), so the aggregate buffer
    is 32 longs + count instead of 64. Exact same fingerprints as an
    unpacked formulation (counters can't overflow below 2^32 tokens/doc);
    the only shuffle is the per-id partial/final aggregation (map-side
    combined). Measured history, sf0.1: packed beat unpacked 64-sum by
    ~40%; conv()+shift beat a 16-nibble instr()+LUT projection by another
    25%; an explode-free array-aggregate variant was 5x slower (per-token
    array allocation never beats codegen'd accumulators)."""
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__tk"))
    if hash_fn == "xxhash64":
        toks = staged.select(
            F.col(id_col), F.explode(F.col("__tk")).alias("__t")
        ).select(F.col(id_col), F.xxhash64("__t").alias("__h"))
        # packed ones-counters: long k holds bit 2k (low 32) and bit 2k+1
        # (high 32); bit j here means hash bit j counted from the MSB so
        # fingerprint bit ordering matches the md5 path's convention
        aggs = []
        for k in range(32):
            j0, j1 = 63 - 2 * k, 63 - (2 * k + 1)
            packed = F.expr(
                f"(shiftright(__h, {j0}) & 1) | shiftleft(shiftright(__h, {j1}) & 1, 32)"
            )
            aggs.append(F.sum(packed).alias(f"p{k}"))
        votes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *aggs)
        return votes.select(F.col(id_col), _fp_from_packed().alias("simhash"))

    # md5 path, conv-based: the first 16 hex chars split into two 32-bit
    # halves via conv(hex, 16, 10); fingerprint bit j (MSB-numbered) is
    # shift-extracted and two bits pack per long accumulator, same packing
    # as the xxhash64 path. Measured 25% faster than the previous
    # nibble-LUT formulation at sf0.1 (two conv calls replace 16 instr()
    # string scans per token); vote counts verified bit-identical.
    toks = staged.select(F.col(id_col), F.explode(F.col("__tk")).alias("__t")).select(
        F.col(id_col), F.substring(F.md5("__t"), 1, 16).alias("__h")
    )
    halves = toks.select(
        F.col(id_col),
        F.conv(F.substring("__h", 1, 8), 16, 10).cast("long").alias("__v1"),
        F.conv(F.substring("__h", 9, 8), 16, 10).cast("long").alias("__v0"),
    )

    def _bit(j: int) -> str:
        src = "__v1" if j < 32 else "__v0"
        return f"(shiftright({src}, {31 - (j % 32)}) & 1)"

    aggs = [
        F.sum(
            F.expr(f"{_bit(2 * k)} | shiftleft({_bit(2 * k + 1)}, 32)")
        ).alias(f"p{k}")
        for k in range(32)
    ]
    votes = halves.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *aggs)
    return votes.select(F.col(id_col), _fp_from_packed().alias("simhash"))


def _fp_from_packed():
    """Fingerprint column from the 32 packed ones-counters ``p0..p31`` +
    token count ``__n`` (both simhash paths produce this exact shape).

    Built with higher-order array ops — transform to per-counter 2-bit
    nibbles, base-4 aggregate per 32-bit half, one shift+or — instead of
    the previous 64-term nested ``bitwiseOR`` chain. The assembly runs
    post-aggregation (one row per document), so execution cost is
    irrelevant either way; what the chain cost was DRIVER-SIDE Catalyst
    planning: ~600 expression nodes re-optimized on every action, ~1.3 s
    per query at any data size (measured via queryExecution().executedPlan
    timing, sf0.1). The flat tree is ~40 nodes. Bit-for-bit identical
    output: nibble k is 2*bit(63-2k)+bit(62-2k), the base-4 fold over
    k=0..15 places nibble 0 at bits 31..30 of the high half (so bits
    63..62 after the shift), and the fold maximum 4^16-1 < 2^63 never
    trips ANSI overflow. Low/high counter halves can't bleed into each
    other below 2^32 tokens per document — same bound the packed
    aggregation itself already carries."""
    arr = F.array(*[F.col(f"p{k}") for k in range(32)])
    nibbles = F.transform(
        arr,
        lambda p: (
            F.when(
                p.bitwiseAND(F.lit(0xFFFFFFFF)) * 2 > F.col("__n"), F.lit(2)
            ).otherwise(F.lit(0))
            + F.when(
                F.shiftright(p, 32) * 2 > F.col("__n"), F.lit(1)
            ).otherwise(F.lit(0))
        ).cast("long"),
    )

    def _half(start: int):
        return F.aggregate(
            F.slice(nibbles, start, 16),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 4 + x,
        )

    return F.shiftleft(_half(1), 32).bitwiseOR(_half(17))


def simhash_near_pairs(
    fp_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs among SimHash fingerprints. Uses the pigeonhole trick:
    split 64 bits into (max_hamming+1) blocks — any pair within the hamming
    budget agrees exactly on >=1 block, so the self-join key is a block
    value, never a cross product."""
    nblocks = max_hamming + 1
    width = 64 // nblocks
    # width=64 (max_hamming=0): (1<<64)-1 overflows a long literal; the
    # all-ones mask is -1 in two's complement
    mask = -1 if width == 64 else (1 << width) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("block_val"),
            )
            for i in range(nblocks)
        ]
    )
    b = (
        fp_df.select(id_col, "simhash", F.explode(blocks).alias("blk"))
        .select(
            id_col,
            "simhash",
            F.col("blk.block_id").alias("block_id"),
            F.col("blk.block_val").alias("block_val"),
        )
    )
    # pinned before the self-join: fingerprinting (tokenize + hash +
    # per-bit aggregation, or a DCT over decoded images on the pHash
    # path) is the expensive part and would otherwise run once per
    # join side (r14). The pinned frame is 4 narrow rows per doc.
    b = pin(b)
    lhs = b.alias("a")
    rhs = b.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    return (
        lhs.join(
            rhs,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


_EXIT_TEMP_DIRS: list[str] = []
_EXIT_TEMP_DIRS_LOCK = threading.Lock()


def _remove_exit_temp_dirs() -> None:
    import shutil

    for path in _EXIT_TEMP_DIRS:
        shutil.rmtree(path, ignore_errors=True)


def _exit_temp_dir(prefix: str) -> str:
    """A fresh temp dir removed at process exit. One atexit handler covers
    every such dir, however many calls make one."""
    import atexit
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    with _EXIT_TEMP_DIRS_LOCK:
        if not _EXIT_TEMP_DIRS:
            atexit.register(_remove_exit_temp_dirs)
        _EXIT_TEMP_DIRS.append(path)
    return path


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    driver_max_pairs: int = 100_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every node
    that appears in ``pairs`` is labeled with its component's minimum id
    (``cluster_id``) — the canonical-representative step that turns
    pairwise dedup output (minhash_dedup_pairs / simhash_near_pairs /
    embedding_near_dup_pairs) into keep-one-per-cluster decisions.
    Singletons (docs in no pair) are absent; left-join the corpus and
    coalesce(cluster_id, doc_id) to default them.

    Algorithm: min-label propagation with pointer jumping (the classic
    Shiloach-Vishkin shortcutting step) from round 3 —
    every round each node takes the min of its own and its neighbors'
    labels (one equi-join + groupBy); from round 3 it also takes its
    label's label (lab <- lab(lab), one more equi-join), which halves
    chain lengths per round so convergence is O(log diameter): a
    1000-hop adversarial path needs ~10 rounds, while real near-dup
    graphs (copy cliques) finish in 2 plain rounds and never pay the
    jump join. Each round localCheckpoints the label frame: without it
    the iterated plan nests exponentially and analysis time dominates.
    Terminates when a round changes nothing.

    The convergence check is one tiny aggregate per round (count of
    changed labels) — the only driver-side values are that scalar count,
    never node data.

    Id columns must be integral (byte/short/int/long, or decimal of scale
    0 — the $row_id type on Elysium tables): labels are min-propagated as
    longs, and silently casting a string doc id would produce NULL — every
    row one component of nulls, i.e. dedup silently keeping all
    duplicates. Non-integral ids raise InvalidArgument instead; hash or
    dense-rank string ids to longs first."""
    from ..errors import InvalidArgument

    schema_by_name = {f.name: f.dataType for f in pairs.schema.fields}
    for c in (id_a, id_b):
        dt = schema_by_name.get(c)
        if dt is None:
            raise InvalidArgument(
                f"dup_clusters: pair column {c!r} not found in "
                f"{list(schema_by_name)}"
            )
        ok = dt.typeName() in ("byte", "short", "integer", "long") or (
            dt.typeName() == "decimal" and getattr(dt, "scale", 1) == 0
        )
        if not ok:
            raise InvalidArgument(
                f"dup_clusters: pair column {c!r} has non-integral type "
                f"{dt.simpleString()}; casting would NULL non-numeric ids and "
                "silently skip dedup — map ids to longs (hash/dense_rank) "
                "before clustering"
            )

    def _id_to_long(c: str) -> Column:
        dt = schema_by_name[c]
        if (
            dt.typeName() == "decimal"
            and getattr(dt, "precision", 39) > 18
        ):
            # wide decimals (DuckDB HUGEINT ids arrive as decimal(38,0))
            # can exceed long range, where a non-ANSI cast NULLs the id
            # and NULL nodes silently fall out of the propagation joins —
            # the keep-all-duplicates failure the string guard exists to
            # prevent. Range-check explicitly so both ANSI modes fail loud.
            # isNotNull first: between() is NULL for a NULL id and
            # assert_true throws on NULL conditions too, so without it a
            # NULL id would fail with the misleading range message.
            v = F.col(c)
            guard = F.assert_true(
                v.isNotNull()
                & v.between(
                    F.lit(-(2**63)).cast(dt), F.lit(2**63 - 1).cast(dt)
                ),
                F.lit(
                    f"dup_clusters: {c} id is NULL or exceeds long range"
                ),
            )
            return F.when(guard.isNull(), v.cast("long"))
        return F.col(c).cast("long")

    e = pairs.select(
        _id_to_long(id_a).alias("src"), _id_to_long(id_b).alias("dst")
    ).persist()
    # COST ROUTER (the sync_derived_rows pattern): the distributed
    # propagation has a large fixed intercept — localCheckpoint + a
    # convergence count per round, ~18 Spark jobs for a 2-round clique
    # graph (r14 measurement: 1.5 s for 25 pairs) — while a pair list
    # is usually tiny next to the corpus it came from. Up to
    # ``driver_max_pairs`` edges (default 100k ≈ 1.6 MB — the same
    # bounded-driver-collect class as vocab/centroid/manifest pulls),
    # union-find on the driver computes the identical min-label
    # components in microseconds; bigger graphs take the distributed
    # rounds below unchanged. The one count() materializes the persisted
    # edge frame either way, so neither route re-runs the (usually
    # expensive) pair-generation lineage.
    n_pairs = e.count()
    if n_pairs <= int(driver_max_pairs):
        try:
            tbl = e.toArrow()
            src_ids = tbl.column("src").to_pylist()
            dst_ids = tbl.column("dst").to_pylist()
        finally:
            e.unpersist()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(src_ids, dst_ids):
            # mirror the distributed semantics for NULL ids: a NULL side
            # joins nothing, so the non-null side stays its own label
            for x in (a, b):
                if x is not None and x not in parent:
                    parent[x] = x
            if a is None or b is None:
                continue
            ra, rb = find(a), find(b)
            if ra != rb:
                # attach the larger-id root under the smaller: roots stay
                # the component minimum, matching the propagation's labels
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        labels = [(n, find(n)) for n in parent]
        spark = pairs.sparkSession
        if len(labels) <= 1024:
            from ..localrel import local_df

            return local_df(spark, labels, "doc_id LONG, cluster_id LONG")
        # larger label sets go back file-backed (plan-size bounded).
        # The caller consumes the returned frame after we return, so the
        # file cannot be removed here; it is removed at process exit
        # instead — without it a long session leaks one temp dir per
        # large-graph call (VERDICT r14).
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        tmpdir = _exit_temp_dir("dupclusters_")
        path = os.path.join(tmpdir, "labels.parquet")
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array([x for x, _ in labels], _pa.int64()),
                    "cluster_id": _pa.array([y for _, y in labels], _pa.int64()),
                }
            ),
            path,
        )
        return spark.read.schema("doc_id LONG, cluster_id LONG").parquet(path)
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.persist()
    # per-round label frames are PINNED (tracked checkpoints, r15): each
    # round's result supersedes the previous one, whose blocks are
    # released as soon as the new frame is materialized — the loop owns
    # its lifecycle instead of leaking one checkpoint per round to GC
    # (only the FINAL round's frame outlives the loop; the session sweep
    # or GC reclaims it once the caller is done)
    labels = pin(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
    )
    cur_ckpt = labels
    converged = False
    for round_idx in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("lab").alias("nlab"))
        )
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.dst, "left"
        ).select(
            "node",
            F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias(
                "lab"
            ),
        )
        # pointer jumping (lab <- lab(lab)): halves chain lengths every
        # round, so a diameter-L path converges in O(log L) rounds instead
        # of O(L) — the long-chain adversary the plain propagation needed
        # large-star/small-star for. Safe: labels only ever decrease, and a
        # label's label is in the same component. Engaged from round 3
        # only: real near-dup graphs (copy cliques/stars) converge in 2
        # plain rounds, so the common case never pays the extra join.
        round_ckpt = None
        if round_idx >= 2:
            # materialize once: propagated feeds BOTH sides of the self-join
            # (same count-then-checkpoint discipline as below)
            propagated = pin(propagated)
            round_ckpt = propagated
            jumped = (
                propagated.alias("x")
                .join(
                    propagated.alias("y"),
                    F.col("x.lab") == F.col("y.node"),
                    "left",
                )
                .select(
                    F.col("x.node").alias("node"),
                    F.least(
                        F.col("x.lab"), F.coalesce(F.col("y.lab"), F.col("x.lab"))
                    ).alias("new_lab"),
                )
            )
        else:
            jumped = propagated.select("node", F.col("lab").alias("new_lab"))
        # checkpoint BEFORE the convergence count: the count then reads the
        # materialized round result instead of re-running the join pipeline
        # (count-then-checkpoint computed every round twice)
        new_labels = pin(
            jumped.join(labels.select("node", "lab"), "node")
            .select("node", "new_lab", "lab")
        )
        changed = new_labels.filter(F.col("new_lab") < F.col("lab")).count()
        # the previous round's label frame and this round's propagated
        # frame are fully consumed (new_labels is materialized): free
        # their blocks NOW instead of leaking them to GC
        _release(cur_ckpt)
        if round_ckpt is not None:
            _release(round_ckpt)
        cur_ckpt = new_labels
        labels = new_labels.select("node", F.col("new_lab").alias("lab"))
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    e.unpersist()
    if not converged:
        # returning partially-propagated labels would SILENTLY split
        # components — for dedup that means keeping multiple copies of the
        # same duplicate cluster; fail loudly instead
        raise RuntimeError(
            f"dup_clusters did not converge within max_iterations="
            f"{max_iterations} (needs ~log2(graph diameter) + 1 rounds); "
            "raise max_iterations."
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
    )


def dedup_keep_representative(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """One-call near-dup dedup: given any pair list (minhash_dedup_pairs /
    simhash_near_pairs / embedding_near_dup_pairs output), keep exactly one
    representative per duplicate CLUSTER — the minimum id — plus every
    singleton. Transitive closure via :func:`dup_clusters`, so a~b~c keeps
    only min(a,b,c) even when the (a,c) pair was never emitted.

    Plan: dup_clusters' propagation rounds + one broadcast-ish join of the
    (tiny) non-representative id set back onto the corpus as an anti-join —
    the corpus is scanned once."""
    clusters = dup_clusters(pairs, id_a="id_a", id_b="id_b")
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def keep_best_in_cluster(
    df: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keep-one dedup: given a corpus and a cluster
    assignment (:func:`dup_clusters` output — ``(doc_id, cluster_id)``
    for every CLUSTERED doc), keep the HIGHEST-``quality_col`` member of
    each duplicate cluster (ties broken by minimum id, so the choice is
    deterministic) plus every singleton. This is the production
    refinement of :func:`dedup_keep_representative`: min-id keep-one
    discards a high-quality original whenever a low-quality copy happens
    to carry a smaller id; real pipelines (RefinedWeb §3.3, Dolma) rank
    cluster members by a quality signal and keep the argmax.

    Plan: the cluster table is |pairs|-bounded (tiny next to the
    corpus); one inner join attaches quality to clustered docs, a
    per-cluster ``row_number`` window (partition = cluster_id — copy
    cliques are small, so no skew) picks the winner, and one left_anti
    of the loser id set against the corpus produces the survivors. The
    corpus is scanned once; nothing corpus-sized shuffles.

    Returns the surviving ``df`` rows (all original columns)."""
    from pyspark.sql import Window as W

    from ..errors import InvalidArgument

    if quality_col not in df.columns:
        raise InvalidArgument(
            f"keep_best_in_cluster: quality column {quality_col!r} not in "
            f"{df.columns}"
        )
    member_q = clusters.select("doc_id", "cluster_id").join(
        df.select(F.col(id_col).alias("doc_id"), F.col(quality_col).alias("__q")),
        "doc_id",
    )
    rank = F.row_number().over(
        W.partitionBy("cluster_id").orderBy(F.desc("__q"), F.asc("doc_id"))
    )
    losers = (
        member_q.withColumn("__r", rank)
        .filter(F.col("__r") > 1)
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer, Wilkerson, Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting"):
    hash every k-token gram, slide a w-gram window over the hash
    sequence, and select the RIGHTMOST MINIMAL hash of each window
    (deduplicating adjacent windows that select the same position).
    Guarantees: every shared substring of >= w+k-1 tokens produces at
    least one shared fingerprint, while storing only ~2/(w+1) of the
    gram hashes — the sub-sampling that makes exact-substring dedup
    indexes fit at corpus scale (passage_dup_stats keeps EVERY gram;
    winnowing keeps a guaranteed-recall sample, the dial between them
    is w).

    Cross-engine argmin trick: "minimal hash, ties to the RIGHT" is
    encoded as the plain string MIN of ``md5hex || '#' || zeropad(1e9 -
    pos)`` — md5 hex is fixed-width so the hash compares first, and the
    reversed zero-padded position makes the larger position win ties.
    One window MIN per document (partition = doc, order = gram
    position) is the whole selection: no UDF, no per-row Python, and
    the identical expression runs in DuckDB (the ``dd_winnow`` oracle).

    Same positional-explode discipline as passage_dup_stats (explode
    integer positions, build one gram per output row — pre-built gram
    arrays cost O(grams²) expression work under Generate). Documents
    shorter than k tokens contribute their whole stream as one gram;
    zero-token documents have no fingerprints.

    Returns (id_col, pos, fp): the selected gram position (0-based) and
    the 32-hex-char gram hash."""
    from pyspark.sql import Window as W

    if k < 2:
        raise ValueError(f"k must be >= 2 tokens, got {k}")
    if w < 1:
        raise ValueError(f"w must be >= 1 grams, got {w}")
    staged = fan_out(df).select(F.col(id_col), tokens(F.col(text_col)).alias("__tk"))
    nonempty = staged.filter(F.size(F.col("__tk")) > 0)
    npos = F.greatest(F.size(F.col("__tk")) - k, F.lit(0))
    pos = nonempty.select(
        id_col,
        "__tk",
        npos.alias("__npos"),
        F.explode(F.sequence(F.lit(0), npos)).alias("__p"),
    )
    gram = F.when(
        F.size(F.col("__tk")) < k, F.concat_ws(" ", F.col("__tk"))
    ).otherwise(F.concat_ws(" ", F.slice(F.col("__tk"), F.col("__p") + 1, k)))
    key = F.concat(
        F.md5(gram),
        F.lit("#"),
        F.lpad((F.lit(1_000_000_000) - F.col("__p")).cast("string"), 10, "0"),
    )
    keyed = pos.select(
        id_col, "__p", "__npos", key.alias("__key")
    )
    frame = (
        W.partitionBy(id_col).orderBy("__p").rowsBetween(W.currentRow, w - 1)
    )
    sel = keyed.select(
        id_col,
        "__p",
        "__npos",
        F.min("__key").over(frame).alias("__mk"),
    ).filter(F.col("__p") <= F.greatest(F.col("__npos") - (w - 1), F.lit(0)))
    return (
        sel.select(
            id_col,
            (
                F.lit(1_000_000_000)
                - F.split(F.col("__mk"), "#").getItem(1).cast("long")
            ).alias("pos"),
            F.split(F.col("__mk"), "#").getItem(0).alias("fp"),
        )
        .dropDuplicates([id_col, "pos"])
    )


# ---------------------------------------------------------------------------
# passage-level (exact-substring) duplication


def passage_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Cross-document EXACT-substring duplication signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": repeated
    >=k-token passages are the dominant contamination mode that document-
    level dedup misses — boilerplate, licenses, quoted spans). For every
    document: how many of its distinct k-token passages also occur in at
    least one OTHER document, as a count and a fraction.

    Plan (word-count shape end to end, no pairwise anything):
    tokenize -> explode k-gram START POSITIONS (a cheap integer
    sequence) -> build ONE gram per row post-explode (slice + concat_ws
    + md5: fixed 32-byte keys, the shuffles never carry passage text) ->
    per-doc distinct via groupBy(doc, hash) -> groupBy(gram_hash)
    counting documents (distinct first, so count(*) IS document
    frequency) -> equi-join back -> groupBy(doc). Three shuffles on
    uniformly distributed keys; no skew (md5 uniformizes even a
    corpus-dominating passage's KEY — its document LIST still
    concentrates, which the aggregation absorbs as a count, never
    materializing the list).

    The positional explode matters: Spark's Generate re-evaluates its
    child expression per OUTPUT row, so exploding a pre-built
    array<md5(gram)> costs O(grams-per-doc^2) expression work per
    document (measured 40x slower at 5k docs); exploding the integer
    positions keeps the per-output-row work O(one gram).

    Documents shorter than k tokens contribute their whole token stream
    as one "passage" (same short-row rule as shingles_from_tokens), so
    boilerplate stubs still participate. Documents with an EMPTY token
    stream (null text, "", punctuation-only) have no passages at all:
    they come back with n_passages = 0 and dup_passage_fraction 0.0 —
    NOT as mutual duplicates of one another via a shared empty gram,
    which would make filter_passage_dups destroy every blank page in a
    web corpus. Returns
    (id_col, n_passages, n_dup_passages, dup_passage_fraction)."""
    if k < 2:
        raise ValueError(f"k must be >= 2 tokens, got {k}")
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__tk"))
    nonempty = staged.filter(F.size(F.col("__tk")) > 0)
    npos = F.greatest(F.size(F.col("__tk")) - k, F.lit(0))
    pos = nonempty.select(
        id_col, "__tk", F.explode(F.sequence(F.lit(0), npos)).alias("__p")
    )
    gram = F.when(
        F.size(F.col("__tk")) < k, F.concat_ws(" ", F.col("__tk"))
    ).otherwise(
        F.concat_ws(" ", F.slice(F.col("__tk"), F.col("__p") + 1, k))
    )
    exploded = pos.select(id_col, F.md5(gram).alias("__gh")).dropDuplicates(
        [id_col, "__gh"]
    )
    docfreq = exploded.groupBy("__gh").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        exploded.join(docfreq, "__gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum((F.col("__df") >= 2).cast("long")).alias("n_dup_passages"),
        )
    )
    # re-attach empty-token docs (no passages, nothing duplicated)
    return (
        staged.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_passages"), F.lit(0)).alias("n_passages"),
            F.coalesce(F.col("n_dup_passages"), F.lit(0)).alias("n_dup_passages"),
            F.coalesce(
                F.col("n_dup_passages") / F.col("n_passages").cast("double"),
                F.lit(0.0),
            ).alias("dup_passage_fraction"),
        )
    )


def filter_passage_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_dup_fraction: float = 0.5,
) -> DataFrame:
    """Drop documents whose duplicated-passage fraction exceeds the
    threshold (the C4/Gopher-style use of the passage signal: kill
    boilerplate-dominated pages, keep lightly-quoting ones). One extra
    broadcast-free equi-join on the id column; original schema preserved."""
    stats = passage_dup_stats(df, text_col, id_col, k)
    keep = stats.filter(
        F.col("dup_passage_fraction") <= F.lit(float(max_dup_fraction))
    ).select(id_col)
    return df.join(keep, id_col, "left_semi")


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int | None = None,
    max_df_fraction: float | None = 0.2,
    prefix_filter: bool = True,
) -> DataFrame:
    """Lexical near-duplicate pairs by TF-IDF cosine over an INVERTED
    INDEX — the sparse-vector similarity join that catches
    reworded-but-same-vocabulary documents where shingle MinHash misses
    (shingles break under word reordering) and embedding cosine needs a
    model. Each document's distinct terms get weight
    tf * (ln((1+N)/(1+df)) + 1), the vector is L2-normalized, and the
    pairwise dot product is computed by joining the term-weight table
    with itself on term and summing u1*u2 per (a, b) pair — only pairs
    that SHARE a term are ever materialized.

    Two candidate bounds, both standard:

    - **df cut** (``max_df`` absolute, or ``max_df_fraction`` of N,
      default 20%): a term in f documents contributes f²/2 candidate
      rows, so ultra-common terms (stopwords — near-zero idf anyway)
      are dropped from the vectors before anything joins. At scale the
      ABSOLUTE cap is the one that bounds work: sum(df²) over kept
      terms is <= vocab·max_df², independent of corpus size, while a
      fractional cut lets every term's df (hence df²) grow with N.
      Weights and the normalizer are computed over the post-cut term
      space, so cosine stays a true cosine there.

    - **prefix filtering** (AllPairs/PPJoin — Bayardo, Ma, Srikant
      2007, "Scaling Up All Pairs Similarity Search"; relational form
      per Vernica, Carey, Li 2010): order every document's terms
      rarest-first by a GLOBAL (df, term) order and index only the
      minimal PREFIX whose remaining tail has L2 norm < threshold. For
      unit vectors, a pair whose shared terms all fall in one side's
      tail has cosine <= that tail's norm < threshold (Cauchy-Schwarz),
      and with a shared global order the globally-rarest shared term of
      any RESULT pair provably lies in BOTH prefixes — so the
      candidate join runs prefix-against-prefix only, then the FULL
      dot product is recomputed for the (far smaller) candidate set.
      LOSSLESS: the output is bit-for-bit the naive join's (the
      ``dd_tfidf_pairs`` gate proves this against a naive SQL oracle
      every round). The tail norm is sqrt(1 - cumsum(u²)) — one
      cumulative window per document, no second pass.

    Returns (a, b, cosine) with a < b, cosine >= threshold. Exact SQL
    twin: the ``dd_tfidf_pairs`` oracle in ``__spark_entry__.py``."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold={threshold} must be in (0, 1]")
    if max_df is None and max_df_fraction is None:
        raise ValueError("one of max_df / max_df_fraction is required")
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__t"),
    )
    tf = toks.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("__tf"))
    dfc = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    cut = F.col("__df") <= (
        F.lit(int(max_df))
        if max_df is not None
        else F.floor(F.col("__n") * F.lit(float(max_df_fraction)))
    )
    w = F.col("__tf").cast("double") * (
        F.log(
            (F.lit(1.0) + F.col("__n").cast("double"))
            / (F.lit(1.0) + F.col("__df").cast("double"))
        )
        + F.lit(1.0)
    )
    weighted = (
        tf.join(F.broadcast(dfc), "__t")
        .crossJoin(F.broadcast(n_docs))
        .filter(cut)
        .select("__id", "__t", "__df", w.alias("__w"))
    )
    norm = weighted.groupBy("__id").agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__norm")
    )
    # the unit-weight inverted index feeds FOUR consumers (the prefix
    # window and both sides of the candidate-verify dot product; plus
    # the no-prefix-filter self-join) — pinned, or the whole
    # tokenize -> tf -> df-join -> normalize chain re-runs per consumer
    # (r14: dd_tfidf_pairs' plan held 10 corpus scans / 38 exchanges)
    unit = pin(
        weighted.join(norm, "__id").select(
            "__id", "__t", "__df", (F.col("__w") / F.col("__norm")).alias("__u")
        )
    )
    left = unit.select(
        F.col("__t"), F.col("__id").alias("a"), F.col("__u").alias("__ua")
    )
    right = unit.select(
        F.col("__t"), F.col("__id").alias("b"), F.col("__u").alias("__ub")
    )
    if not prefix_filter:
        return (
            left.join(right, "__t")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum(F.col("__ua") * F.col("__ub")).alias("cosine"))
            .filter(F.col("cosine") >= F.lit(float(threshold)))
        )
    from pyspark.sql import Window as W

    # per-doc cumulative norm mass in the global rarest-first order; term
    # i is in the prefix iff the tail INCLUDING i still carries >=
    # threshold² of squared norm (1 - cumsum-before-i >= t²). The window
    # accumulates in frame order, so the prefix is one sort per doc.
    order = W.partitionBy("__id").orderBy(F.asc("__df"), F.asc("__t"))
    cum = F.sum(F.col("__u") * F.col("__u")).over(order)
    # prefix feeds both sides of the candidate join: pin it too (it is a
    # subset of the already-materialized unit rows plus one window pass)
    prefix = pin(
        unit.withColumn("__cum", cum).filter(
            F.lit(1.0) - (F.col("__cum") - F.col("__u") * F.col("__u"))
            >= F.lit(float(threshold)) ** 2
        )
    )
    cand = (
        prefix.select(F.col("__t"), F.col("__id").alias("a"))
        .join(prefix.select(F.col("__t"), F.col("__id").alias("b")), "__t")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # full dot product, candidates only: every term of a, matched to b's
    # weight for the same term — candidate-bounded, never sum(df²)
    return (
        cand.join(
            unit.select(
                F.col("__id").alias("a"), "__t", F.col("__u").alias("__ua")
            ),
            "a",
        )
        .join(
            unit.select(
                F.col("__id").alias("b"), "__t", F.col("__u").alias("__ub")
            ),
            ["b", "__t"],
        )
        .groupBy("a", "b")
        .agg(F.sum(F.col("__ua") * F.col("__ub")).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


# ---------------------------------------------------------------------------
# line-level corpus dedup (RefinedWeb / C4 boilerplate removal)


def line_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-frequency table of duplicated lines.

    Splits every document on ``\\n`` and counts, per distinct line, how many
    DISTINCT documents contain it. Lines that are blank after trimming never
    participate (they are formatting, not boilerplate). Returns
    ``(line_key, n_docs)`` for lines appearing in >= ``min_docs`` documents,
    where ``line_key`` is the md5 of the exact line content.

    Scale shape: one explode + one groupBy keyed by the md5 digest — a
    uniformly distributed shuffle key, so the navbar/cookie-banner line that
    appears in a billion documents is ONE group with a big count, not a hot
    shuffle partition of a billion rows (count_distinct partial-aggregates
    map-side on the (key, doc) pairs).
    """
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("__pos", "__line"),
    )
    return (
        lines.filter(F.trim(F.col("__line")) != "")
        .groupBy(F.md5(F.col("__line")).alias("line_key"))
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= F.lit(int(min_docs)))
    )


def remove_duplicate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    out_col: str = "text_clean",
) -> DataFrame:
    """RefinedWeb/C4-style line-level corpus dedup: drop every line that
    appears (byte-identical) in >= ``min_docs`` distinct documents — the
    navigation bars, cookie banners, and license footers that survive
    document-level dedup because each HOST document is unique.

    Semantics:
    - documents split on ``\\n`` exactly; line content is compared verbatim
      (no normalization — compose with ``normalize_text`` first if wanted);
    - blank (whitespace-only) lines are always kept: they are structure,
      and dropping them would reflow every paragraph;
    - surviving lines are reassembled in original order with ``\\n``;
    - a document whose every non-blank line was boilerplate comes back with
      the blank skeleton (possibly the empty string), never a NULL row.

    Returns the input frame plus ``out_col``, ``n_lines_kept`` and
    ``n_lines_dropped``.

    Plan: explode -> md5-keyed aggregate (the dup-line table is
    distinct-lines-sized, NOT corpus-sized) -> left_anti join back on the
    digest -> one groupBy(id) reassembly ordered by line position. Two
    shuffles total, both on uniform hash keys; nothing is ever collected.
    """
    dup = line_dup_stats(df, text_col, id_col, min_docs).select("line_key")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("__pos", "__line"),
    )
    kept = lines.join(
        dup, F.md5(F.col("__line")) == dup.line_key, "left_anti"
    )
    # array_sort on (pos, line) structs orders by the unique int pos; the
    # per-doc reassembly is one shuffle keyed by the document id.
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__line")))
                ),
                lambda s: s["__line"],
            ),
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    # coalesce like the out_col path: size(split(NULL)) is -1 (legacy) or
    # NULL (ANSI), either of which corrupts n_lines_dropped aggregates
    n_total = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1))
    return (
        df.join(reassembled, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
        .withColumn("n_lines_kept", F.coalesce(F.col("n_lines_kept"), F.lit(0)))
        .withColumn("n_lines_dropped", n_total - F.col("n_lines_kept"))
    )


# ---------------------------------------------------------------------------
# two-table MinHash fuzzy join (record linkage)


def _minhash_join_impl(
    left: DataFrame,
    right: DataFrame,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
):
    """Fuzzy JOIN between two tables on text similarity (record linkage /
    cross-corpus contamination): emit ``(left_id, right_id, jaccard)`` for
    every cross-table pair whose exact shingle-set Jaccard >= ``threshold``.

    This is the two-table generalization of ``minhash_dedup_pairs``: both
    sides get the SAME MinHash permutations and band split, candidates come
    from an equi-join on (band_id, band_key) ACROSS the tables — |bucket_L|
    x |bucket_R| per bucket, never |L| x |R| — and exact Jaccard is
    recomputed for candidates only. Recall follows the usual banded-LSH
    S-curve: a pair at Jaccard j survives with 1-(1-j^(h/b))^b; size
    num_hashes/num_bands for the threshold you care about.

    ``max_bucket_size`` caps PER-SIDE bucket membership (a boilerplate key
    present a million times on each side is a 10^12-pair bomb); oversized
    buckets are dropped from candidate generation, same contract as
    ``lsh_candidate_pairs``.
    """
    if threshold <= 0 or threshold > 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    _check_bands(num_hashes, num_bands)
    # token-empty rows excluded, same contract as lsh_candidate_pairs: they
    # share the degenerate "" shingle and would cross-join at Jaccard 1.0.
    # mark_empty/skip_col, not a filter — one tokenizer evaluation per side
    # (see minhash_signatures' docstring for the pushdown hazard).
    sig_l = minhash_signatures(
        left, left_text, left_id, num_hashes, shingle_k, hash_fn, mark_empty=True
    )
    sig_r = minhash_signatures(
        right, right_text, right_id, num_hashes, shingle_k, hash_fn, mark_empty=True
    )
    bands_l = lsh_band_keys(sig_l, num_bands, left_id, hash_fn, skip_col="__tkempty")
    bands_r = lsh_band_keys(sig_r, num_bands, right_id, hash_fn, skip_col="__tkempty")
    if max_bucket_size is not None:
        from pyspark.sql import Window as W

        wb = W.partitionBy("band_id", "band_key")
        bands_l = (
            bands_l.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
        bands_r = (
            bands_r.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    cand = (
        bands_l.alias("l")
        .join(
            bands_r.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key")),
        )
        .select(
            F.col(f"l.{left_id}").alias("left_id"),
            F.col(f"r.{right_id}").alias("right_id"),
        )
        .distinct()
        # three consumers below (two broadcast id-projections + the final
        # join): without the persist each re-runs BOTH tables' signature
        # + banding pipelines — the same contract minhash_dedup_pairs
        # documents; candidates are bucket-capped, tiny vs the corpora
        .persist()
    )
    # exact verify on candidates only; each side re-tokenizes just the
    # documents that appear in a candidate (left-semi prune). The id
    # projections are DEDUPLICATED and the join is AQE-decided, not a
    # forced broadcast: without the distinct the build side is O(candidate
    # pairs) — on a skewed corpus with no bucket cap (the default) one
    # boilerplate doc matching 10^6 partners would broadcast 10^6
    # duplicate rows and die on driver memory instead of degrading to a
    # shuffled semi-join. AQE still broadcasts whenever it is small.
    sh_l = (
        left.join(
            cand.select(F.col("left_id").alias(left_id)).distinct(),
            left_id,
            "left_semi",
        )
        .select(F.col(left_id), tokens(F.col(left_text)).alias("__tk"))
        .select(
            F.col(left_id).alias("left_id"),
            F.array_distinct(shingles_from_tokens(F.col("__tk"), shingle_k)).alias("__shl"),
        )
    )
    sh_r = (
        right.join(
            cand.select(F.col("right_id").alias(right_id)).distinct(),
            right_id,
            "left_semi",
        )
        .select(F.col(right_id), tokens(F.col(right_text)).alias("__tk"))
        .select(
            F.col(right_id).alias("right_id"),
            F.array_distinct(shingles_from_tokens(F.col("__tk"), shingle_k)).alias("__shr"),
        )
    )
    joined = cand.join(sh_l, "left_id").join(sh_r, "right_id")
    inter = F.size(F.array_intersect("__shl", "__shr"))
    union = F.size(F.array_union("__shl", "__shr"))
    jac = inter / F.greatest(union, F.lit(1))
    verified = joined.select(
        "left_id", "right_id", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= F.lit(float(threshold)))
    return verified, cand


def minhash_join(*args, **kwargs) -> DataFrame:
    """See :func:`_minhash_join_impl` for semantics. The internal candidate
    cache is tracked by the same bounded oldest-first registry as
    :func:`minhash_dedup_pairs` (cap ``_UNMANAGED_CACHE_CAP``); loops
    wanting deterministic per-iteration cleanup should use
    :func:`minhash_join_managed`, which unpersists on exit."""
    verified, cand = _minhash_join_impl(*args, **kwargs)
    _register_unmanaged_cache(cand)
    return verified


@contextlib.contextmanager
def minhash_join_managed(*args, **kwargs):
    """:func:`minhash_join` with a bounded cache lifetime: yields the
    verified-pairs frame and unpersists the internal candidate cache on
    exit — consume (or persist a derivative of) the yielded frame INSIDE
    the block."""
    verified, cand = _minhash_join_impl(*args, **kwargs)
    try:
        yield verified
    finally:
        cand.unpersist(blocking=True)
