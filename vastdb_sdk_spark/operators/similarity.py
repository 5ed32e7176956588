"""Similarity search over embedding columns (array<float>).

Beyond-parity (BASELINE.json north star). Two tiers:

- **brute-force top-k** — exact; one scan, one ``orderBy(dist).limit(k)``
  (Spark's TakeOrderedAndProject keeps only k rows per partition, so the
  shuffle is k*num_partitions rows, not the corpus). The baseline and the
  oracle-checkable path.
- **LSH-bucketed (random hyperplane)** — scale path: sign-of-dot-product
  signatures bucket the corpus; the query probes only its bucket (and
  optionally neighboring buckets via multi-probe). Deterministic
  hyperplanes from a seeded RNG so plans are reproducible.
- **IVF (k-means coarse quantizer)** — scale path for batch knn-join:
  assign vectors to nearest centroid (pyspark.ml KMeans), probe nprobe
  nearest centroids per query.

Distance math lives in functions/vector.py — all JVM-side expressions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..expr import quote_ident, sql_literal
from ..functions.vector import (
    cosine_similarity,
    distance_column,
    dot,
    dot_sql,
    norm,
    vec_sql,
)
from .pinning import pin


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    metric: str = "l2sq",
    id_col: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors of one query vector."""
    dist = distance_column(vec_col, query_vec, metric)
    out = df.withColumn("distance", dist)
    order = [F.col("distance").asc()]
    if id_col:
        order.append(F.col(id_col).asc())
    return out.orderBy(*order).limit(k)


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim))


#: rhp_signature_col builds one literal plane array per hyperplane, so the
#: generated expression tree is O(num_planes * dim) constants. 32 planes is a
#: hard cap: beyond it the signature no longer fits comfortably in a long's
#: sign-free bits AND the codegen'd constant pool grows past what the JVM
#: compiles efficiently (same failure mode the IVF probe had before it moved
#: to assign_probe_centroids). For wider signatures, band several 32-plane
#: signatures instead (embedding_near_dup_pairs ``num_bands``).
_MAX_RHP_PLANES = 32


def rhp_signature_col(vec_col: str, planes: np.ndarray):
    """Random-hyperplane signature as a long (bit i = sign(v . plane_i)).

    Bounded at ``_MAX_RHP_PLANES`` (=32) planes: the planes are embedded as
    literal expressions, so codegen size is O(num_planes * dim). That bound
    keeps whole-stage codegen healthy; need more bits -> use banding, not a
    wider signature."""
    if len(planes) > _MAX_RHP_PLANES:
        raise ValueError(
            f"rhp_signature_col supports at most {_MAX_RHP_PLANES} planes "
            f"(got {len(planes)}): planes are literal expressions and codegen "
            "size is O(num_planes * dim). Split into bands "
            "(embedding_near_dup_pairs num_bands) instead of widening."
        )
    # one parsed SQL expression: F.lit per plane element cost a few py4j
    # round trips each, O(num_planes * dim) per call
    v = quote_ident(vec_col)
    sig = "CAST(0 AS BIGINT)"
    for i, plane in enumerate(planes):
        d = dot_sql(v, vec_sql(plane))
        sig = f"({sig} | shiftleft(CAST(CASE WHEN {d} >= 0 THEN 1 ELSE 0 END AS BIGINT), {i}))"
    return F.expr(sig)


def build_rhp_index(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Attach an LSH bucket id to every row. Returns (indexed_df, planes).
    Persist/write the indexed_df once; queries then prune to one bucket."""
    if dim is None:
        probe = df.select(vec_col).head()
        if probe is None or probe[0] is None:
            raise ValueError(
                f"cannot infer embedding dim from an empty frame or null "
                f"{vec_col!r}; pass dim= explicitly"
            )
        dim = len(probe[0])
    planes = _hyperplanes(dim, num_planes, seed)
    return df.withColumn("lsh_bucket", rhp_signature_col(vec_col, planes)), planes


def rhp_topk(
    indexed_df: DataFrame,
    planes: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    metric: str = "cosine",
    multiprobe_hamming: int = 1,
    id_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket plus all buckets within
    ``multiprobe_hamming`` bit flips (recall/latency dial). The bucket filter
    is an isin() over at most sum_{i<=h} C(p,i) longs — partition-prunable if
    the index is written bucketed/partitioned by lsh_bucket."""
    import itertools

    q = np.asarray(query_vec, dtype=float)
    qsig = 0
    for i, plane in enumerate(planes):
        if float(q @ plane) >= 0:
            qsig |= 1 << i
    # every bucket within multiprobe_hamming bit flips, for ANY h — an
    # earlier hand-rolled version silently capped at h=2, so a caller
    # dialing recall up past that got the h=2 result with no warning
    buckets = {qsig}
    for h in range(1, int(multiprobe_hamming) + 1):
        for flips in itertools.combinations(range(len(planes)), h):
            sig = qsig
            for i in flips:
                sig ^= 1 << i
            buckets.add(sig)
    pruned = indexed_df.filter(F.col("lsh_bucket").isin(*[int(b) for b in buckets]))
    return brute_force_topk(pruned, query_vec, k, vec_col, metric, id_col)


def knn_join_cosine(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "id_a",
    right_id: str = "id_b",
    left_vec: str = "vec_a",
    right_vec: str = "vec_b",
    strategy: str = "auto",
    broadcast_row_limit: int = 500_000,
) -> DataFrame:
    """Exact k-NN join (every left row -> its k nearest right rows by
    cosine similarity).

    ``strategy``: ``'broadcast'`` cross-joins a broadcast right side +
    per-left-row window top-k — optimal while the right side fits an
    executor; ``'blocked'`` routes through
    :func:`knn_join_cosine_blocked` (distributed block-GEMM grid, same
    results and tie-breaks, pinned by test_knn_join_blocked_*) and joins
    the non-vector columns back on the ids — the shape that survives a
    right side the driver cannot broadcast. BOTH strategies select top-k
    by raw similarity and emit cos_sim 6-decimal-rounded, so auto-routing
    across the row-count boundary never changes the observable output
    format; ``'auto'`` (default) counts
    the right side once and routes by ``broadcast_row_limit``, so the
    same call keeps working from a laptop dim table to a corpus-scale
    right side. The blocked route requires UNIQUE ids on both sides (the
    join-back would otherwise fan out); broadcast has no such constraint.
    Use the IVF variant when approximate recall is acceptable."""
    from pyspark.sql import Window as W

    if strategy not in ("auto", "broadcast", "blocked"):
        raise ValueError(f"unknown strategy {strategy!r}")
    auto_routed = strategy == "auto"
    if auto_routed:
        strategy = (
            "broadcast"
            if right.count() <= int(broadcast_row_limit)
            else "blocked"
        )
    left_cols = [c for c in left.columns if c != left_vec]
    right_cols = [c for c in right.columns if c != right_vec]
    if strategy == "blocked":
        # the blocked route keys its grid and join-back on the ids:
        # duplicates would silently merge left groups and fan out the
        # join-back (>k rows per left id) — refuse loudly instead. The
        # broadcast route has no such constraint (pure row semantics).
        for side_df, idc, side in ((left, left_id, "left"), (right, right_id, "right")):
            chk = side_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(F.col(idc)).alias("d"),
            ).collect()[0]
            if chk.n != chk.d:
                routed = (
                    " strategy='auto' routed here because the right side "
                    f"exceeds broadcast_row_limit={int(broadcast_row_limit)};"
                    if auto_routed
                    else ""
                )
                raise ValueError(
                    f"knn_join_cosine strategy='blocked' requires unique "
                    f"{side} ids: {idc!r} has {chk.n} rows but only "
                    f"{chk.d} distinct values.{routed} deduplicate first, "
                    "or force strategy='broadcast' if the right side fits "
                    "an executor"
                )
        pairs = knn_join_cosine_blocked(
            left.select(left_id, left_vec),
            right.select(right_id, right_vec),
            k=k,
            left_id=left_id,
            right_id=right_id,
            left_vec=left_vec,
            right_vec=right_vec,
        )
        # alias-scoped join-backs: left and right may SHARE non-id column
        # names (both carrying 'text', say) — unqualified selection would
        # raise an ambiguous-column error here while the broadcast route
        # sailed through, breaking the same-output-for-auto contract
        out = pairs.alias("p")
        lref = rref = "p"
        if left_cols != [left_id]:
            out = out.join(
                left.drop(left_vec).alias("l"),
                F.col(f"p.{left_id}") == F.col(f"l.{left_id}"),
            )
            lref = "l"
        if right_cols != [right_id]:
            out = out.join(
                right.drop(right_vec).alias("r"),
                F.col(f"p.{right_id}") == F.col(f"r.{right_id}"),
            )
            rref = "r"
        return out.select(
            *[F.col(f"{lref}.{c}").alias(c) for c in left_cols],
            *[F.col(f"{rref}.{c}").alias(c) for c in right_cols],
            F.col("p.cos_sim").alias("cos_sim"),
        )
    # norms hoisted to the JOIN INPUTS (the Join node is a barrier no
    # projection collapse crosses): one O(d) fold per row instead of two
    # per (left x right) PAIR; dot/(nl*nr) is the identical expression
    # tree cosine_similarity builds, so values are bit-identical
    left_n = left.withColumn("__nl", norm(F.col(left_vec)))
    right_n = right.withColumn("__nr", norm(F.col(right_vec)))
    sim = dot(F.col(left_vec), F.col(right_vec)) / (
        F.col("__nl") * F.col("__nr")
    )
    joined = (
        left_n.crossJoin(F.broadcast(right_n))
        .withColumn("cos_sim", sim)
        .drop("__nl", "__nr")
    )
    w = W.partitionBy(left_id).orderBy(F.col("cos_sim").desc(), F.col(right_id).asc())
    # select by RAW similarity (like the blocked route) but emit cos_sim
    # 6-decimal-rounded like it too, so auto-routing across the row-count
    # boundary never changes the observable output format
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn", left_vec, right_vec)
        .withColumn("cos_sim", F.round("cos_sim", 6))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    seed: int = 42,
    num_bands: int = 1,
    dim: int | None = None,
    target_bucket_rows: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, LSH-bucketed: the
    self-join key is the bucket id, so comparisons are |bucket|^2 not
    |corpus|^2. High-cosine pairs almost surely share all hyperplane signs,
    so recall at 0.95+ is high; raise num_planes to shrink buckets.

    ``num_bands`` > 1 is the recall dial (MinHash-style banding on the
    hyperplane signature): the num_planes sign bits split into bands of
    planes_per_band bits and a pair becomes a candidate when ANY band
    matches — P(candidate) = 1 - (1 - s^r)^b for sign-agreement rate
    s = 1 - theta/pi. Still an equi-join (key = (band_id, band_bits)), the
    shuffle fans out num_bands rows per vector, candidates are exact-cosine
    verified, and duplicates from multi-band hits are dropped pre-verify
    with a distinct on the id pair — never a cross product.

    ``target_bucket_rows`` switches plane-count sizing to ADAPTIVE (and
    ignores ``num_planes``): planes_per_band = ceil(log2(n /
    target_bucket_rows)), so the expected bucket population — and with it
    the |bucket|^2 verify cost per bucket — stays ~constant as the corpus
    grows instead of verify work growing ~n^2/2^r at fixed bits. This is
    the 100 TB shape: total verify cost ~ n * target_bucket_rows. The
    trade is boundary recall: P(candidate) at the threshold falls as
    s^r shrinks with r ~ log2(n) — raise ``num_bands`` to compensate
    (near-1.0 duplicates are insensitive: they flip a sign bit only when
    a plane dot sits within epsilon of 0). ``n_rows`` passes a known
    corpus size to keep plan construction free of driver actions; None
    falls back to a count().

    Pass ``dim`` (embedding width) to keep plan construction free of driver
    actions; leaving it None falls back to a one-row ``head()`` probe."""
    if target_bucket_rows is not None:
        if target_bucket_rows < 1:
            raise ValueError(
                f"target_bucket_rows={target_bucket_rows} must be >= 1"
            )
        if not 1 <= int(num_bands) <= 62:
            raise ValueError(
                f"num_bands={num_bands} must be in [1, 62] with adaptive "
                "sizing (band bits must fit the LONG bucket key)"
            )
        n = int(n_rows) if n_rows is not None else df.count()
        import math

        r = max(1, math.ceil(math.log2(max(n, 2) / float(target_bucket_rows))))
        # 62-bit cap: band bits must fit the LONG bucket key (and past
        # that, buckets of a fixed corpus are singletons anyway); the
        # outer max(1, ..) keeps a large num_bands from flooring r to 0,
        # which would put EVERY row in one constant bucket
        r = max(1, min(r, 62 // int(num_bands)))
        num_planes = r * int(num_bands)
    indexed, _ = build_rhp_index(df, vec_col, num_planes, seed, dim=dim)
    if num_bands <= 1:
        # hoist the L2 norm to BEFORE the bucket join: cosine_similarity
        # inline would recompute both row norms PER CANDIDATE PAIR (3 O(d)
        # aggregates per pair); computed on the join inputs it runs once
        # per row — the Join node is a barrier no projection collapse can
        # cross — leaving one dot per pair. dot/(na*nb) is the identical
        # expression tree cosine_similarity builds: values bit-identical.
        # (The banded branch hoists its own norms on va/vb below.)
        # materialize the indexed frame ONCE before the self-join: Spark
        # re-evaluates the signature projection (planes x dim dots per
        # row) for EACH join side otherwise (r14; no subplan reuse)
        indexed = pin(indexed.withColumn("__nrm", norm(F.col(vec_col))))
        a = indexed.alias("a")
        b = indexed.alias("b")
        sim = dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / (
            F.col("a.__nrm") * F.col("b.__nrm")
        )
        return (
            a.join(
                b,
                (F.col("a.lsh_bucket") == F.col("b.lsh_bucket"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .withColumn("cos_sim", sim)
            .filter(F.col("cos_sim") >= threshold)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.round("cos_sim", 6).alias("cos_sim"),
            )
        )
    if num_planes % num_bands != 0:
        raise ValueError("num_bands must divide num_planes evenly")
    r = num_planes // num_bands
    mask = (1 << r) - 1
    # narrow (id, bucket) projection pinned before the banded self-join:
    # the signature computation runs once, and no vectors materialize —
    # the verify side below still reads them straight off the scan (the
    # r12 note on dd_embed_neardup measured that persisting the full
    # vector frame is SLOWER; this pin carries 16 bytes/row)
    sig = pin(indexed.select(id_col, "lsh_bucket"))
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.shiftright(F.col("lsh_bucket"), bi * r)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_bits"),
                    )
                    for bi in range(num_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band_id", "bk.band_bits")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # same norm hoist as the single-band branch: one norm per corpus row
    # (linear) instead of two per candidate pair
    va = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    ).withColumn("__na", norm(F.col("__va")))
    vb = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    ).withColumn("__nb", norm(F.col("__vb")))
    sim = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def _lloyd_kmeans(
    X: "np.ndarray", k: int, seed: int, iters: int = 25
) -> "np.ndarray":
    """Deterministic driver-side Lloyd's k-means over a training sample —
    the full-vector sibling of the per-subspace fit in
    :func:`_fit_pq_codebooks` (seeded init, stable argmin, dead clusters
    re-seeded from the largest cluster's farthest point)."""
    n = len(X)
    k = int(min(k, n))
    rng = np.random.default_rng(seed)
    C = X[np.sort(rng.choice(n, size=k, replace=False))].copy()
    for _ in range(iters):
        d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        assign = np.argmin(d2, axis=1)
        newC = C.copy()
        for c in range(k):
            mask = assign == c
            if mask.any():
                newC[c] = X[mask].mean(axis=0)
            else:
                big = np.bincount(assign, minlength=k).argmax()
                pts = X[assign == big]
                far = ((pts - newC[big]) ** 2).sum(axis=1).argmax()
                newC[c] = pts[far]
        if np.allclose(newC, C):
            return newC
        C = newC
    return C


def build_ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    num_centroids: int | None = 64,
    seed: int = 42,
    sample_fraction: float | None = None,
    sample_key: str | None = None,
    fit: str = "ml",
    train_rows: int = 20000,
    n_rows: int | None = None,
    twolevel_threshold: int = 4096,
) -> tuple[DataFrame, "np.ndarray"]:
    """IVF coarse quantizer: k-means centroids (pyspark.ml, distributed),
    every row tagged with its nearest centroid id. Write the result
    partitioned by centroid_id and queries touch nprobe/num_centroids of the
    data.

    ``num_centroids=None`` auto-sizes to ~sqrt(corpus rows) (clamped to
    [16, 65536]) — the standard IVF sizing that balances probe cost
    (nprobe/num_centroids of the corpus per query) against cluster size
    (rows/num_centroids comparisons inside each probed cluster). A FIXED
    centroid count lets clusters grow linearly with the corpus, which
    turns ivf_knn_join's per-cluster work quadratic at scale; auto-sizing
    keeps both sides O(sqrt(N)). Costs one count() at build time.

    ``fit="driver"`` replaces the pyspark.ml fit with a sampled
    DRIVER-side Lloyd fit (<= ``train_rows`` vectors, numpy) and a
    broadcast-GEMM assignment — same accuracy argument as the PQ
    codebook fit, minus ~5 s of fixed ML-pipeline overhead; clamps
    num_centroids to the training-sample size. Use it when fits are
    frequent or latency-sensitive (semantic_dup_pairs does).

    ``sample_fraction``: fit k-means on a sample instead of the full
    corpus — the 100 TB path. Centroid quality converges long before the
    corpus is exhausted (a few hundred points per centroid suffice), so
    fitting on ~0.1-1% cuts the training iterations' scan cost 100-1000x
    while the ASSIGNMENT still covers every row. With ``sample_key`` the
    sample is the deterministic hash_sample membership (reproducible
    across runs/engines); otherwise Spark's seeded Bernoulli sample."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if sample_key is not None and sample_fraction is None:
        raise ValueError(
            "sample_key given without sample_fraction — the fit would "
            "silently run over the FULL corpus; pass sample_fraction"
        )
    if num_centroids is None:
        if n_rows is None:
            n_rows = df.count()
        num_centroids = int(min(65536, max(16, round(n_rows ** 0.5))))
    fit_df = df
    if sample_fraction is not None:
        if not 0.0 < sample_fraction <= 1.0:
            raise ValueError(f"sample_fraction must be in (0, 1], got {sample_fraction}")
        if sample_key is not None:
            from .sampling import hash_sample

            fit_df = hash_sample(df, sample_key, sample_fraction)
        else:
            fit_df = df.sample(fraction=sample_fraction, seed=seed)
        n_fit = fit_df.count()
        if n_fit < num_centroids:
            raise ValueError(
                f"sampled fit set has {n_fit} rows < num_centroids="
                f"{num_centroids}; raise sample_fraction or lower "
                "num_centroids"
            )
    if fit == "driver":
        # sampled driver-side Lloyd fit + broadcast-GEMM assignment — the
        # same shape as the PQ codebook fit (FAISS practice: centroids
        # converge on a few hundred points per cluster, so fit cost is
        # O(train_rows) at any corpus size) and it skips pyspark.ml's
        # fixed per-fit overhead (~5 s of iteration jobs even on tiny
        # data). Assignment stays distributed (assign_probe_centroids).
        # k-means needs n >> k: a train sample smaller than the requested
        # centroid count silently degenerates to one-point 'centroids'
        # (k clamped to the sample size inside _lloyd_kmeans), which at
        # corpus scale quietly re-grows the per-cluster pair work the
        # auto-sizing exists to bound — scale the budget with k (4 points
        # per centroid minimum, the usual k-means training floor) instead
        n_fit_rows = (
            n_rows
            if n_rows is not None and sample_fraction is None
            # the sampled branch above already counted fit_df — reuse it
            # rather than re-scanning the (corpus-backed) sample filter
            else (n_fit if sample_fraction is not None else fit_df.count())
        )
        train_rows = max(int(train_rows), 4 * int(num_centroids))
        frac = min(1.0, (train_rows * 1.2) / max(n_fit_rows, 1))
        sample = fit_df.select(vec_col)
        if frac < 1.0:
            sample = sample.sample(fraction=frac, seed=seed)
        pdf = sample.limit(train_rows).toPandas()
        if len(pdf) == 0:
            raise ValueError("cannot fit k-means over an empty frame")
        train = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 0]]
        )
        centroids = _lloyd_kmeans(train, num_centroids, seed)
        return (
            assign_probe_centroids(
                df, centroids, vec_col, 1,
                twolevel_threshold=twolevel_threshold,
            ),
            centroids,
        )
    if fit != "ml":
        raise ValueError(f"fit must be 'ml' or 'driver', got {fit!r}")
    to_vec = lambda c: array_to_vector(F.col(c).cast("array<double>"))
    km = KMeans(
        k=num_centroids, seed=seed, featuresCol="__features",
        predictionCol="centroid_id",
    )
    model = km.fit(fit_df.withColumn("__features", to_vec(vec_col)))
    centroids = np.array([np.asarray(c) for c in model.clusterCenters()])
    assigned = model.transform(df.withColumn("__features", to_vec(vec_col)))
    return assigned.drop("__features"), centroids


def assign_probe_centroids(
    df: DataFrame,
    centroids: "np.ndarray",
    vec_col: str,
    nprobe: int = 1,
    out_col: str = "centroid_id",
    twolevel_threshold: int = 4096,
    coarse_probe: int = 8,
) -> DataFrame:
    """Attach each row's ``nprobe`` nearest centroid ids (by squared L2),
    emitting ``nprobe`` rows per input row with ``out_col: int``.

    Scale design: the centroid matrix rides a Spark *broadcast variable*
    (one copy per executor, NOT per task and NOT in the plan), and the
    distance matrix is computed per Arrow batch in numpy via
    ``mapInPandas`` — ``||x||^2 - 2 x.C^T + ||c||^2`` is one BLAS GEMM per
    batch. This replaces an earlier pure-expression formulation that
    embedded every centroid as literal constants: that was O(num_centroids
    * dim) *codegen size*, which blows the JVM 64KB-method / constant-pool
    limits near ~1k centroids regardless of data volume. The mapInPandas
    path is O(1) plan size, zero shuffle, and handles num_centroids in the
    tens of thousands (reference vector-index scale, vastdb/table.py:889-906).

    **Two-level assignment at large centroid counts** (FAISS IMI-style;
    the fix for the one remaining super-linear term in auto-sized
    SemDeDup): a flat assign is O(C·d) FLOPs per row, and with the
    auto-sizing C = N/4096 the corpus-wide build cost grows O(N·C·d) —
    ~1e18 FLOPs at the 65536-centroid clamp over 270M rows, hours of
    GEMM before any dedup work starts. When ``nprobe == 1`` and C >=
    ``twolevel_threshold``, the centroids are themselves k-means'd into
    ~sqrt(C) coarse groups (driver-side, centroid-table-sized); each row
    GEMMs against the coarse matrix, takes its ``coarse_probe`` nearest
    groups, and scans only THOSE groups' members — O((sqrt(C) +
    coarse_probe·C/sqrt(C))·d) per row, a ~28x FLOP cut at C = 65536
    with the default coarse_probe=8 (measured agreement with the flat
    assign: 95.5% even on UNclustered gaussian data, the worst case —
    k-means-fit corpora agree far more, and disagreements land rows in
    a neighboring near-equidistant cluster).
    The result is approximate at group boundaries (raise coarse_probe to
    tighten), but deterministic per vector regardless of partitioning —
    so bit-identical vectors (SemDeDup's planted/true duplicates) ALWAYS
    co-assign, and the within-cluster pair search loses nothing for
    exact duplicates. Probing paths (nprobe > 1, i.e. IVF search recall)
    always use the exact flat assign.

    Ties break toward the lower centroid id in both paths (stable
    argsort / explicit tie rule), matching the old expression path."""
    import pandas as pd

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    if nprobe > len(C):
        raise ValueError(f"nprobe={nprobe} exceeds num_centroids={len(C)}")
    if out_col in df.columns:
        raise ValueError(
            f"column {out_col!r} already exists; drop it before re-probing "
            "(e.g. df.drop(...)) or pass a different out_col"
        )
    from pyspark.sql.types import IntegerType, StructField, StructType

    sc = df.sparkSession.sparkContext
    # fresh StructType — StructType.add mutates in place, and df.schema is a
    # live reference to the DataFrame's cached schema object
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, IntegerType(), False)]
    )
    cols = [f.name for f in df.schema.fields]
    vpos = cols.index(vec_col)
    npb = int(nprobe)

    two_level = npb == 1 and len(C) >= int(twolevel_threshold)
    if two_level:
        # coarse quantizer over the CENTROIDS: centroid-table-sized work
        # on the driver, once; groups ship as member index arrays
        n_groups = max(2, int(round(len(C) ** 0.5)))
        coarse = _lloyd_kmeans(C, n_groups, seed=13)
        g_of = np.argmin(
            (coarse * coarse).sum(axis=1)[None, :] - 2.0 * (C @ coarse.T),
            axis=1,
        )
        groups = [
            np.nonzero(g_of == g)[0].astype(np.int64)
            for g in range(len(coarse))
        ]
        bc = sc.broadcast((C, coarse, groups))
    else:
        bc = sc.broadcast(C)
    w = max(1, int(coarse_probe))

    def probe_batches(batches):
        cent = bc.value
        c_sq = (cent * cent).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, vpos]]
            )
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; row term constant per
            # row so it can't change the argsort — skip it.
            d2 = c_sq[None, :] - 2.0 * (X @ cent.T)
            order = np.argsort(d2, axis=1, kind="stable")[:, :npb]
            rep = pdf.iloc[np.repeat(np.arange(len(pdf)), npb)].reset_index(drop=True)
            rep[out_col] = order.reshape(-1).astype("int32")
            yield rep

    def probe_batches_twolevel(batches):
        cent, coarse, groups = bc.value
        c_sq = (cent * cent).sum(axis=1)
        g_sq = (coarse * coarse).sum(axis=1)
        ww = min(w, len(coarse))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, vpos]]
            )
            gd = g_sq[None, :] - 2.0 * (X @ coarse.T)
            topg = np.argpartition(gd, ww - 1, axis=1)[:, :ww]
            best_d = np.full(len(X), np.inf)
            best_i = np.full(len(X), np.iinfo(np.int64).max)
            for g in np.unique(topg):
                m = groups[g]
                if m.size == 0:
                    continue
                rows = np.nonzero((topg == g).any(axis=1))[0]
                D = c_sq[m][None, :] - 2.0 * (X[rows] @ cent[m].T)
                loc = np.argmin(D, axis=1)  # first min = lowest member idx
                d = D[np.arange(len(rows)), loc]
                ids = m[loc]  # members ascending -> lowest id wins in-group
                better = d < best_d[rows]
                tie = (d == best_d[rows]) & (ids < best_i[rows])
                sel = better | tie
                ridx = rows[sel]
                best_d[ridx] = d[sel]
                best_i[ridx] = ids[sel]
            # a row whose probed coarse groups are ALL empty (possible
            # when k-means reseeding leaves dead coarse centroids) still
            # has best_i at the int64 sentinel — int32-casting that would
            # silently wrap to a garbage centroid id; fall back to the
            # exact flat assign for exactly those rows
            miss = np.nonzero(~np.isfinite(best_d))[0]
            if miss.size:
                D = c_sq[None, :] - 2.0 * (X[miss] @ cent.T)
                best_i[miss] = np.argmin(D, axis=1)
            rep = pdf.reset_index(drop=True)
            rep[out_col] = best_i.astype("int32")
            yield rep

    return df.mapInPandas(
        probe_batches_twolevel if two_level else probe_batches,
        schema=out_schema,
    )


def ivf_knn_join(
    left: DataFrame,
    right: DataFrame,
    centroids: "np.ndarray",
    k: int = 5,
    nprobe: int = 2,
    left_id: str = "id_a",
    right_id: str = "id_b",
    left_vec: str = "vec_a",
    right_vec: str = "vec_b",
    twolevel_threshold: int | None = None,
) -> DataFrame:
    """Approximate k-NN join for two LARGE sides (neither broadcastable):
    the right side must already carry ``centroid_id`` (build_ivf_index);
    each left row is assigned to its ``nprobe`` nearest centroids
    (assign_probe_centroids — broadcast numpy centroid matrix + Arrow-batched
    mapInPandas, O(1) plan size at any num_centroids), and the join is
    an equi-join on centroid_id — shuffle volume is O(rows * nprobe), never
    a cross product. Per-left-row top-k by cosine via window.

    This is a SEARCH path, so the left assignment stays the exact flat
    assign by default even at nprobe=1 with large centroid counts —
    otherwise probe recall would silently depend on the two-level
    approximation the BUILD path uses. Pass ``twolevel_threshold`` to
    opt in to the approximate assign when the probe-side FLOP cost
    matters more than boundary recall."""
    from pyspark.sql import Window as W

    lhs = assign_probe_centroids(
        left, centroids, left_vec, nprobe=nprobe,
        twolevel_threshold=(
            twolevel_threshold if twolevel_threshold is not None
            else (1 << 62)  # exact flat assign: search recall first
        ),
    )
    # same norm hoist as knn_join_cosine: one fold per row on each join
    # input (the right-side norm would otherwise be re-folded once per
    # matching LEFT row and vice versa); values bit-identical
    lhs = lhs.withColumn("__nl", norm(F.col(left_vec)))
    right = right.withColumn("__nr", norm(F.col(right_vec)))
    sim = dot(F.col(left_vec), F.col(right_vec)) / (
        F.col("__nl") * F.col("__nr")
    )
    joined = lhs.join(right, "centroid_id").withColumn("cos_sim", sim)
    w = W.partitionBy(left_id).orderBy(F.col("cos_sim").desc(), F.col(right_id).asc())
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(left_id, right_id, F.round("cos_sim", 6).alias("cos_sim"))
    )


def knn_join_cosine_blocked(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "id_a",
    right_id: str = "id_b",
    left_vec: str = "vec_a",
    right_vec: str = "vec_b",
    num_left_blocks: int = 8,
    num_right_blocks: int = 8,
    gemm_chunk: int = 1024,
) -> DataFrame:
    """EXACT k-NN join for two LARGE sides (neither broadcastable) — the
    distributed block-matrix path :func:`knn_join_cosine`'s docstring
    defers to. The O(|left| x |right|) comparison volume is inherent to
    exactness; what this operator fixes is HOW it executes: as a grid of
    L x R block cells, each a numpy GEMM inside one task, instead of a
    single broadcast that dies when the right side outgrows the driver.

    Plan: left rows replicate R times (one per right block), right rows
    L times; one shuffle co-locates cell (lb, rb); applyInPandas computes
    the cell's local top-k with chunked float64 GEMMs over unit-normalized
    rows (``gemm_chunk`` bounds the in-task score matrix to
    gemm_chunk x |right block|); a final window keeps the global top-k
    per left row from the R x k local candidates. Shuffle volume is
    R x |left| + L x |right| vectors — choose blocks so a cell's vectors
    fit one executor (~sqrt(cells) each side); int8-quantized vectors
    (quantize_embeddings_int8) cut that 4x.

    Ties break on ascending right id, matching knn_join_cosine. Use the
    IVF variant when approximate recall is acceptable — it replaces the
    grid's full comparison volume with O(rows x nprobe) probes."""
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    if num_left_blocks < 1 or num_right_blocks < 1:
        raise ValueError("block counts must be >= 1")
    lt = left.schema[left_id].dataType
    rt = right.schema[right_id].dataType
    out_schema = T.StructType(
        [
            T.StructField("__lid", lt),
            T.StructField("__rid", rt),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    # union, NOT join: a join on (lb, rb) would materialize the cell's
    # |lblock| x |rblock| pair rows through the shuffle — the exact
    # quadratic blowup the block design exists to keep task-local. The
    # union ships each vector once per replica; pairs exist only inside
    # the GEMM.
    #
    # The absent side's id on an INTEGRAL column is a 0-SENTINEL plus the
    # __side flag, never NULL: an int64 column with nulls crosses the
    # Arrow->pandas boundary inside applyInPandas as float64, which
    # silently rounds ids above 2^53 (exactly the xxhash64-derived ids
    # dup_clusters tells callers to use) before they are cast back.
    # Non-integral id types (string, binary, date, decimal) cross as
    # object/typed dtypes where NULL is lossless — and an integer-literal
    # cast may not even analyze for them — so they keep a NULL sentinel.
    def _absent(dt):
        if isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            return F.lit(0).cast(dt)
        return F.lit(None).cast(dt)

    lrep = left.select(
        F.col(left_id).alias("__lid"),
        _absent(rt).alias("__rid"),
        F.lit(True).alias("__isleft"),
        F.col(left_vec).cast("array<double>").alias("__vec"),
        F.pmod(F.xxhash64(F.col(left_id)), F.lit(num_left_blocks)).alias("__lb"),
        F.explode(
            F.sequence(F.lit(0), F.lit(num_right_blocks - 1))
        ).alias("__rb"),
    )
    rrep = right.select(
        _absent(lt).alias("__lid"),
        F.col(right_id).alias("__rid"),
        F.lit(False).alias("__isleft"),
        F.col(right_vec).cast("array<double>").alias("__vec"),
        F.explode(
            F.sequence(F.lit(0), F.lit(num_left_blocks - 1))
        ).alias("__lb"),
        F.pmod(F.xxhash64(F.col(right_id)), F.lit(num_right_blocks)).alias("__rb"),
    )
    cells = lrep.unionByName(rrep)

    def _cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        lsub = pdf[pdf["__isleft"]]
        rsub = pdf[~pdf["__isleft"]]
        if lsub.empty or rsub.empty:
            return pd.DataFrame({"__lid": [], "__rid": [], "cos_sim": []})
        lids = lsub["__lid"].to_numpy()
        rids = rsub["__rid"].to_numpy()
        lmat = np.stack(lsub["__vec"].to_numpy()).astype(np.float64)
        rmat = np.stack(rsub["__vec"].to_numpy()).astype(np.float64)
        lmat /= np.maximum(np.linalg.norm(lmat, axis=1, keepdims=True), 1e-30)
        rmat /= np.maximum(np.linalg.norm(rmat, axis=1, keepdims=True), 1e-30)
        out_l, out_r, out_s = [], [], []
        kk = min(k, len(rids))
        for s in range(0, len(lids), gemm_chunk):
            sims = lmat[s : s + gemm_chunk] @ rmat.T
            for row_i in range(sims.shape[0]):
                neg = -sims[row_i]
                # exact top-k by (-cos, right_id): partial-select everything
                # at least as good as the k-th score (boundary ties
                # INCLUDED), then sort the small candidate set
                if kk < len(neg):
                    kth = np.partition(neg, kk - 1)[kk - 1]
                    cand = np.nonzero(neg <= kth)[0]
                else:
                    cand = np.arange(len(neg))
                cand = sorted(cand, key=lambda j: (neg[j], rids[j]))[:kk]
                out_l.extend([lids[s + row_i]] * len(cand))
                out_r.extend(rids[j] for j in cand)
                out_s.extend(float(-neg[j]) for j in cand)
        return pd.DataFrame({"__lid": out_l, "__rid": out_r, "cos_sim": out_s})

    local = cells.groupBy("__lb", "__rb").applyInPandas(_cell_topk, out_schema)
    w = W.partitionBy("__lid").orderBy(
        F.col("cos_sim").desc(), F.col("__rid").asc()
    )
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


def ivf_topk(
    indexed_df: DataFrame,
    centroids: "np.ndarray",
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    metric: str = "l2sq",
    id_col: str | None = None,
) -> DataFrame:
    """Probe the nprobe nearest centroids' partitions, exact distance inside."""
    q = np.asarray(query_vec, dtype=float)
    d2 = ((centroids - q) ** 2).sum(axis=1)
    # stable sort: equidistant centroids at the nprobe boundary must give
    # the same probe set on every platform (ivfpq_topk already does this)
    probe = [int(i) for i in np.argsort(d2, kind="stable")[:nprobe]]
    pruned = indexed_df.filter(F.col("centroid_id").isin(probe))
    return brute_force_topk(pruned, query_vec, k, vec_col, metric, id_col)


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    out_col: str = "embedding_q8",
    scale_col: str = "q8_scale",
) -> DataFrame:
    """Per-dimension symmetric int8 quantization of an embedding column:
    scale_d = max(|x_d|) over the corpus, q_d = floor(127 * x_d / scale_d
    + 0.5) in [-127, 127]. Cuts vector bytes 4x (float32 -> int8), which at
    100 TB is 4x less shuffle for every ANN candidate join and 4x more
    vectors per executor page; recall loss at int8 is negligible for
    cosine-style metrics (the scale rides along for dequantization).

    Plan shape: ONE tiny aggregate row (dim max-abs expressions -> a
    single array) broadcast-joined back, then a per-row HOF transform —
    no collect, no second scan of the corpus, no Python. ``floor(x+0.5)``
    not round(): floor is bit-identical across engines (SQL twins), while
    round's half-case mode differs between Java and C implementations.

    Pass ``dim`` to keep plan construction free of driver actions."""
    if dim is None:
        probe = df.select(vec_col).head()
        if probe is None or probe[0] is None:
            raise ValueError(
                f"cannot infer embedding dim from {vec_col!r} (empty frame "
                "or null first vector) — pass dim= explicitly"
            )
        dim = len(probe[0])
    scales = df.groupBy().agg(
        F.array(
            *[
                F.greatest(
                    F.max(F.abs(F.element_at(F.col(vec_col), i + 1).cast("double"))),
                    F.lit(1e-30),  # all-zero dimension: avoid div-by-zero
                )
                for i in range(dim)
            ]
        ).alias(scale_col)
    )
    q = F.zip_with(
        F.col(vec_col),
        F.col(scale_col),
        lambda x, s: F.floor(F.lit(127.0) * x.cast("double") / s + F.lit(0.5)).cast(
            "int"
        ),
    )
    return df.crossJoin(F.broadcast(scales)).withColumn(out_col, q)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN tier below int8.
#
# int8 quantization (above) cuts vector bytes 4x; PQ cuts them ~32x
# (64 float32 dims -> 8 uint8 codes) by splitting each vector into m
# subvectors and replacing every subvector with the id of its nearest
# entry in a per-subspace codebook (Jegou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011 — the index family behind the
# reference's vector-search tier, vastdb/table.py:889-906, re-expressed
# Spark-first). Search is ADC (asymmetric distance computation): the
# query stays un-quantized; per-subspace distance lookup tables make each
# corpus distance m table reads + adds instead of a dim-length dot.


def _fit_pq_codebooks(
    train: "np.ndarray", num_subspaces: int, num_codes: int, seed: int,
    iters: int = 25,
) -> "np.ndarray":
    """Lloyd's k-means per subspace over a driver-side training sample.
    Returns codebooks of shape (m, ksub, dsub). Deterministic for a fixed
    (sample, seed): seeded init, stable argmin assignment, empty clusters
    re-seeded from the most populous cluster's farthest point."""
    n, dim = train.shape
    m = num_subspaces
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, num_codes, dsub), dtype=np.float64)
    for j in range(m):
        X = np.ascontiguousarray(train[:, j * dsub : (j + 1) * dsub])
        init_idx = rng.choice(n, size=num_codes, replace=False)
        C = X[np.sort(init_idx)].copy()
        for _ in range(iters):
            d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
            assign = np.argmin(d2, axis=1)
            newC = C.copy()
            for c in range(num_codes):
                mask = assign == c
                if mask.any():
                    newC[c] = X[mask].mean(axis=0)
                else:
                    # re-seed dead code to the farthest point from its
                    # (stable) largest cluster's centroid
                    big = np.bincount(assign, minlength=num_codes).argmax()
                    pts = X[assign == big]
                    far = ((pts - newC[big]) ** 2).sum(axis=1).argmax()
                    newC[c] = pts[far]
            if np.allclose(newC, C):
                C = newC
                break
            C = newC
        books[j] = C
    return books


def build_pq_index(
    df: DataFrame,
    vec_col: str = "embedding",
    num_subspaces: int = 8,
    num_codes: int = 256,
    seed: int = 42,
    dim: int | None = None,
    train_rows: int = 20000,
    out_col: str = "pq_codes",
) -> tuple[DataFrame, "np.ndarray"]:
    """Encode every vector to ``num_subspaces`` codebook ids. Returns
    (encoded_df with ``out_col: array<int>``, codebooks (m, ksub, dsub)).

    Scale design mirrors build_ivf_index's sampled fit: codebooks are
    trained on a seeded sample of at most ``train_rows`` vectors pulled to
    the driver — PQ codebooks converge with a few hundred samples per code
    (the standard FAISS practice), so the fit cost is O(train_rows), not
    O(corpus), at any data size. This is an index-BUILD-time driver
    action, exactly like build_ivf_index's count(); the corpus-wide ENCODE
    is a broadcast-variable + Arrow-batched mapInPandas (one GEMM per
    subspace per batch) — O(1) plan size at any (num_codes, dim), zero
    shuffle, the same shape assign_probe_centroids settled on in round 6.

    ``num_codes`` auto-clamps to ``max(4, n_train // 4)`` so tiny corpora
    don't request more codes than distinct training points."""
    if dim is None:
        probe = df.select(vec_col).head()
        if probe is None or probe[0] is None:
            raise ValueError(
                f"cannot infer embedding dim from {vec_col!r} (empty frame "
                "or null first vector) — pass dim= explicitly"
            )
        dim = len(probe[0])
    m = int(num_subspaces)
    if dim % m != 0:
        raise ValueError(
            f"dim={dim} not divisible by num_subspaces={m}; pick m dividing "
            "the embedding width (pad the vectors otherwise)"
        )
    n_rows = df.count()
    if n_rows == 0:
        raise ValueError("cannot build a PQ index over an empty frame")
    frac = min(1.0, (train_rows * 1.2) / n_rows)
    sample = df.select(vec_col)
    if frac < 1.0:
        sample = sample.sample(fraction=frac, seed=seed)
    train_pdf = sample.limit(train_rows).toPandas()
    train = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in train_pdf.iloc[:, 0]]
    )
    # clamp: never more codes than training vectors (rng.choice without
    # replacement needs ksub <= n), and ~4 samples per code above that
    ksub = int(min(num_codes, len(train), max(4, len(train) // 4)))
    books = _fit_pq_codebooks(train, m, ksub, seed)
    return pq_encode(df, books, vec_col=vec_col, out_col=out_col), books


def pq_encode(
    df: DataFrame,
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode vectors with FROZEN codebooks — the shared encode stage of
    build_pq_index and the incremental-refresh path (new rows folded into
    a persisted index must use the index's original books, not a refit).
    Broadcast codebooks + Arrow-batched mapInPandas, one GEMM per
    subspace per batch, zero shuffle, O(1) plan size."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    B = np.asarray(codebooks, dtype=np.float64)
    m, _ksub, dsub = B.shape
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(B)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(IntegerType()), False)]
    )
    cols = [f.name for f in df.schema.fields]
    vpos = cols.index(vec_col)

    def encode_batches(batches):
        Bv = bc.value
        c_sq = [(Bv[j] * Bv[j]).sum(axis=1) for j in range(m)]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, vpos]]
            )
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xj = X[:, j * dsub : (j + 1) * dsub]
                d2 = c_sq[j][None, :] - 2.0 * (Xj @ Bv[j].T)
                codes[:, j] = np.argmin(d2, axis=1)
            out = pdf.copy()
            out[out_col] = [row.tolist() for row in codes]
            yield out

    return df.mapInPandas(encode_batches, schema=out_schema)


def pq_topk(
    encoded_df: DataFrame,
    codebooks: "np.ndarray",
    query_vec: list[float],
    k: int = 10,
    codes_col: str = "pq_codes",
    id_col: str | None = None,
    dist_col: str = "adc_dist",
    rerank: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by ADC: squared-L2 lookup tables (m x ksub, built
    on the driver from the un-quantized query — tiny) ride a broadcast
    variable; each corpus row's distance is m table lookups + adds inside
    an Arrow-batched mapInPandas (no shuffle), then TakeOrderedAndProject
    keeps k rows per partition. Plan size is O(1) in (num_codes, dim).

    ``rerank=r`` enables the standard two-stage retrieval: ADC selects an
    r-row shortlist (r >> k, still TakeOrdered so only r rows cross the
    shuffle), then EXACT squared-L2 on the shortlist's un-quantized
    ``vec_col`` picks the final k. Quantization error then only costs
    recall when a true neighbor falls outside the shortlist, so recall
    approaches exact for modest r (r=10k at corpus scale reads r*dim*4
    bytes — trivial next to the full-corpus scan ADC avoided).

    Ties break on ascending ``id_col`` when given, matching
    brute_force_topk."""
    B = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = B.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(
            f"query dim {q.shape[0]} != codebook dim {m * dsub} "
            f"(m={m}, dsub={dsub})"
        )
    # LUT[j, c] = || q_j - B[j, c] ||^2
    lut = np.stack(
        [((B[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1) for j in range(m)]
    )
    sc = encoded_df.sparkSession.sparkContext
    bc = sc.broadcast(lut)

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        list(encoded_df.schema.fields) + [StructField(dist_col, DoubleType(), False)]
    )
    cols = [f.name for f in encoded_df.schema.fields]
    cpos = cols.index(codes_col)
    rows = np.arange(m)

    def adc_batches(batches):
        L = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf.iloc[:, cpos]]
            )
            out = pdf.copy()
            out[dist_col] = L[rows[None, :], codes].sum(axis=1)
            yield out

    scored = encoded_df.mapInPandas(adc_batches, schema=out_schema)
    return _topk_with_rerank(scored, q, k, rerank, id_col, dist_col, vec_col)


def _topk_with_rerank(scored, q, k, rerank, id_col, dist_col, vec_col):
    """Shared tail of pq_topk / ivfpq_topk: ADC top-k, or ADC shortlist of
    ``rerank`` rows re-scored by exact squared-L2 on the un-quantized
    column. One implementation so tie-breaking and rerank semantics can
    never diverge between the flat-PQ and IVF-PQ paths."""
    order = [F.col(dist_col).asc()]
    if id_col:
        order.append(F.col(id_col).asc())
    if rerank is None:
        return scored.orderBy(*order).limit(k)
    if rerank < k:
        raise ValueError(f"rerank={rerank} must be >= k={k}")
    shortlist = scored.orderBy(*order).limit(int(rerank))
    exact = distance_column(vec_col, [float(x) for x in q], "l2sq")
    return shortlist.withColumn(dist_col, exact).orderBy(*order).limit(k)


def build_ivfpq_index(
    df: DataFrame,
    vec_col: str = "embedding",
    num_centroids: int | None = 16,
    num_subspaces: int = 8,
    num_codes: int = 256,
    seed: int = 42,
    dim: int | None = None,
    train_rows: int = 20000,
    sample_fraction: float | None = None,
    sample_key: str | None = None,
) -> tuple[DataFrame, "np.ndarray", "np.ndarray"]:
    """IVF-PQ — the standard billion-scale ANN layout (Jegou et al. 2011
    "IVFADC"; what FAISS IndexIVFPQ builds): an IVF coarse quantizer
    routes each vector to a cluster, and PQ encodes the RESIDUAL
    (vector - centroid) — residuals concentrate near the origin, so the
    same code budget quantizes them much more accurately than raw
    vectors. Returns (encoded_df with centroid_id + pq_codes, centroids,
    codebooks).

    Per-vector state is ~(4 + m) bytes vs dim*4 raw (64-dim float32 ->
    8-byte codes + cluster id = ~24x less memory/shuffle), and search
    touches only nprobe/num_centroids of the corpus. Fit follows the
    sampled-driver-fit design of build_ivf_index/build_pq_index (one
    bounded toPandas at BUILD time); encode is broadcast variables +
    Arrow-batched mapInPandas — O(1) plan size, zero shuffle."""
    # count once; build_ivf_index needs it only to auto-size centroids,
    # and the PQ sample fraction below reuses it — without n_rows= this
    # was two full corpus scans
    n_rows = df.count()
    indexed, centroids = build_ivf_index(
        df, vec_col, num_centroids, seed,
        sample_fraction=sample_fraction, sample_key=sample_key,
        n_rows=n_rows,
    )
    if dim is None:
        dim = centroids.shape[1]
    m = int(num_subspaces)
    if dim % m != 0:
        raise ValueError(
            f"dim={dim} not divisible by num_subspaces={m}; pick m dividing "
            "the embedding width"
        )
    frac = min(1.0, (train_rows * 1.2) / max(n_rows, 1))
    sample = indexed.select(vec_col, "centroid_id")
    if frac < 1.0:
        sample = sample.sample(fraction=frac, seed=seed)
    pdf = sample.limit(train_rows).toPandas()
    if len(pdf) == 0:
        raise ValueError("cannot build an IVF-PQ index over an empty frame")
    C = np.asarray(centroids, dtype=np.float64)
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 0]])
    resid = X - C[pdf.iloc[:, 1].to_numpy()]
    ksub = int(min(num_codes, len(resid), max(4, len(resid) // 4)))
    books = _fit_pq_codebooks(resid, m, ksub, seed)
    return ivfpq_encode(indexed, C, books, vec_col=vec_col), C, books


def ivfpq_encode(
    df: DataFrame,
    centroids: "np.ndarray",
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Residual-PQ encode with FROZEN centroids + codebooks over rows that
    already carry ``cid_col`` — shared by build_ivfpq_index and the
    incremental-refresh path. Broadcast state + Arrow-batched
    mapInPandas, zero shuffle."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)
    m, _ksub, dsub = B.shape
    sc = df.sparkSession.sparkContext
    bc_books = sc.broadcast(B)
    bc_cent = sc.broadcast(C)
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(IntegerType()), False)]
    )
    cols = [f.name for f in df.schema.fields]
    vpos = cols.index(vec_col)
    cpos = cols.index(cid_col)

    def encode_batches(batches):
        Bv, cent = bc_books.value, bc_cent.value
        c_sq = [(Bv[j] * Bv[j]).sum(axis=1) for j in range(m)]
        for pdf_b in batches:
            if len(pdf_b) == 0:
                continue
            Xb = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf_b.iloc[:, vpos]]
            )
            R = Xb - cent[pdf_b.iloc[:, cpos].to_numpy()]
            codes = np.empty((len(R), m), dtype=np.int32)
            for j in range(m):
                Rj = R[:, j * dsub : (j + 1) * dsub]
                d2 = c_sq[j][None, :] - 2.0 * (Rj @ Bv[j].T)
                codes[:, j] = np.argmin(d2, axis=1)
            out = pdf_b.copy()
            out[out_col] = [row.tolist() for row in codes]
            yield out

    return df.mapInPandas(encode_batches, schema=out_schema)


def ivfpq_topk(
    encoded_df: DataFrame,
    centroids: "np.ndarray",
    codebooks: "np.ndarray",
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str | None = None,
    codes_col: str = "pq_codes",
    dist_col: str = "adc_dist",
    rerank: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search (IVFADC): prune to the query's ``nprobe`` nearest
    clusters (an isin filter — partition/file-prunable when the index is
    written partitioned by centroid_id), then ADC over residual codes
    with a PER-PROBED-CLUSTER lookup table (the residual's reference
    point is that cluster's centroid, so LUT_c[j,code] =
    ||(q - cent_c)_j - B[j,code]||^2). LUTs for the nprobe clusters ride
    ONE broadcast; per row the distance is m lookups. Optional exact
    re-rank of an r-row shortlist on the un-quantized column, as in
    :func:`pq_topk`."""
    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = B.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(
            f"query dim {q.shape[0]} != codebook dim {m * dsub}"
        )
    if nprobe > len(C):
        raise ValueError(f"nprobe={nprobe} exceeds num_centroids={len(C)}")
    d2c = ((C - q) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d2c, kind="stable")[:nprobe]]
    luts = {}
    for cid in probes:
        r = q - C[cid]
        luts[cid] = np.stack(
            [((B[j] - r[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
             for j in range(m)]
        )
    sc = encoded_df.sparkSession.sparkContext
    bc = sc.broadcast(luts)

    pruned = encoded_df.filter(F.col("centroid_id").isin(probes))
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        list(pruned.schema.fields) + [StructField(dist_col, DoubleType(), False)]
    )
    cols = [f.name for f in pruned.schema.fields]
    codes_pos = cols.index(codes_col)
    cid_pos = cols.index("centroid_id")
    rows_j = np.arange(m)

    def adc_batches(batches):
        L = bc.value
        for pdf_b in batches:
            if len(pdf_b) == 0:
                continue
            codes = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf_b.iloc[:, codes_pos]]
            )
            cids = pdf_b.iloc[:, cid_pos].to_numpy()
            dist = np.empty(len(pdf_b))
            for cid in np.unique(cids):
                mask = cids == cid
                dist[mask] = L[int(cid)][rows_j[None, :], codes[mask]].sum(axis=1)
            out = pdf_b.copy()
            out[dist_col] = dist
            yield out

    scored = pruned.mapInPandas(adc_batches, schema=out_schema)
    return _topk_with_rerank(scored, q, k, rerank, id_col, dist_col, vec_col)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
# Data-efficient learning at web-scale through semantic deduplication"):
# k-means cluster the (normalized) embedding space, find high-cosine pairs
# WITHIN each cluster only, connected-component the pairs, keep one
# representative per component. The cross-cluster blindness is the paper's
# own trade: semantic duplicates embed nearly identically, so they land in
# the same cluster with overwhelming probability, and the within-cluster
# restriction turns an O(N^2) pair search into sum-over-clusters |c|^2
# with |c| ~ N/num_centroids.


def semantic_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_centroids: int | None = None,
    seed: int = 42,
    gemm_chunk: int = 1024,
    sample_fraction: float | None = None,
    target_cluster_rows: int = 4096,
    fit: str = "driver",
    twolevel_threshold: int = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """High-cosine pairs within k-means clusters of the NORMALIZED
    embedding space. Returns (id_a, id_b, cos_sim) with id_a < id_b.

    Vectors are L2-normalized before clustering (spherical-k-means shape,
    as in the paper) and before the GEMM, so cosine is a plain dot and a
    positively-scaled duplicate (v vs 2v) is bit-identical after
    normalization — same cluster, cosine exactly 1. Per-cluster work is
    chunked float64 GEMM in applyInPandas cells, only >=threshold pairs
    leave the task; when clusters are fewer than ~4x the executor cores
    (the 65536-centroid clamp regime, or an explicit small
    num_centroids), each cluster's pair space further splits into a
    (chunk_i, chunk_j) cell grid so task count stays above core count —
    same pair set, same total FLOPs, bounded (<=8x) shuffle replication.
    ``num_centroids=None`` auto-sizes to a FIXED cluster
    size (``rows / target_cluster_rows`` centroids, clamped to
    [16, 65536]): per-cluster pair work stays |c|^2 ~ target^2 = O(1)
    and total work N·target = O(N) — an untouched default stays linear
    at 100 TB. (The earlier ~sqrt(N) sizing made total work O(N^1.5):
    right for IVF probe/recall balance, wrong for a pair search.) A
    skew-hot cluster is handled by raising num_centroids, the paper's
    own knob. ``sample_fraction`` bounds the k-means fit scan at corpus
    scale.

    Past the 65536-centroid clamp (~270M rows at the default target)
    clusters grow linearly again; there, pass num_centroids=rows//4096
    explicitly with fit='ml' (the distributed fit has no
    sample-size-bound centroid cap) or shard the corpus and dedup
    shards independently — semantic duplicates embed near-identically,
    so a hash-shard by coarse cluster id preserves the paper's
    same-cluster guarantee."""
    import pandas as pd
    from pyspark.sql import types as T

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if target_cluster_rows < 2:
        raise ValueError(
            f"target_cluster_rows must be >= 2, got {target_cluster_rows}"
        )
    # callers that already know the row count (e.g. dedup_near_rows,
    # whose manifest carries exact live_rows) pass n_rows to skip a
    # full count() scan of the corpus
    if n_rows is None:
        n_rows = df.count()
    if num_centroids is None:
        num_centroids = int(
            min(65536, max(16, -(-n_rows // int(target_cluster_rows))))
        )
    # Cell-grid sizing: when the centroid clamp (or an explicit small
    # num_centroids) leaves fewer clusters than cores, one applyInPandas
    # cell per cluster collapses parallelism — a 16-cluster corpus runs
    # 16 tasks on a 32-core box, each doing the FULL |c|^2 pair grid. So
    # in that regime the pair space of each cluster is split into a
    # (chunk_i, chunk_j) upper-triangular grid of ~gemm_chunk-sized row
    # blocks: rows land in a chunk by deterministic hash, each row
    # replicates to the g cells its chunk touches, and every unordered
    # pair maps to EXACTLY ONE cell ({chunk(a), chunk(b)}), so the union
    # over cells is the same pair set as the one-cell-per-cluster plan
    # (pinned by test_semantic_dup_pairs_grid_equivalence). Total work is
    # unchanged (sum over cells of |A||B| ~ |c|^2/2); task count
    # multiplies by g(g+1)/2; shuffle volume by g (capped at 8). When
    # clusters already outnumber cores 4x — the normal auto-sized shape
    # at scale, N/4096 clusters — the grid stays OFF: per-cluster cells
    # are parallel enough and the plan keeps single-copy shuffle volume.
    # Both paths emit the identical pair set, so the choice is pure
    # physical planning, invisible to gates.
    par = df.sparkSession.sparkContext.defaultParallelism
    exp_cluster = -(-n_rows // max(int(num_centroids), 1))
    if int(num_centroids) >= 4 * par:
        g = 1
    else:
        g = int(min(8, max(1, -(-exp_cluster // int(gemm_chunk)))))
    # materialize the L2 norm ONCE per row before the transform: a norm
    # aggregate embedded in the lambda body is re-evaluated per element
    # (HOF lambdas get no loop-invariant hoisting), turning the
    # normalization scan O(d^2) per row — ~768 full sum-of-squares per
    # 768-dim embedding instead of one. A bare alias is NOT enough:
    # CollapseProject inlines a non-cheap alias referenced once — even
    # into a lambda body — so the `when(__norm > 0, ...)` below is a
    # deliberate barrier: it makes __norm referenced TWICE in the
    # consuming projection, which CollapseProject refuses to collapse.
    # Semantically identity: __norm = greatest(sqrt(..), 1e-30) is always
    # > 0 (NaN compares greater than 0 under Spark's NaN ordering), and
    # the optimizer cannot fold a runtime comparison. Pinned by
    # test_norm_hoist_survives_collapse_project.
    staged = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__vd")
    ).withColumn(
        "__norm",
        F.greatest(
            F.sqrt(
                F.aggregate(F.col("__vd"), F.lit(0.0), lambda a, y: a + y * y)
            ),
            F.lit(1e-30),
        ),
    )
    normed = staged.select(
        F.col(id_col),
        F.when(
            F.col("__norm") > F.lit(0.0),
            F.transform(F.col("__vd"), lambda x: x / F.col("__norm")),
        ).alias("__nvec"),
    )
    assigned, _cents = build_ivf_index(
        normed,
        vec_col="__nvec",
        num_centroids=num_centroids,
        seed=seed,
        sample_fraction=sample_fraction,
        fit=fit,
        n_rows=n_rows,  # already counted above — skip the re-scan
        # two-level assignment switch point (assign_probe_centroids): at
        # C >= this, assignment goes coarse-grouped/approximate — near-dup
        # recall in THAT regime is pinned by
        # test_semantic_dup_pairs_twolevel_clamp_recall
        twolevel_threshold=twolevel_threshold,
    )
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    thr = float(threshold)
    chunk = int(gemm_chunk)

    def _within_pairs(ids, X):
        """All >=thr pairs within one row block, id_a < id_b; ids sorted."""
        out_a, out_b, out_s = [], [], []
        n = len(ids)
        for s in range(0, n, chunk):
            S = X[s : s + chunk] @ X.T
            for r in range(S.shape[0]):
                i = s + r
                hits = np.nonzero(S[r, i + 1 :] >= thr)[0]
                if hits.size:
                    out_a.extend([ids[i]] * hits.size)
                    out_b.extend(ids[i + 1 + hits])
                    out_s.extend(S[r, i + 1 + hits])
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos_sim": out_s})

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        X = np.stack(pdf["__nvec"].to_numpy()[order]).astype(np.float64)
        return _within_pairs(ids, X)

    def _grid_cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        if len(pdf) < 2:
            return empty
        ci, cj = int(pdf["__ci"].iloc[0]), int(pdf["__cj"].iloc[0])
        if ci == cj:  # diagonal cell: within-block pairs
            return _cell_pairs(pdf)
        # cross cell: every (A-row, B-row) pair, ordered id_a < id_b
        a_m = (pdf["__ck"] == ci).to_numpy()
        A, B = pdf[a_m], pdf[~a_m]
        if not len(A) or not len(B):
            return empty
        ida = A[id_col].to_numpy()
        idb = B[id_col].to_numpy()
        XA = np.stack(A["__nvec"].to_numpy()).astype(np.float64)
        XB = np.stack(B["__nvec"].to_numpy()).astype(np.float64)
        out_a, out_b, out_s = [], [], []
        for s in range(0, len(ida), chunk):
            S = XA[s : s + chunk] @ XB.T
            rr, cc = np.nonzero(S >= thr)
            if rr.size:
                la, lb = ida[s + rr], idb[cc]
                out_a.extend(np.minimum(la, lb))
                out_b.extend(np.maximum(la, lb))
                out_s.extend(S[rr, cc])
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos_sim": out_s})

    if g <= 1:  # plenty of clusters: one cell per cluster, no replication
        pairs = assigned.groupBy("centroid_id").applyInPandas(
            _cell_pairs, out_schema
        )
    else:
        chunked = assigned.withColumn(
            "__ck", F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(g))
        )
        cells = chunked.select(
            "*",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(g - 1)),
                    lambda x: F.struct(
                        F.least(F.col("__ck"), x).alias("__ci"),
                        F.greatest(F.col("__ck"), x).alias("__cj"),
                    ),
                )
            ).alias("__cell"),
        ).select("*", "__cell.__ci", "__cell.__cj").drop("__cell")
        pairs = cells.groupBy("centroid_id", "__ci", "__cj").applyInPandas(
            _grid_cell_pairs, out_schema
        )
    return pairs.withColumn("cos_sim", F.round("cos_sim", 6))


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_centroids: int | None = None,
    seed: int = 42,
    keep: str = "min",
    sample_fraction: float | None = None,
    target_cluster_rows: int = 4096,
    fit: str = "driver",
) -> DataFrame:
    """SemDeDup keep/drop marks: every input row tagged with its semantic
    component (``sem_cluster``, NULL for singletons) and ``keep`` —
    exactly one representative survives per component (``keep='min'`` or
    ``'max'`` id, a deterministic choice; the paper keeps an arbitrary
    member). Composition: semantic_dup_pairs -> dedup.dup_clusters
    (min-label pointer jumping, O(log d) rounds) -> per-component keeper
    aggregate (component-count sized, broadcastable) joined back. Ids
    must be integral (dup_clusters contract)."""
    from .dedup import dup_clusters

    if keep not in ("min", "max"):
        raise ValueError(f"keep must be 'min' or 'max', got {keep!r}")
    pairs = semantic_dup_pairs(
        df, id_col, vec_col, threshold, num_centroids, seed,
        sample_fraction=sample_fraction,
        target_cluster_rows=target_cluster_rows,
        fit=fit,
    )
    comps = dup_clusters(pairs)  # (doc_id, cluster_id)
    agg = F.min if keep == "min" else F.max
    keepers = comps.groupBy("cluster_id").agg(agg("doc_id").alias("__keeper"))
    # no broadcast HINT: keepers is component-count sized, which on a
    # heavy-duplication corpus is unbounded — a forced broadcast would
    # OOM the driver there, while AQE already broadcasts it whenever it
    # is actually small
    marked = comps.join(keepers, "cluster_id").select(
        F.col("doc_id").alias(id_col),
        F.col("cluster_id").alias("sem_cluster"),
        (F.col("doc_id") == F.col("__keeper")).alias("keep"),
    )
    return (
        df.select(id_col)
        .join(marked, id_col, "left")
        .withColumn("keep", F.coalesce(F.col("keep"), F.lit(True)))
    )


def rhp_band_keys(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 16,
    num_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Banded random-hyperplane keys for an embedding column: each row
    emits ``num_bands`` rows of (id_col, band_id, band_key) — the
    persistable LSH state for cross-batch semantic dedup (two vectors
    with cosine near 1 agree on all plane signs, so they share every
    band key; a band equi-join is the candidate generator). Deterministic
    for a fixed seed, so keys computed in different sessions/batches
    join correctly."""
    if num_planes % num_bands != 0:
        raise ValueError("num_bands must divide num_planes evenly")
    indexed, _ = build_rhp_index(df, vec_col, num_planes, seed, dim=dim)
    r = num_planes // num_bands
    mask = (1 << r) - 1
    return indexed.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).cast("int").alias("band_id"),
                        F.shiftright(F.col("lsh_bucket"), bi * r)
                        .bitwiseAND(F.lit(mask))
                        .cast("long")
                        .alias("band_key"),
                    )
                    for bi in range(num_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band_id", "bk.band_key")


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncated-dimension search — the coarse-to-fine funnel
# for embeddings trained with Matryoshka Representation Learning
# (Kusupati et al. 2022): the first d' dimensions of an MRL embedding are
# themselves a usable embedding, so a shortlist scan can read d'/d of the
# vector bytes and a tiny exact re-rank restores full-dimension order.


def truncate_embeddings(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    out_col: str = "embedding_trunc",
    renormalize: bool = True,
) -> DataFrame:
    """Keep the first ``dims`` dimensions (optionally re-normalized to
    unit length — the MRL convention, so cosine stays calibrated). Pure
    JVM expressions; at rest this is the column you'd persist for the
    memory-bound shortlist tier (dims/d of the bytes)."""
    if dims < 1:
        raise ValueError(f"dims={dims} must be >= 1")
    t = F.slice(F.col(vec_col), 1, int(dims))
    if not renormalize:
        return df.withColumn(out_col, t)
    # materialize slice + norm per row BEFORE the divide-transform: a norm
    # aggregate referenced inside the lambda is re-evaluated per element
    # (no loop-invariant hoisting in HOF eval), i.e. O(dims^2) per row.
    # The `when(__mrl_norm > 0, ...)` is a CollapseProject barrier, NOT a
    # real condition: a non-cheap alias referenced once gets inlined back
    # into the lambda body, undoing the staging; referenced twice it stays
    # hoisted. Always-true (greatest with 1e-30; NaN > 0 under Spark's
    # NaN ordering) and not statically foldable. Pinned by
    # test_norm_hoist_survives_collapse_project.
    staged = df.withColumn("__mrl_t", t).withColumn(
        "__mrl_norm",
        F.greatest(
            F.sqrt(
                F.aggregate(
                    F.col("__mrl_t"),
                    F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x.cast("double"),
                )
            ),
            F.lit(1e-30),
        ),
    )
    return staged.withColumn(
        out_col,
        F.when(
            F.col("__mrl_norm") > F.lit(0.0),
            F.transform(
                F.col("__mrl_t"),
                lambda x: x.cast("double") / F.col("__mrl_norm"),
            ),
        ),
    ).drop("__mrl_t", "__mrl_norm")


def matryoshka_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    dims: int = 16,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage MRL funnel: shortlist by cosine over the FIRST ``dims``
    dimensions (the cheap scan — at rest it reads dims/d of the vector
    bytes), then exact full-dimension cosine re-rank of the shortlist.

    Plan shape: one scan with the truncated dot as a codegen'd
    expression -> TakeOrdered(shortlist) -> full-dim re-rank over
    ``shortlist`` driver-sized rows -> TakeOrdered(k). No joins, no
    Python, no index build. Returns (id_col, cos_trunc, cos_full), k
    rows ordered by full-dimension cosine with id tie-break."""
    if not 1 <= k <= shortlist:
        raise ValueError(f"need 1 <= k={k} <= shortlist={shortlist}")
    qt = [float(v) for v in query_vec[:dims]]
    qf = [float(v) for v in query_vec]
    if len(query_vec) < dims:
        raise ValueError(f"query shorter than dims={dims}")

    def _cos(vec: str, q):
        # one parsed SQL expression over the array expression ``vec``
        n1 = f"sqrt(aggregate({vec}, 0.0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        n2 = sql_literal(sum(v * v for v in q) ** 0.5)
        return F.expr(
            f"({dot_sql(vec, vec_sql(q))} / (greatest({n1}, 1e-30D) * greatest({n2}, 1e-30D)))"
        )

    col = quote_ident(vec_col)
    trunc = f"slice({col}, 1, {int(dims)})"
    stage1 = (
        df.withColumn("__cos_t", _cos(trunc, qt))
        .orderBy(F.col("__cos_t").desc(), F.col(id_col).asc())
        .limit(int(shortlist))
    )
    return (
        stage1.withColumn("__cos_f", _cos(col, qf))
        .orderBy(F.col("__cos_f").desc(), F.col(id_col).asc())
        .limit(int(k))
        .select(
            id_col,
            F.col("__cos_t").alias("cos_trunc"),
            F.col("__cos_f").alias("cos_full"),
        )
    )


# ---------------------------------------------------------------------------
# PCA projection (linear dimension reduction for the embedding tier)


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
) -> dict:
    """Fit a PCA model over an embedding column — the classic linear
    dimension reduction before clustering / visualization / cheap ANN
    (complementary to ``truncate_embeddings``: Matryoshka needs a model
    TRAINED for prefix truncation; PCA builds the optimal linear basis
    for any fixed embedding).

    Distributed moment accumulation, driver-side eigendecomposition:

    1. one ``mapInPandas`` pass emits PER-PARTITION partial moments
       ``(n, sum, gram)`` — a single float64 GEMM per Arrow batch;
    2. the partials reduce DISTRIBUTEDLY (posexplode + groupBy(pos) sum),
       so the driver collects exactly ``d^2 + d`` doubles no matter how
       many partitions the corpus has — never one row per partition;
    3. the d x d covariance ``gram/n - mean mean^T`` is eigendecomposed
       on the driver (d is embedding width, <= a few thousand; the
       eigh of a 1024^2 matrix is milliseconds).

    Returns a plain-dict model: ``mean`` (d), ``components`` (k x d rows =
    top eigenvectors, each sign-fixed so its largest-|.| entry is
    positive), ``explained_variance`` (k, descending), ``total_variance``
    (trace), ``n``, ``dim``. Population covariance (divisor n) — the
    basis and all projections are divisor-invariant.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    part_schema = StructType(
        [
            StructField("n", LongType(), False),
            StructField("m", ArrayType(DoubleType()), False),
        ]
    )

    def partial_batches(batches):
        import pandas as pd

        n = 0
        s = None
        g = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 0]]
            )
            n += len(X)
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            g = X.T @ X if g is None else g + X.T @ X
        if n:
            yield pd.DataFrame(
                {"n": [n], "m": [np.concatenate([s, g.ravel()]).tolist()]}
            )

    partials = df.select(vec_col).mapInPandas(partial_batches, schema=part_schema)
    reduced = (
        partials.select(
            "n", F.posexplode("m").alias("pos", "v")
        )
        .groupBy("pos")
        .agg(F.sum("v").alias("v"), F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("n"))
        .collect()
    )
    if not reduced:
        raise ValueError("pca_fit: input has no rows")
    moments = np.empty(len(reduced), dtype=np.float64)
    n_rows = 0
    for r in reduced:
        moments[r["pos"]] = r["v"]
        if r["pos"] == 0:
            n_rows = int(r["n"])
    d = int((-1 + (1 + 4 * len(moments)) ** 0.5) / 2)
    if d * (d + 1) != len(moments):
        raise ValueError(f"pca_fit: inconsistent moment length {len(moments)}")
    if k > d:
        raise ValueError(f"k={k} exceeds embedding dim {d}")
    s = moments[:d]
    g = moments[d:].reshape(d, d)
    mean = s / n_rows
    cov = g / n_rows - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k x d
    for i in range(k):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_variance": [float(evals[o]) for o in order],
        "total_variance": float(np.trace(cov)),
        "n": n_rows,
        "dim": d,
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project an embedding column onto a fitted PCA basis: appends
    ``out_col`` = (x - mean) @ components^T as ``array<double>`` (length
    k), all other columns preserved. Broadcast-variable model +
    Arrow-batched ``mapInPandas`` — one GEMM per batch, zero shuffle,
    O(1) plan size (the ``pq_encode`` discipline)."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    mean = np.asarray(model["mean"], dtype=np.float64)
    comps = np.asarray(model["components"], dtype=np.float64)
    if comps.ndim != 2 or comps.shape[1] != mean.shape[0]:
        raise ValueError("pca_project: malformed model")
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((mean, comps))
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()), False)]
    )
    cols = [f.name for f in df.schema.fields]
    vpos = cols.index(vec_col)

    def project_batches(batches):
        mu, C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, vpos]]
            )
            P = (X - mu[None, :]) @ C.T
            out = pdf.copy()
            out[out_col] = [row.tolist() for row in P]
            yield out

    return df.mapInPandas(project_batches, schema=out_schema)
