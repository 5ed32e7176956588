"""Train/eval contamination detection for training-data pipelines.

Beyond-parity (BASELINE.json north star): before pretraining, every
benchmark/eval set must be checked against the corpus — an eval document
whose n-grams appear in training data inflates scores (the "decontamination"
pass of public LLM data pipelines, e.g. the n-gram overlap protocols
described in the GPT-3/PaLM appendices).

Spark-first design for 100 TB:

- The eval side is SMALL (benchmark suites are thousands of documents);
  its distinct n-grams are **broadcast**, so the corpus-side probe is a
  map-side hash join against the scan — no shuffle of corpus n-grams.
- Corpus n-grams are generated per-row (``shingles_from_tokens``) and
  deduplicated *within* the row (``array_distinct``) before the explode,
  so join fan-out is bounded by distinct-grams-per-doc.
- Output is the contaminated pair list (train_id, eval_id, n_shared) —
  small by construction; feed it to an anti-join to quarantine documents.

When the eval set is too large to broadcast, drop ``broadcast_eval=False``
and the same plan becomes a shuffle equi-join on the gram — still never a
cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles_from_tokens, tokens
from .parallelism import fan_out


def _doc_grams(df: DataFrame, text_col: str, id_col: str, n: int, out_id: str) -> DataFrame:
    toks = fan_out(df).select(
        F.col(id_col).alias(out_id), tokens(F.col(text_col)).alias("__tk")
    )
    return toks.select(
        out_id,
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("__tk"), n))
        ).alias("gram"),
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Contaminated (train_id, eval_id, n_shared) pairs: a train document
    is contaminated w.r.t. an eval document when they share at least one
    word ``n``-gram. ``n_shared`` counts the distinct shared grams.

    Documents shorter than ``n`` tokens contribute their full text as a
    single gram (``shingles_from_tokens`` degenerate case), so short eval
    probes still match verbatim copies."""
    tg = _doc_grams(train, text_col, id_col, n, "train_id")
    eg = _doc_grams(eval_df, text_col, id_col, n, "eval_id")
    if broadcast_eval:
        eg = F.broadcast(eg)
    return (
        tg.join(eg, "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Drop every train document sharing an ``n``-gram with the eval set
    (left-anti join on the contamination pair list)."""
    pairs = ngram_contamination(train, eval_df, text_col, id_col, n).select(
        F.col("train_id").alias(id_col)
    )
    return train.join(pairs, id_col, "left_anti")
