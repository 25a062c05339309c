"""Corpus-statistics quality signals that need aggregation shape
(unlike functions/textfns.py, whose signals are single-row column
expressions).

token_repetition computes the Gopher/C4-style repetition signals —
distinct-token ratio and most-common-token fraction — via
explode → two-level partial aggregation. The naive per-row form
(array_max over transform(distinct, count-equal)) is O(tokens²) per
document and blows up on adversarial long docs; the explode shape is
linear, combines map-side, and a hot (doc, token) pair is just another
groupBy key for AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_repetition(docs: DataFrame) -> DataFrame:
    """Per-doc repetition stats of ``text``: (doc_id, n_tokens, distinct_ratio,
    top_token_ratio). Low distinct_ratio or high top_token_ratio flags
    boilerplate/spam for corpus filtering. Docs whose text has no
    tokens get (0, 0.0, 0.0). Two partial aggregations, no window."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    e = docs.select(
        F.col("doc_id"),
        F.explode(
            F.when(F.length(F.trim(F.col("text"))) > 0, toks).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("_tok"),
    )
    per_tok = e.groupBy("doc_id", "_tok").agg(F.count(F.lit(1)).alias("_c"))
    agg = per_tok.groupBy("doc_id").agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("_nd"),
        F.max("_c").alias("_mx"),
    )
    out = docs.select("doc_id").join(agg, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.round(
            F.coalesce(F.col("_nd") / F.col("n_tokens"), F.lit(0.0)), 6
        ).alias("distinct_ratio"),
        F.round(
            F.coalesce(F.col("_mx") / F.col("n_tokens"), F.lit(0.0)), 6
        ).alias("top_token_ratio"),
    )


def vocab_topk(docs: DataFrame, k: int = 20) -> DataFrame:
    """Corpus-wide top-k ``text`` tokens by frequency (vocab/BPE prep), ties
    broken by token asc for determinism.

    orderBy(...).limit(k) plans as TakeOrderedAndProject: each partition
    keeps a k-element heap and the driver merges k·partitions rows — no
    global sort of the (possibly billions-distinct) vocabulary ever
    happens. Counts combine map-side in the groupBy first.
    """
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    e = docs.select(
        F.explode(
            F.when(F.length(F.trim(F.col("text"))) > 0, toks).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("token")
    )
    counts = e.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
