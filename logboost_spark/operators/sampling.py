"""Deterministic sampling / splitting / dedup application for
training-data pipelines.

Not in the reference (LogBoost never samples) — these are dataset-prep
staples at corpus scale. All hashing goes through the cross-engine
60-bit md5 hash (functions/hashing.py) so the DuckDB oracle reproduces
every decision bit-for-bit, and every operator is a pure map-side
filter/projection: no RNG state, no shuffle, no driver round-trip —
the only shapes that survive a 100 TB input. (`df.sample()` is
per-partition RNG: not reproducible under repartitioning and not
joinable back to the decision; hash-of-key sampling is both.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long

SPLITS = (("train", 98), ("val", 1), ("test", 1))


def _key_hash(id_col: Column, salt: str, mod: int) -> Column:
    """Deterministic bucket in [0, mod) from a salted key hash."""
    return F.pmod(md5_long(F.concat(F.lit(salt), id_col.cast("string"))), F.lit(mod))


def hash_sample(df: DataFrame, rate_pct: float, salt: str = "sample") -> DataFrame:
    """Keep rows whose salted ``doc_id`` hash falls in the lowest
    ``rate_pct``% of 10k buckets. Deterministic (same keys survive every
    run and every engine), stable under repartitioning, and a different
    ``salt`` draws an independent sample. Map-side filter only."""
    return df.filter(_key_hash(F.col("doc_id"), salt, 10_000) < int(rate_pct * 100))


def split_assign(df: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment into a ``split`` column:
    the salted ``doc_id`` hash mod the total weight of ``SPLITS`` picks
    the split. Every row lands in exactly one split (ranges partition
    [0, total)); membership is a pure function of the key, so
    late-arriving shards of the same corpus split consistently."""
    total = sum(w for _, w in SPLITS)
    h = _key_hash(F.col("doc_id"), "split", total)
    expr = None
    acc = 0
    for name, w in SPLITS:
        cond = (h >= acc) & (h < acc + w)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        acc += w
    return df.withColumn("split", expr)


def group_capped_sample(
    df: DataFrame,
    group_col: str,
    cap: int,
) -> DataFrame:
    """Cap each group's contribution at ~``cap`` rows (per-domain /
    per-language caps in web corpora), deterministically.

    Scale shape: per-group counts via partial-agg groupBy, broadcast-or-
    shuffle joined back, then each row keeps iff its ``doc_id`` hash
    falls in the lowest cap/count fraction of the space — a map-side
    decision.
    Groups at-or-under the cap pass through whole (no hashing jitter);
    over-cap groups keep cap rows IN EXPECTATION (binomial jitter ~√cap:
    the price of having no per-group ordering — an exact top-k-by-hash
    needs a per-group sort, which is precisely the hot-group pattern
    this avoids). Deterministic per key: reruns and late shards agree.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_gn"))
    joined = df.join(counts, group_col)
    h = _key_hash(F.col("doc_id"), "gcap", 1_000_000)
    # floor of IEEE double division — bit-identical in the DuckDB oracle
    # (a plain bigint cast would round there and truncate here)
    keep = (F.col("_gn") <= cap) | (
        h < F.floor(F.lit(cap * 1_000_000) / F.col("_gn"))
    )
    return joined.filter(keep).drop("_gn")


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_parts: int | None = None,
) -> DataFrame:
    """Contiguous token-budget packing for pretraining batches: shuffle
    (doc_id, n_tokens) documents into a deterministic hash order (the
    "global shuffle" of a training pipeline), take the running token
    total over that order, and cut a bin every ``budget`` tokens. Output
    per doc: bin_id + offset_in_bin. A doc may straddle a boundary —
    bins overflow by at most one document (streaming packing; exact first-fit-decreasing is
    inherently sequential, and boundary docs are chunked downstream).

    Scale shape: NO global window. The order is a range-partitioned sort
    on (key_hash, id); the cumulative sum is a bounded per-partition
    window plus a broadcast-joined running offset from the per-partition
    totals (one row per partition) — the same split-offset pattern as
    the log reader. The result depends only on the global ORDER and the
    running sum, both independent of where range boundaries land, so
    reruns and the DuckDB oracle agree bit-for-bit.

    bin_id is computed as (cum_before - cum_before % budget) / budget:
    the numerator is an exact multiple of budget, so the double division
    is exact for any corpus small enough to count tokens in 2^53 —
    a plain floor(cum/budget) would misassign boundary docs at ~10^15
    cumulative tokens.
    """
    from pyspark.sql import Window

    key = F.pmod(
        md5_long(F.concat(F.lit("pack"), F.col("doc_id").cast("string"))),
        F.lit(1_000_000_000),
    )
    d = docs.select(
        F.col("doc_id"), F.col("n_tokens").cast("bigint").alias("_tok")
    ).withColumn("_key", key)
    parts = n_parts or d.sparkSession.sparkContext.defaultParallelism
    d = d.repartitionByRange(parts, "_key", "doc_id").sortWithinPartitions(
        "_key", "doc_id"
    )
    d = d.withColumn("_pid", F.spark_partition_id())
    w_in = Window.partitionBy("_pid").orderBy("_key", "doc_id")
    d = d.withColumn("_cum_in", F.sum("_tok").over(w_in))  # inclusive
    w_p = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        d.groupBy("_pid")
        .agg(F.sum("_tok").alias("_pn"))
        .select(
            "_pid", F.coalesce(F.sum("_pn").over(w_p), F.lit(0)).alias("_poff")
        )
    )
    d = d.join(F.broadcast(offs), "_pid")
    cum_before = F.col("_poff") + F.col("_cum_in") - F.col("_tok")
    off = F.pmod(cum_before, F.lit(budget))
    return d.select(
        "doc_id",
        F.col("_tok").alias("n_tokens"),
        ((cum_before - off) / F.lit(budget)).cast("bigint").alias("bin_id"),
        off.cast("bigint").alias("offset_in_bin"),
    )


def mixture_sample(df: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Deterministic source-weighted data mixing (the Pile/LLaMA-style
    per-source epoch weights): weight w emits floor(w) full copies of
    every doc plus one more with probability frac(w), decided by the
    salted key hash — so w=2.3 oversamples a source 2.3× in
    expectation, exactly and reproducibly per key. Output carries
    ``rep`` ∈ [0, copies) so downstream shuffling/packing can treat
    copies as distinct examples.

    Map-side only: a literal when-chain resolves (copies, keep-extra
    threshold) per source — integer thresholds precomputed in Python so
    both engines compare the same integers, no float boundary — and a
    sequence+explode emits the copies. Zero shuffle at any scale;
    weight 0 drops the source entirely, and a ``source`` not in
    ``weights`` keeps one copy of each ``doc_id``."""
    h = _key_hash(F.col("doc_id"), "mix", 1_000_000)
    copies = None
    for src, w in sorted(weights.items()):
        if w < 0:
            raise ValueError(f"negative weight for {src!r}")
        k = int(w)
        thr = int(round((w - k) * 1_000_000))
        c = F.lit(k) + F.when(h < thr, 1).otherwise(0)
        cond = F.col("source") == src
        copies = F.when(cond, c) if copies is None else copies.when(cond, c)
    copies = F.lit(1) if copies is None else copies.otherwise(1)
    return (
        df.withColumn("_c", copies)
        .filter(F.col("_c") > 0)
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.col("_c") - 1)))
        .drop("_c")
    )


def chunk_documents(
    docs: DataFrame,
    budget: int,
    overlap: int = 0,
) -> DataFrame:
    """Sliding-window chunking: split each doc's token span
    [0, n_tokens) into windows of ``budget`` tokens advancing by
    stride = budget - overlap (context-window prep for long docs; the
    boundary-straddling docs of ``pack_sequences`` are the natural
    input). The last window is the first one whose end reaches n, so
    every token is covered and a doc never emits a fully-redundant tail
    window. Zero-token docs emit no chunks.

    Pure map-side sequence+explode — NO shuffle at any scale. Chunk
    count uses integer ``div`` (exact in both engines; a floor of
    double division would misassign at extreme token counts).
    """
    stride = budget - overlap
    if stride <= 0:
        raise ValueError(f"overlap {overlap} must be < budget {budget}")
    n = F.col("n_tokens")
    kmax = F.when(n <= budget, F.lit(0)).otherwise(
        F.expr(f"(n_tokens - {budget} + {stride - 1}) div {stride}")
    )
    d = docs.filter(n > 0).withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), kmax))
    )
    start = F.col("chunk_idx") * stride
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        start.cast("bigint").alias("start_tok"),
        F.least(start + budget, n).cast("bigint").alias("end_tok"),
    )


def apply_dedup(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize the deduped corpus: drop every doc its near-dup
    cluster marked ``keep=false`` (see dedup.near_dup_clusters); docs in
    no cluster pass through untouched. The drop-list is |duplicates| ≪
    corpus, so the anti join broadcasts."""
    drops = clusters.filter(~F.col("keep")).select(id_col)
    return docs.join(F.broadcast(drops), id_col, "left_anti")
