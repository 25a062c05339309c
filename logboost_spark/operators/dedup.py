"""Deduplication operators for training-data pipelines.

Not in the reference (LogBoost never dedupes rows) — these are the
first-class large-scale additions: exact, MinHash+LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup over a ``documents``-shaped table
(doc_id, text) / ``embeddings`` (vec_id, embedding array<float>).

Scale notes (100 TB):
* exact_dedup — one shuffle keyed on the full 128-bit md5 hex digest
  (a truncated hash silently merges distinct docs at billion-doc scale:
  a 60-bit key collides w.h.p. past ~2^30 documents).
* minhash_lsh_pairs — the scale path: shingle→minhash signatures are
  computed map-side (explode → groupBy doc), candidate generation
  shuffles on band keys only, each bucket emits LINEAR star edges
  (min-doc representative → member) instead of quadratic all-pairs, and
  a verify stage computes exact shingle Jaccard on candidates only.
  With k=128 / 16 bands × r=8 the banding S-curve sits near
  (1/16)^(1/8) ≈ 0.71, so sub-near-dup pairs are exponentially
  suppressed instead of flooding the shuffle.
* ngram_jaccard_pairs — exact inverted-index join; ``df_cap`` bounds the
  quadratic blowup of hot shingles by excluding shingles that appear in
  more than df_cap documents from the similarity universe (both the
  index AND the per-doc counts, so the measure stays a true Jaccard over
  the filtered universe).
* embedding_near_dups — brute-force verifier (sampled scales);
  embedding_near_dups_lsh is the production path: banded
  random-hyperplane signatures bucket the corpus, candidates share any
  band, exact cosine verifies.
* All hashing goes through md5 (functions/hashing.py) so the DuckDB
  oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_P, md5_long, minhash_params

MAX_LABEL_ROUNDS = 20
#: word n-gram size of the near-dup shingles (MinHash-LSH, n-gram Jaccard)
SHINGLE_N = 2
#: word n-gram size of decontamination collisions; GPT-3 (appendix C)
#: used 8-13-grams on real text, the fixture's tiny-vocab word salad
#: needs 3 to show real overlap
DECONTAMINATE_N = 3
SIMHASH_BITS = 32


def tokens(col):
    return F.split(F.lower(F.trim(col)), r"\s+")


def shingles_of_tokens(toks, n: int):
    """Distinct word n-gram shingles from a token-array column
    (array<string>).

    ``toks`` MUST be a staged attribute (a real column), not an inline
    expression: the lambda references it n+1 times per gram, and Catalyst
    inlines expression subtrees into every reference — an inline
    regex-split made this ~100× slower per doc (measured).

    Guarded for docs shorter than n tokens: F.sequence(0, size-n) would
    produce a DESCENDING sequence (Spark defaults step=-1 when
    start > stop) and emit a spurious short shingle — short docs yield
    an empty array instead.
    """
    if n <= 1:
        return F.array_distinct(toks)
    # zip_with over shifted slices, NOT transform(sequence, get-chain):
    # the get-chain evaluates interpreted per index and measured ~9×
    # slower per row; zipping n-1 shifted slices does one concat per gram
    m = F.size(toks) - n + 1
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, 1 + j, m), lambda x, y: F.concat_ws(" ", x, y)
        )
    guarded = F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(guarded)


def with_shingles(df: DataFrame, n: int, out: str) -> DataFrame:
    """Append a shingle-array column of ``text`` via a staged token
    attribute."""
    df = df.withColumn("_toks", tokens(F.col("text")))
    return df.withColumn(out, shingles_of_tokens(F.col("_toks"), n)).drop("_toks")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the lowest id per identical text (hash-groupBy, one shuffle).

    Groups on the full 128-bit md5 hex digest — collision-safe at any
    corpus size that fits a cluster (truncated hashes are not).
    """
    return (
        docs.withColumn("_h", F.md5(F.col("text")))
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .drop("_h")
    )


def _element_hashes(docs: DataFrame, ngram: int = 1) -> DataFrame:
    # explode_OUTER + not-null on the OUTPUT ≡ explode (shingle arrays
    # never contain nulls), but avoids the Generate's inferred
    # size(_sh)>0 pushdown filter, which Catalyst inlines into the scan
    # with the whole staged shingle expression — doubling its compute
    # (same trap as the attribute staging above, one layer further down).
    staged = with_shingles(docs, ngram, out="_sh")
    return (
        staged.select(F.col("doc_id"), F.explode_outer(F.col("_sh")).alias("_tok"))
        .filter(F.col("_tok").isNotNull())
        .withColumn("_hv", md5_long(F.col("_tok")))
    )


def minhash_signatures(
    docs: DataFrame,
    k: int = 8,
    ngram: int = 1,
) -> DataFrame:
    """k-permutation MinHash over the distinct token/shingle set of each doc."""
    th = _element_hashes(docs, ngram)
    # stage pmod(_hv, P) ONCE: Catalyst does not CSE across aggregate
    # expressions (same trap as the BPE encode staging, r07), so inlining
    # it ran the inner mod k times per token row — identical arithmetic,
    # k-1 fewer bigint mods per row
    th = th.withColumn("_hvm", F.pmod(F.col("_hv"), F.lit(MERSENNE_P)))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("_hvm") + F.lit(b), F.lit(MERSENNE_P))).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(k))
    ]
    return th.groupBy("doc_id").agg(*aggs)


def minhash_band_buckets(
    sig: DataFrame, k: int, bands: int
) -> DataFrame:
    """Signature matrix → (id, band, bkey) rows, one explode pass
    (no per-band unions; the fact side is touched once)."""
    r = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", *[F.col(f"mh{b * r + j}") for j in range(r)]).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col("doc_id"), F.explode(band_structs).alias("_bb")).select(
        "doc_id", F.col("_bb.band").alias("band"), F.col("_bb.bkey").alias("bkey")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 64,
    bands: int = 8,
    threshold: float | None = 0.8,
) -> DataFrame:
    """Near-dup pairs via MinHash banding over word ``SHINGLE_N``-gram
    shingles, star-edge candidates, and an exact-Jaccard verify stage.

    Candidate generation emits one edge per (bucket member, bucket
    representative=min id) — LINEAR in bucket size, so a degenerate hot
    bucket costs O(|bucket|) instead of O(|bucket|²); connected
    components (the dedup consumer) are preserved. ``threshold=None``
    skips the verify stage and returns raw candidate edges.

    k=64 (not 128): past ~100 aggregate columns Spark disables
    whole-stage codegen (spark.sql.codegen.maxFields) and the signature
    aggregate falls back to interpreted eval — measured 2-4× slower for
    no recall gain (8 bands × r=8 already puts the S-curve midpoint at
    (1/8)^(1/8) ≈ 0.77 with catch-prob ≈ 0.99 at j=0.9).

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b guaranteed by the
    min-representative construction.
    """
    sig = minhash_signatures(docs, k, SHINGLE_N)
    exploded = minhash_band_buckets(sig, k, bands)
    # Two-level min instead of min-over-window: groupBy combines MAP-SIDE
    # (only per-task partial mins shuffle), and the join-back is a real
    # join, so AQE skew-join can SPLIT a degenerate hot bucket (e.g. 1M
    # exact dups sharing every band key) across tasks — a window over
    # (band, bkey) pins the whole hot bucket into one task by definition.
    reps = exploded.groupBy("band", "bkey").agg(F.min("doc_id").alias("_rep"))
    cand = (
        exploded.join(reps, ["band", "bkey"])
        .filter(F.col("doc_id") != F.col("_rep"))
        .select(F.col("_rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    if threshold is None:
        return cand
    # Verify-stage byte diet (guide §3.2): only candidate docs need
    # their shingles recomputed and shuffled, and candidates are a tiny
    # fraction of the corpus (banding is selective by design). The
    # candidate edge list is localCheckpointed (rows are (id,id) pairs —
    # dup-pair-sized, like near_dup_clusters' edge list) so deriving the
    # candidate-id set does NOT re-run the signature pipeline, then the
    # docs side is semi-join-filtered BEFORE the shingle projection:
    # non-candidate docs never build shingle arrays and never enter the
    # verify shuffles (before: both verify sides recomputed + shuffled
    # shingles for the ENTIRE corpus).
    cand = cand.localCheckpoint(eager=False)
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs_cand = docs.join(F.broadcast(ids), "doc_id", "left_semi")
    # shuffle-hash hint: the docs side is never broadcastable at scale,
    # and auto-broadcast here would serialize the whole shingle
    # recomputation into ONE broadcast-build task (measured 2×+ of the
    # query); the shuffle join keeps it parallel and scale-shaped.
    sh = with_shingles(docs_cand, SHINGLE_N, out="_sh").select("doc_id", "_sh").hint("shuffle_hash")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_shb"))
    jac = F.size(F.array_intersect("_sha", "_shb")) / F.size(F.array_union("_sha", "_shb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("_j", jac)
        .filter(F.col("_j") >= threshold)
        .select("doc_a", "doc_b", F.round("_j", 6).alias("jaccard"))
    )


def simhash(docs: DataFrame) -> DataFrame:
    """``SIMHASH_BITS``-bit SimHash fingerprint: per-bit majority vote of
    token hashes."""
    th = _element_hashes(docs)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_hv"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = th.groupBy("doc_id").agg(*votes)
    sh = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"_v{j}") > 0, F.lit(2 ** j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sh = term if sh is None else sh + term
    return agg.select(F.col("doc_id"), sh.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact word ``SHINGLE_N``-gram Jaccard similarity join via inverted
    index.

    |A∩B| from the shingle-share counts, |A∪B| = |A|+|B|-|A∩B|. The
    shingle join is the shuffle; frequent shingles are the skew risk.
    ``df_cap`` excludes shingles appearing in more than df_cap documents
    from the similarity universe — both the inverted index AND the
    per-doc sizes, so the result is the true Jaccard over the filtered
    universe and the join stays O(df_cap²) per hot shingle instead of
    quadratic in the corpus.
    """
    # explode_outer + not-null output filter: see _element_hashes — keeps
    # the inferred Generate filter from re-inlining the shingle build
    sh = (
        with_shingles(docs, SHINGLE_N, out="_grams")
        .select(F.col("doc_id"), F.explode_outer(F.col("_grams")).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    if df_cap is not None:
        # df via partial-agg groupBy + semi-join, NOT count-over-window:
        # a stopword shingle at corpus scale would funnel every (doc, g)
        # row of the hot gram into ONE window task just to count-and-drop
        # them; groupBy counts map-side and the semi-join against the
        # surviving (cold) gram set is AQE-skew-splittable.
        keep = (
            sh.groupBy("g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= df_cap)
            .select("g")
        )
        sh = sh.join(keep, "g", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_g"))
    sh = sh.join(sizes, "doc_id")
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_g").alias("na"),
            F.col("b.n_g").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ANY word
    ``DECONTAMINATE_N``-gram with an evaluation/benchmark set — the
    standard pretraining decontamination pass (GPT-3 appendix C / Dodge
    et al. 2021).

    Returns one row per CONTAMINATED corpus doc: (id, hit_shingles =
    distinct colliding n-grams, example_shingle = lexicographically
    first collision for triage). Anti-join the result to drop them.

    Scale shape: the benchmark's distinct shingle set is tiny relative
    to a web corpus (eval suites ≈ 10^5-10^7 shingles, MBs) and is
    BROADCAST; the corpus side explodes shingles map-side and the
    broadcast semi-ish inner join + partial-agg per-doc count leaves the
    per-doc groupBy as the only corpus shuffle.
    """
    # explode_OUTER, not explode: the inner Generate infers a
    # size(_sh)>0 filter that Catalyst pushes to the scan with the whole
    # zip_with shingle expression INLINED — computing every doc's
    # shingles twice. The inner join on _g drops the outer-explode's
    # null rows anyway, so semantics are identical and shingles are
    # built once per row (verified in the physical plan).
    bs = F.broadcast(
        with_shingles(benchmark, DECONTAMINATE_N, out="_sh")
        .select(F.explode_outer("_sh").alias("_g"))
        .filter(F.col("_g").isNotNull())
        .distinct()
    )
    cs = with_shingles(corpus, DECONTAMINATE_N, out="_sh").select(
        F.col("doc_id"), F.explode_outer("_sh").alias("_g")
    )
    return (
        cs.join(bs, "_g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("hit_shingles"),
            F.min("_g").alias("example_shingle"),
        )
    )


def embedding_near_dups(emb: DataFrame, threshold: float = 0.45) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — brute-force all-pairs.

    O(n²): a VERIFIER for sampled scales; the production path is
    :func:`embedding_near_dups_lsh`.
    """
    from .similarity import cosine

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 5).alias("cos"))
    )


def embedding_near_dups_lsh(
    emb: DataFrame,
    threshold: float = 0.45,
    n_planes: int = 24,
    bands: int = 8,
    dim: int | None = None,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Scale path for embedding near-dups: banded random-hyperplane LSH.

    Vectors sharing any band key become candidate pairs; exact cosine
    verifies. ``bucket_cap`` drops degenerate hot buckets (a dense
    region's members still pair up through their other, more selective
    bands), bounding the per-bucket self-join at O(cap²). Probabilistic
    recall: P(pair found) = 1-(1-p^r)^L with p = 1-θ/π — tune
    (n_planes, bands) to the similarity regime; recall on the fixture is
    asserted in tests/test_similarity.py.
    """
    from .similarity import banded_signature_buckets, cosine, infer_dim

    dim = dim or infer_dim(emb)
    buckets = banded_signature_buckets(emb, n_planes, bands, dim)
    # Bucket-size cap via partial-agg groupBy + semi-join (see
    # ngram_jaccard_pairs df_cap note): counts combine map-side and a hot
    # (band, bkey) bucket never serializes into a single window task.
    keep = (
        buckets.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") <= bucket_cap)
        .select("band", "bkey")
    )
    buckets = buckets.join(keep, ["band", "bkey"], "left_semi")
    ba = buckets.select(F.col("vec_id").alias("id_a"), "band", "bkey")
    bb = buckets.select(F.col("vec_id").alias("id_b"), "band", "bkey")
    cand = (
        ba.join(bb, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 5).alias("cos"))
    )


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster, keep).

    The end product of a dedup pipeline: group transitively-linked
    near-dups and keep ONE canonical representative per cluster (the
    min doc_id). Iterative min-label propagation: each round every
    vertex takes the min label in its neighborhood; converges in
    O(component diameter) rounds — near-dup clusters are shallow (a
    dup of a dup of X is a dup of X), so a handful of rounds suffice.
    Each round is one shuffle-by-vertex; localCheckpoint cuts lineage
    so the plan doesn't grow per iteration. At extreme diameters the
    large-star/small-star variant caps rounds at O(log n); not needed
    for near-dup graphs. Raises if MAX_LABEL_ROUNDS rounds don't converge.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for _ in range(MAX_LABEL_ROUNDS):
        nbr = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nlab"))
        )
        # carry the OLD label through the update so convergence detection
        # is a sum over the same frame — one job per round, not a second
        # join of new-vs-old labels plus an extra pass
        upd = (
            labels.join(nbr, labels["id"] == nbr["dst"], "left")
            .select(
                "id",
                F.col("label").alias("_old"),
                F.least(F.col("label"), F.coalesce(F.col("nlab"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = upd.select(
            F.sum((F.col("label") != F.col("_old")).cast("long")).alias("c")
        ).collect()[0]["c"]
        labels = upd.drop("_old")
        if not changed:
            break
    else:
        raise RuntimeError(f"near_dup_clusters did not converge in {MAX_LABEL_ROUNDS} rounds")
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster"),
        (F.col("id") == F.col("label")).alias("keep"),
    )
