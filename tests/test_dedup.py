"""Dedup operator family: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

import pytest
from pyspark.sql import functions as F

from logboost_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    with_shingles,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),  # near dup of 0
    (3, "completely different content about spark engines and shuffles"),
    (4, "spark engines and shuffles are completely different content about"),  # shifted tokens of 3
    (5, "unrelated text mentioning nothing similar whatsoever here today"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_dedup(spark, docs):
    out = {r.doc_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # doc 1 collapsed into doc 0
    assert 1 not in out
    assert out[3] == 1


def test_minhash_identical_token_sets(spark, docs):
    sigs = {r.doc_id: tuple(r[i] for i in range(1, 9)) for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]  # identical text
    assert sigs[0] != sigs[5]


def test_minhash_lsh_candidates(spark, docs):
    # threshold=None → raw star-edge candidates; identical docs share
    # every band, unrelated docs share none (md5-backed minhash)
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=None).collect()}
    assert (0, 1) in pairs
    assert (0, 5) not in pairs and (3, 5) not in pairs


def test_minhash_lsh_verified_pairs(spark, docs):
    # verify stage: only the exact dup survives jaccard >= 0.8
    # (docs 0 vs 2 share 7/9 bigrams = 0.78; 3 vs 4 share 6/9 = 0.67)
    out = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert out == {(0, 1): 1.0}


def test_minhash_lsh_star_edges_linear(spark):
    # a bucket of m identical docs must emit m-1 star edges, not m(m-1)/2
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cand = minhash_lsh_pairs(df, threshold=None).collect()
    assert len(cand) == 9
    assert all(r.doc_a == 0 for r in cand)


def test_simhash_similarity(spark, docs):
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh[0] == sh[1]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sh[0], sh[2]) < hamming(sh[0], sh[5])


def test_ngram_jaccard_exact_value(spark, docs):
    out = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert out[(0, 1)] == 1.0
    # 0 vs 2: 8 bigrams each, 7 shared → 7/9
    assert abs(out[(0, 2)] - 7 / 9) < 1e-6


def test_shingles_short_doc_guard(spark):
    # docs shorter than n tokens yield NO shingles (a descending
    # F.sequence would otherwise emit a spurious 1-token gram)
    df = spark.createDataFrame([(0, "hello"), (1, "hello")], "doc_id bigint, text string")
    grams = with_shingles(df, 2, "sh").select(F.size("sh").alias("n")).collect()
    assert all(r.n == 0 for r in grams)
    # ...so two short docs sharing a token are NOT jaccard-1.0 pairs
    assert ngram_jaccard_pairs(df, threshold=0.1).count() == 0


def test_ngram_jaccard_df_cap_bounds_hot_shingle(spark):
    # 20 docs share one hot bigram; each also has a unique tail. With
    # df_cap below 20 the hot shingle is excluded from the universe, so
    # no pair survives (their only overlap was the hot shingle) and the
    # inverted-index join stays bounded.
    rows = [(i, f"hot gram unique{i} tail{i}") for i in range(20)]
    rows += [(100, "real dup pair body text"), (101, "real dup pair body text")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(df, threshold=0.3, df_cap=10).collect()}
    assert out == {(100, 101)}
    # without the cap, the hot shingle creates 190 candidate pairs
    uncapped = ngram_jaccard_pairs(df, threshold=0.01).count()
    assert uncapped > 100


def test_embedding_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),  # ~parallel to 0
        (2, [0.0, 1.0, 0.0]),  # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = {(r.id_a, r.id_b) for r in embedding_near_dups(emb, threshold=0.9).collect()}
    assert pairs == {(0, 1)}


def test_near_dup_clusters_known_graph(spark):
    """Chain 1-2-3, triangle 10-11-12 (with redundant edge), isolated
    pair (20,21): three components, min-id representative kept."""
    from logboost_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a bigint, doc_b bigint",
    )
    got = {r.doc_id: (r.cluster, r.keep) for r in near_dup_clusters(pairs).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False), 12: (10, False),
        20: (20, True), 21: (20, False),
    }
