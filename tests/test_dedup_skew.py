"""Hot-key defusal in the dedup operators: the star-edge min, the ngram
df_cap, and the embedding bucket_cap must be computed via map-side
partial-agg groupBy + join-back — NOT a Window over the hot key, which
pins every row of a degenerate bucket (1M exact dups, a stopword
shingle) into one task and cannot be skew-split by AQE."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hot_docs(spark, n_dup=200, n_uniq=200):
    """50%-hot corpus: n_dup identical docs + n_uniq unique docs that all
    share one stopword shingle."""
    rows = [(i, "alpha beta gamma delta shared stopword run") for i in range(n_dup)]
    rows += [
        (n_dup + i, f"uniq{i} tokens only here shared stopword tail{i}")
        for i in range(n_uniq)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").repartition(8)


def test_lsh_star_edges_hot_bucket_no_window(spark):
    from logboost_spark.operators.dedup import minhash_lsh_pairs

    docs = _hot_docs(spark)
    cand = minhash_lsh_pairs(docs, k=16, bands=4, threshold=None)
    plan = _plan(cand)
    assert "Window" not in plan, plan[:3000]
    # map-side partial min before the shuffle (two-level aggregation)
    assert "partial_min" in plan or "partial_finishAggregation" in plan or "HashAggregate" in plan

    rows = cand.collect()
    # the 200 identical docs share every band bucket -> LINEAR star edges
    # rooted at the min id (doc 0), not O(n^2) all-pairs
    hot = [r for r in rows if r.doc_b < 200]
    assert {r.doc_a for r in hot} == {0}
    assert {r.doc_b for r in hot} == set(range(1, 200))
    assert len(hot) == 199


def test_ngram_df_cap_excludes_hot_shingle_no_window(spark):
    from logboost_spark.operators.dedup import ngram_jaccard_pairs

    docs = _hot_docs(spark, n_dup=0, n_uniq=120)
    out = ngram_jaccard_pairs(docs, threshold=0.2, df_cap=50)
    assert "Window" not in _plan(out)
    # every pair of unique docs overlaps ONLY through the hot
    # 'shared stopword' shingle; with df_cap below its df the shingle
    # leaves the similarity universe and no pair survives
    assert out.count() == 0
    # without the cap the hot shingle creates pairwise overlap
    assert (
        ngram_jaccard_pairs(docs.limit(20), threshold=0.05, df_cap=None).count() > 0
    )


def test_embedding_bucket_cap_drops_hot_bucket_no_window(spark):
    from logboost_spark.operators.dedup import embedding_near_dups_lsh

    # 150 identical vectors (one degenerate bucket) + a handful of others
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(150)]
    rows += [(150 + i, [0.0, 1.0, float(i) / 10, 0.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = embedding_near_dups_lsh(
        emb, threshold=0.9, n_planes=12, bands=4, dim=4, bucket_cap=50
    )
    assert "Window" not in _plan(out)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    # the capped identical-vector bucket contributes nothing; the small
    # similar cluster still pairs up
    assert all(a >= 150 and b >= 150 for a, b in got), sorted(got)[:5]
    assert got, "small cluster should survive the cap"
