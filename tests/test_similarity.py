"""ANN: brute-force exactness vs a numpy oracle; banded-LSH recall."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from logboost_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    infer_dim,
    ivf_codebook,
    sampled_codebook,
)

SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(120, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(120)]
    return vecs, spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _numpy_topk(vecs, qids, k):
    out = {}
    norms = np.linalg.norm(vecs, axis=1)
    for q in qids:
        cos = vecs @ vecs[q] / (norms * norms[q])
        order = sorted(range(len(vecs)), key=lambda i: (-cos[i], i))
        out[q] = [i for i in order if i != q][:k]
    return out


def test_bruteforce_matches_numpy(spark, emb):
    vecs, df = emb
    q = df.filter(F.col("vec_id") < 3)
    got = cosine_topk_bruteforce(df, q, k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, -r.cos, r.neighbor_id)):
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    want = _numpy_topk(vecs, [0, 1, 2], 5)
    assert by_q == want


def test_infer_dim(spark, emb):
    _, df = emb
    assert infer_dim(df) == 16


def test_lsh_returns_true_cosines(spark, emb):
    vecs, df = emb
    q = df.filter(F.col("vec_id") < 3)
    approx = cosine_topk_lsh(df, q, k=5, n_planes=8, bands=4, dim=16).collect()
    assert len(approx) > 0
    for r in approx:
        c = float(
            vecs[r.query_id]
            @ vecs[r.neighbor_id]
            / (np.linalg.norm(vecs[r.query_id]) * np.linalg.norm(vecs[r.neighbor_id]))
        )
        assert abs(c - r.cos) < 1e-4


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_lsh_recall_on_fixture(spark):
    """Recall@10 of the gate query's banded LSH vs exact brute force —
    the measured number backing the ann_topk_lsh entry (VERDICT r1 #7)."""
    embp = spark.read.parquet(os.path.join(SF001, "embeddings.parquet"))
    q = embp.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk_bruteforce(embp, q, k=10).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_lsh(embp, q, k=10, n_planes=12, bands=6, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@10 {recall} < 0.9"


def test_ivf_returns_true_cosines(spark, emb):
    """IVF candidates carry exact cosines (the re-rank is exact) and
    every query returns at most k rows."""
    vecs, df = emb
    q = df.filter(F.col("vec_id") < 3)
    got = cosine_topk_ivf(df, q, k=5, n_cells=8, nprobe=3, dim=16).collect()
    assert len(got) > 0
    per_q = {}
    for r in got:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        c = float(
            vecs[r.query_id]
            @ vecs[r.neighbor_id]
            / (np.linalg.norm(vecs[r.query_id]) * np.linalg.norm(vecs[r.neighbor_id]))
        )
        assert abs(c - r.cos) < 1e-4
    assert all(v <= 5 for v in per_q.values())


def test_ivf_with_trained_codebook(spark, emb, tmp_path):
    """A data-sampled codebook plugs into cosine_topk_ivf."""
    _, df = emb
    path = str(tmp_path / "emb.parquet")  # one file, as pyarrow reads it
    df.toPandas().to_parquet(path)
    cents = sampled_codebook(path, 6)
    assert len(cents) == 6 and all(len(c) == 16 for c in cents)
    q = df.filter(F.col("vec_id") < 2)
    got = cosine_topk_ivf(df, q, k=5, nprobe=2, dim=16, codebook=cents).collect()
    assert len(got) > 0


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_ivf_recall_on_fixture(spark):
    """Recall@10 of the gate query's IVF (16 sampled cells, nprobe=4)
    vs exact brute force — the measured number backing ann_topk_ivf."""
    path = os.path.join(SF001, "embeddings.parquet")
    embp = spark.read.parquet(path)
    cb = sampled_codebook(path, 16)
    q = embp.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk_bruteforce(embp, q, k=10).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(embp, q, k=10, nprobe=4, dim=64, codebook=cb).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@10 {recall} < 0.9"


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_near_dup_lsh_recall_on_fixture(spark):
    """The LSH near-dup path must find ≥85% of the true cos≥0.45 pairs
    (banding math: p=1-θ/π ∈ [.65,.70] → 1-(1-p³)^8 ≈ .92-.97)."""
    from logboost_spark.operators.dedup import embedding_near_dups, embedding_near_dups_lsh

    embp = spark.read.parquet(os.path.join(SF001, "embeddings.parquet"))
    exact = {(r.id_a, r.id_b) for r in embedding_near_dups(embp, threshold=0.45).collect()}
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups_lsh(embp, threshold=0.45, n_planes=24, bands=8, dim=64).collect()
    }
    assert approx <= exact  # verify stage: no false positives
    assert len(approx) / len(exact) >= 0.85


def test_l2_normalize_and_quantize(spark):
    import math

    from pyspark.sql import functions as F

    from logboost_spark.operators.similarity import l2_normalize, quantize_int8

    rows = [
        (0, [3.0, 4.0]),
        (1, [0.0, 0.0]),          # zero vector -> null (not Inf/NaN)
        (2, [-1.0, 2.0, -2.0]),
        (3, [0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {
        r.vec_id: r
        for r in df.select(
            "vec_id",
            l2_normalize(F.col("embedding")).alias("u"),
            quantize_int8(F.col("embedding")).alias("q"),
        ).collect()
    }
    assert [round(x, 6) for x in got[0].u] == [0.6, 0.8]
    assert got[1].u is None and got[1].q is None
    n2 = math.sqrt(1 + 4 + 4)
    assert [round(x, 6) for x in got[2].u] == [round(v / n2, 6) for v in (-1, 2, -2)]
    # quantization: max-abs element maps to ±127, signs preserved
    assert got[0].q == [round(3 / 4 * 127), 127]
    assert got[2].q == [round(1 / 2 * 127) * -1, 127, -127]
    assert got[3].q == [127]
    # unit norm holds after normalization
    for vid in (0, 2, 3):
        assert abs(sum(x * x for x in got[vid].u) - 1.0) < 1e-9
