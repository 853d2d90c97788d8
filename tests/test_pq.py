"""Product quantization: compression shape, deterministic codes, ADC
ordering sanity, and refined recall >= 0.8 on clustered vectors."""

from __future__ import annotations

from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.operators.pq import pq_encode, pq_search, pq_train

from .conftest import SF_DIR
from .test_ann_and_components import _clustered_vectors


def test_pq_compression_shape_and_determinism(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq_train(emb, m=4, ksub=16, seed=7)
    assert len(books) == 4 and all(len(cb) == 16 for cb in books)
    dim = len(emb.select("embedding").first()[0])
    assert all(len(c) == dim // 4 for cb in books for c in cb)
    # the same rows at any partition count train the same codebooks
    for n in (1, 4, 8, 32):
        assert pq_train(emb.repartition(n), m=4, ksub=16, seed=7) == books, n

    a = {r["vec_id"]: r["pq_code"] for r in pq_encode(emb, books).collect()}
    b = {r["vec_id"]: r["pq_code"] for r in pq_encode(emb, books).collect()}
    assert a == b  # encoding is a pure function of (vectors, codebooks)
    assert all(len(c) == 4 and all(0 <= x < 16 for x in c) for c in a.values())


def test_pq_adc_prefers_identical_vector(spark):
    """The query's own vector must ADC-rank first: its codes match the
    query's nearest sub-centroids exactly."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    books = pq_train(emb, m=4, ksub=16, seed=7)
    encoded = pq_encode(emb, books)
    top = pq_search(encoded, books, qv, k=5).collect()
    assert top[0]["vec_id"] == 0
    # distances are non-decreasing down the list
    dists = [r["adc_dist"] for r in top]
    assert dists == sorted(dists)


def test_pq_refined_recall_on_clustered_vectors(spark):
    from delta_lake_optimizations_spark.operators.similarity import topk_cosine

    vecs = _clustered_vectors(spark, n_clusters=10, per_cluster=30, dim=32)
    qv = [float(x) for x in vecs.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {
        r["vec_id"]
        for r in topk_cosine(vecs, qv, k=10, id_col="vec_id").collect()
    }
    books = pq_train(vecs, m=4, ksub=16, seed=7)
    encoded = pq_encode(vecs, books)
    approx = {
        r["vec_id"]
        for r in pq_search(
            encoded, books, qv, k=10, refine_with=vecs, refine_factor=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"refined PQ recall {recall:.2f}"


def test_pq_registered_query_runs(spark):
    from delta_lake_optimizations_spark.operators.pq import ann_pq_topk

    rows = ann_pq_topk(spark, SF_DIR).collect()
    assert len(rows) == 10
    assert rows[0]["vec_id"] == 0  # self is the best cosine match
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
