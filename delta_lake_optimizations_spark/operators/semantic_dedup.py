"""SemDeDup-style semantic deduplication (Abbas et al. 2023,
arXiv:2303.09540): cluster the embedding space with k-means, then prune
near-duplicate pairs *within* each cluster only — the clustering turns a
corpus-wide O(n^2) cosine comparison into sum-of-squares over cluster
sizes, which is the published recipe for web-scale (100 TB) semantic
dedup of LLM training data.

Spark mapping:
- cluster assignment: :func:`..operators.ivf.ivf_build` — seeded NumPy
  k-means on a bounded hash-ordered sample (driver-side), then one
  Arrow-batched argmin pass over the corpus, no shuffle;
- within-cluster pairing: :func:`..operators.similarity.
  cosine_near_dup_pairs` with ``block_col='list_id'`` — an equi-join on
  the cluster id, so the pair space is bounded per cluster and the join
  shuffles on a small int key;
- keep rule: deterministic lowest-id-wins — a row is dropped iff some
  same-cluster near-duplicate with a smaller id exists (pairs are
  oriented ``id_a < id_b``, so losers are exactly the distinct ``vec_b``
  values), applied as a left-anti join.

Scale dials: ``nlist`` bounds the per-cluster quadratic term (SemDeDup
uses ~11k clusters for 1.3B docs — size nlist ~ n / 10k). The k-means
training sample is capped at 256 rows per cluster (``kmeans.PER_CENTROID``)
and a fixed byte budget, so only the assignment pass grows with the
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.operators.ivf import ivf_build
from delta_lake_optimizations_spark.operators.similarity import cosine_near_dup_pairs
from delta_lake_optimizations_spark.registry import query


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Within-cluster near-duplicate pairs ``(vec_a < vec_b, cos_sim)``.

    Separated from :func:`semantic_dedup` so callers can audit what would
    be removed (the SemDeDup paper's dedup-rate-vs-threshold sweep is a
    groupBy over this frame's count at several thresholds).
    """
    assigned, _ = ivf_build(df, nlist=nlist, vec_col=vec_col, id_col=id_col, seed=seed)
    return cosine_near_dup_pairs(
        assigned, threshold=threshold, id_col=id_col, vec_col=vec_col, block_col="list_id"
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Drop every row that has a same-cluster near-duplicate with a
    smaller id; returns the surviving rows of ``df`` unchanged otherwise.

    Deterministic for a fixed seed: k-means is seeded and the keep rule is
    id-ordered, so reruns (and different partitionings of the same data)
    keep the same rows.
    """
    pairs = semantic_dedup_pairs(
        df,
        threshold=threshold,
        nlist=nlist,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
    )
    losers = pairs.select(F.col("vec_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


@query("semantic_dedup_embeddings", tags=("dedup", "similarity"), oracle=None)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only driver entry (KMeans is not SQL-expressible): surviving
    ids after SemDeDup at cos >= 0.8 with label-count clusters. Accuracy
    is pinned against an exact all-pairs oracle in
    ``tests/test_semantic_dedup.py``."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    kept = semantic_dedup(embeddings, threshold=0.8, nlist=8)
    return kept.select("vec_id").orderBy("vec_id")


__all__ = ["semantic_dedup", "semantic_dedup_pairs"]
