"""IVF (inverted-file) approximate nearest-neighbor search (SURVEY §2.9 X3).

The scale path for ANN beyond hyperplane LSH: partition the vector space
into ``nlist`` Voronoi cells (k-means centroids), store each vector in its
cell's posting list, and at query time probe only the ``nprobe`` nearest
cells — the classic IVF design from the FAISS / Jegou et al. lineage,
expressed in Spark primitives:

- **build**: seeded NumPy k-means (``operators/kmeans.py``) on a bounded
  hash-ordered sample, driver-side; assignment is one Arrow-batched
  argmin pass over the corpus (``assign_to_centroids``), shared with the
  index build and append paths.
- **search**: centroid scan is driver-side (``nlist`` is small by design,
  e.g. 4096 at 1e9 vectors); candidates come from a partition-pruned
  filter ``list_id IN (probes)``, then exact cosine re-rank with
  ``TakeOrderedAndProject`` (per-partition top-k, driver merge).

This module holds the inline forms (fit per call) and the EXACT-probe
readers of the materialized index. There is one materialized IVF layout:
the IVF-PQ table (``operators/ivfpq.py``), a GraftTable partitioned by
``list_id`` with the centroids in its properties. The exact readers here
use only its ``list_id``, id and vector columns; the ADC readers in
``ivfpq.py`` use its codes.
"""

from __future__ import annotations

import json as _json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.operators.kmeans import (
    kmeans,
    nearest,
    probe_cells,
    training_sample,
)
from delta_lake_optimizations_spark.operators.similarity import topk_cosine
from delta_lake_optimizations_spark.queries.vectors import (
    cosine_with_norms,
    l2_norm_py,
    norm_col,
)
from delta_lake_optimizations_spark.registry import query


def ivf_build(
    df: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> tuple[DataFrame, list[list[float]]]:
    """Fit centroids and assign every vector to its nearest cell.

    Returns ``(assigned_df, centroids)`` where ``assigned_df`` is the input
    plus a ``list_id`` int column, and ``centroids`` is the nlist x dim
    list (small, driver-side — it IS the index metadata).
    """
    centroids = fit_centroids(training_sample(df, vec_col, nlist, seed), nlist, seed)
    return assign_to_centroids(df, centroids, vec_col=vec_col), centroids


def fit_centroids(X, nlist: int, seed: int) -> list[list[float]]:
    """k-means centroids of the sample matrix ``X``, rounded to 8 dp (the
    JSON-exact values the index stores), so inline and materialized paths
    assign and probe with identical numbers."""
    return [[round(x, 8) for x in c] for c in kmeans(X, nlist, seed).tolist()]


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the ``nprobe`` cells nearest the query, exact-rerank to top-k."""
    cand = assigned.filter(F.col("list_id").isin(probe_cells(centroids, query_vec, nprobe)))
    return topk_cosine(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def _knn_join_cells(
    assigned: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The cell-blocked k-NN join tail shared by the inline and indexed
    forms: probe map (nlist x nprobe, driver-side — tiny by design)
    broadcast against the assigned frame, candidates equi-joined on the
    cell id — shuffle on ``list_id``, quadratic only WITHIN a cell,
    never across the corpus — exact cosine + per-src top-k window."""
    from pyspark.sql import Window

    probe_rows = [
        (i, j) for i, ci in enumerate(centroids) for j in probe_cells(centroids, ci, nprobe)
    ]
    probes = assigned.sparkSession.createDataFrame(
        probe_rows, "list_id int, probe_id int"
    )

    # r11 norm-once: per-side norms projected once per row BEFORE the
    # cell join — per-pair work inside a cell is the dot alone.
    left = (
        assigned.select(
            F.col(id_col).alias("src_id"),
            F.col(vec_col).alias("_qv"),
            norm_col(F.col(vec_col)).alias("_qn"),
            "list_id",
        )
        .join(F.broadcast(probes), "list_id")
        .select("src_id", "_qv", "_qn", F.col("probe_id").alias("_cell"))
    )
    right = assigned.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("_nv"),
        norm_col(F.col(vec_col)).alias("_nn"),
        F.col("list_id").alias("_cell"),
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        left.join(right, ["_cell"])
        .filter(F.col("src_id") != F.col("nbr_id"))
        .select(
            "src_id",
            "nbr_id",
            F.round(
                cosine_with_norms(
                    F.col("_qv"), F.col("_nv"), F.col("_qn"), F.col("_nn")
                ),
                6,
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_knn_join(
    df: DataFrame,
    nlist: int = 16,
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Approximate k-NN JOIN (every row, not one query) blocked by IVF
    cells: each vector's candidates are the vectors assigned to its own
    cell plus its ``nprobe - 1`` next-nearest cells.

    This is the INLINE form (fits k-means per call — right for one-off
    exploration); ``knn_join_from_ivf_index`` answers the same join from
    a materialized index with no refit. On clustered embeddings (the
    realistic case) recall is high because true neighbours share a
    Voronoi cell; see tests/test_ann_and_components.py for the pinned
    recall bound.
    """
    assigned, centroids = ivf_build(df, nlist=nlist, vec_col=vec_col, id_col=id_col, seed=seed)
    return _knn_join_cells(assigned, centroids, nprobe, k, id_col, vec_col)


def knn_join_from_ivf_index(
    table,
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch k-NN JOIN answered from the MATERIALIZED IVF index: cell
    assignments come off the stored table (one pruned columnar scan) and
    the probe map from the stored centroids — no k-means fit at query
    time, the batch sibling of ``ann_topk_from_ivf_index``. It reads the
    IVF-PQ table's raw vector column: per-query ADC LUTs don't apply to a
    whole-corpus join."""
    centroids = ivf_index_centroids(table)
    assigned = table.load().select("list_id", id_col, vec_col)
    return _knn_join_cells(assigned, centroids, nprobe, k, id_col, vec_col)


@query("knn_join_ivf", tags=("similarity", "approx", "knn"))
def knn_join_ivf(spark, sf_dir: str) -> DataFrame:
    """Approximate 3-NN join blocked by IVF cells (rows-only driver
    check; pytest pins recall >= 0.8 on clustered vectors at a bounded
    candidate fraction)."""
    from delta_lake_optimizations_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_knn_join(emb, nlist=8, nprobe=3, k=3)


@query("ann_ivf_topk", tags=("similarity", "approx"))
def ann_ivf_topk(spark, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-10 for vec_id=0 (rows-only driver check;
    pytest pins recall vs brute force and centroid determinism)."""
    from delta_lake_optimizations_spark.catalog import load_table
    from delta_lake_optimizations_spark.operators.similarity import query_vector

    emb = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(spark, sf_dir, 0)
    assigned, centroids = ivf_build(emb, nlist=8, seed=7)
    return ivf_search(assigned, centroids, qv, k=10, nprobe=4)


# ---------------------------------------------------------------------------
# Exact probes of the materialized IVF index. The index is the IVF-PQ table
# (``ivfpq.build_ivfpq_index``): PARTITIONED BY list_id, centroids carried
# in table properties. A probe loads only the nprobe partitions nearest the
# query — hive-dir + stats pruning through the engine's own skip_where
# machinery — so query IO is nprobe/nlist of the index at any scale.
# ---------------------------------------------------------------------------

CENTROIDS_PROP = "graft.ivf.centroids"


def ivf_index_centroids(table) -> list[list[float]]:
    """Centroid matrix back out of the table properties."""
    return _json.loads(table.snapshot().properties[CENTROIDS_PROP])


def ann_topk_from_ivf_index(
    table,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k from the materialized IVF index: rank centroids driver-side
    (nlist is small by design), load ONLY the nprobe nearest cells'
    partitions (``list_id IN probes`` -> hive-partition pruning), exact
    cosine re-rank. No k-means fit, no full scan, at query time."""
    probes = probe_cells(ivf_index_centroids(table), query_vec, nprobe)
    cand = table.load(skip_where=[("list_id", "in", probes)]).select(id_col, vec_col)
    return topk_cosine(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ann_topk_batch_from_ivf(
    table,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k for a BATCH of queries from the materialized IVF index in
    ONE plan (columns ``qid, <id_col>, cos_sim``): per-query probe cells
    rank driver-side (nlist is tiny), the UNION of probed cells drives a
    single partition-pruned load, the (qid, list_id) probe map broadcast-
    joins candidates to their queries, and the per-query exact-cosine
    top-k reduces skew-free (``topk_per_query``). Candidates per query
    are IDENTICAL to ``ann_topk_from_ivf_index`` at the same nprobe, so
    results match the single-query probe row-for-row (pinned by pytest) —
    what batching buys is amortization: one scan setup, one plan compile,
    one job for Q queries instead of Q of each."""
    from delta_lake_optimizations_spark.operators.similarity import (
        topk_per_query,
    )

    centroids = ivf_index_centroids(table)
    probe_rows: list[tuple[int, int]] = []
    cells: set[int] = set()
    for qid, qv in queries:
        for c in probe_cells(centroids, qv, nprobe):
            probe_rows.append((int(qid), int(c)))
            cells.add(int(c))
    spark = table.spark
    # r11 norm-once: query norms fold driver-side (bit-identical, see
    # l2_norm_py) and ride the broadcast row; the corpus norm projects
    # once per candidate row BELOW the fanout joins, so the generated
    # loop reuses it across every (qid, row) pair.
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in v], l2_norm_py(v)) for q, v in queries],
        "qid long, _qv array<double>, _qn double",
    )
    pdf = spark.createDataFrame(probe_rows, "qid long, list_id int")
    cand = table.load(skip_where=[("list_id", "in", sorted(cells))]).select(
        "list_id", id_col, vec_col, norm_col(F.col(vec_col)).alias("_vn")
    )
    scored = (
        cand.join(F.broadcast(pdf), "list_id")
        .join(F.broadcast(qdf), "qid")
        .select(
            "qid",
            id_col,
            F.round(
                cosine_with_norms(
                    F.col(vec_col), F.col("_qv"), F.col("_vn"), F.col("_qn")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return topk_per_query(scored, k, "qid", id_col)


def ivf_probe_files_scanned(table, query_vec: list[float], nprobe: int = 4) -> int:
    """Index files the probe reads (partition pruning, driver-side)."""
    probes = probe_cells(ivf_index_centroids(table), query_vec, nprobe)
    return table.files_scanned(skip_where=[("list_id", "in", probes)])


@query("ann_ivf_topk_indexed", tags=("similarity", "approx", "index"))
def ann_ivf_topk_indexed(spark, sf_dir: str) -> DataFrame:
    """Exact-rerank IVF top-10 for vec_id=0 served from the MATERIALIZED
    IVF-PQ index (list_id-partitioned GraftTable, centroids from table
    properties): no per-query k-means fit, and the probe reads only
    nprobe/nlist of the index via partition pruning, then scores the
    stored float vectors exactly. (Rows-only driver check;
    ``ann_ivf_indexed_matches_inline`` is the oracle-backed equivalence
    metric.)"""
    from delta_lake_optimizations_spark.operators.ivfpq import _cached_ivfpq_index
    from delta_lake_optimizations_spark.operators.similarity import query_vector

    t = _cached_ivfpq_index(spark, sf_dir, nlist=8, m=4, ksub=16)
    qv = query_vector(spark, sf_dir, 0)
    return ann_topk_from_ivf_index(t, qv, k=10, nprobe=4)


@query("knn_join_ivf_indexed", tags=("similarity", "approx", "knn", "index"))
def knn_join_ivf_indexed(spark, sf_dir: str) -> DataFrame:
    """Approximate 3-NN join for EVERY vector, answered from the
    materialized IVF-PQ index (stored assignments + stored centroids +
    stored float vectors, no refit). (Rows-only driver check;
    ``knn_join_ivf_matches_inline`` is the oracle-backed equivalence
    metric.)"""
    from delta_lake_optimizations_spark.operators.ivfpq import _cached_ivfpq_index

    t = _cached_ivfpq_index(spark, sf_dir, nlist=8, m=4, ksub=16)
    return knn_join_from_ivf_index(t, nprobe=3, k=3)


def assign_to_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment against FIXED centroids (no refit) —
    one Arrow-batched numpy argmin pass; the inline build and the IVF-PQ
    index build and append paths share it, so increments join the same
    Voronoi cells."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)  # (nlist, dim)

    def assign(emb):
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
        return pd.Series(nearest(X, C).astype("int32"))

    assign.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    udf = pandas_udf("int")(assign)
    return df.withColumn("list_id", udf(F.col(vec_col)))
