"""Connected components over near-dup pair edges (SURVEY §2.9 X2).

Near-dup detection (MinHash/SimHash/cosine) yields PAIRS; deduplication
needs CLUSTERS — the transitive closure. This is iterative min-label
propagation (the "hash-to-min" style used by large-scale dedup pipelines,
e.g. the BigQuery/Spark CC literature): every vertex repeatedly adopts the
smallest component id among itself and its neighbors until fixpoint.

Scale properties: each iteration is one equi-join + one groupBy (both
shuffle on vertex id, so AQE coalesces/skew-handles them); a label moves
one hop per round, so the round count is the largest distance from a
component's min-id vertex (tiny near-dup clusters → 1-3 rounds). A
component needing more than ``max_iter`` rounds comes back with
unconverged labels. Each round's frame is materialized with an eager
``localCheckpoint``, so every round plans over a short lineage instead of
the whole upstream pair pipeline (GraphFrames cuts lineage the same way
with its ``checkpointInterval``), and the loop stops on a driver-side
scalar (count of changed labels), not a collect of data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.registry import query


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Return ``(vertex, component)`` where component = min vertex id
    reachable. Vertices are everything appearing in ``edges``.

    The symmetric edge set, the initial labels and every round's labels
    are local checkpoints: a round reads the previous round's
    materialized blocks, and its ``_chg`` column (neighbor min below own
    label) is counted on the same checkpointed frame, so the convergence
    test needs no join of new labels against old ones. The trade: local
    checkpoints live in executor storage and are not written to reliable
    storage, so a lost executor fails the job instead of recomputing the
    lost blocks from lineage."""
    sym = (
        edges.select(F.col(src).alias("v"), F.col(dst).alias("w"))
        .union(edges.select(F.col(dst).alias("v"), F.col(src).alias("w")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.groupBy("v").agg(F.min("w").alias("nbr_min"))
        .select("v", F.least("v", "nbr_min").alias("component"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # neighbor's current component, min over neighbors, compare to own
        nbr = (
            sym.join(labels.withColumnRenamed("v", "w"), "w")
            .groupBy("v")
            .agg(F.min("component").alias("nbr_comp"))
        )
        rnd = (
            labels.join(nbr, "v", "left")
            .select(
                "v",
                F.least("component", F.coalesce("nbr_comp", "component")).alias("component"),
                F.coalesce(F.col("nbr_comp") < F.col("component"), F.lit(False)).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = rnd.filter("_chg").count()
        labels = rnd.drop("_chg")
        if changed == 0:
            break
    return labels.select(F.col("v").alias("vertex"), "component")


def dedup_assign_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Attach a ``cluster_id`` to every row: the component representative
    (min id) for near-dup members, the row's own id for singletons. The
    dedup "keep one per cluster" step is then
    ``filter(col(id_col) == col("cluster_id"))``."""
    comp = connected_components(pairs, src=src, dst=dst)
    return (
        df.join(comp, df[id_col] == comp["vertex"], "left")
        .withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
        .drop("vertex", "component")
    )


@query("dedup_clusters_minhash", tags=("dedup", "approx"))
def dedup_clusters_minhash(spark, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs -> connected components -> one survivor per
    cluster (rows-only driver check; pytest verifies components against a
    union-find ground truth)."""
    from delta_lake_optimizations_spark.catalog import load_table
    from delta_lake_optimizations_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    clustered = dedup_assign_clusters(docs, pairs)
    return (
        clustered.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .orderBy("cluster_id")
    )


def pagerank(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    damping: float = 0.85,
    n_iter: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over an edge list; returns
    ``(vertex, rank)`` with ranks summing to ~1.

    The canonical ITERATIVE algorithm on DataFrames (complementing the
    min-label connected components above): each iteration is one
    contribution join (rank/degree scattered along edges) + one groupBy
    sum — both shuffle on vertex id, the same key every round, so AQE
    reuses the partitioning; dangling-mass and teleport terms are scalar
    arithmetic folded into the update. Each round's ranks are an eager
    ``localCheckpoint``, so a round plans over the previous round's
    materialized blocks rather than every earlier round's lineage (the
    same trade as ``connected_components``: a lost executor fails the job
    instead of recomputing its blocks).

    For near-dup graphs the ranks surface CANONICAL documents: the
    highest-rank vertex of each duplicate cluster is the best keep-one
    representative (most-connected copy), a principled alternative to
    min-id.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
    if not directed:
        e = e.union(edges.select(F.col(dst).alias("u"), F.col(src).alias("w")))
    e = e.distinct().persist()
    verts = e.select(F.col("u").alias("v")).union(e.select(F.col("w").alias("v"))).distinct().persist()
    n = verts.count()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    links = e.join(deg, "u").persist()  # (u, w, deg(u)) — reused every round

    ranks = verts.select("v", F.lit(1.0 / n).alias("rank"))
    for _ in range(n_iter):
        contribs = (
            links.join(ranks, links["u"] == ranks["v"])
            .select(F.col("w").alias("v"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("recv"))
        )
        # undirected symmetric graphs have no dangling vertices (every
        # vertex in `verts` has degree >= 1), so the teleport term alone
        # closes the mass balance
        ranks = (
            verts.join(contribs, "v", "left")
            .select(
                "v",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("recv"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    for f in (e, verts, links):
        f.unpersist()
    return ranks.select(F.col("v").alias("vertex"), F.round("rank", 8).alias("rank"))


@query("pagerank_dedup_graph", tags=("graph", "dedup", "iterative"))
def pagerank_dedup_graph(spark, sf_dir: str):
    """PageRank over the MinHash near-dup graph: rank-ordered canonical
    document candidates per duplicate cluster. (Rows-only driver check —
    iterative fixpoint isn't single-statement SQL; pytest verifies against
    a Python power-iteration reference on the collected edge list.)"""
    from delta_lake_optimizations_spark.catalog import load_table
    from delta_lake_optimizations_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    # 6 rounds: canonical-doc ORDERING stabilizes long before the values
    # do (the pytest pins 10-round values against the Python reference);
    # fewer rounds keeps the sequential-job count down — iteration cost
    # is per-round fixed overhead at small SF, shuffle volume at 100 TB
    return pagerank(pairs, n_iter=6).orderBy(F.col("rank").desc(), "vertex")
