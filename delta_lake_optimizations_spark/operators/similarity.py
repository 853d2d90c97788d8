"""Similarity search over embeddings (SURVEY.md §2.9 X3).

- ``topk_cosine``: exact brute-force top-k against a query vector — the
  correctness baseline. One scan, no shuffle until the final top-k.
- ``cosine_near_dup_pairs``: all pairs above a cosine threshold within a
  blocking key (embedding-based near-dup, X2's vector twin).
- ``ann_lsh_topk``, ``knn_join_lsh``, ``hard_negatives_lsh``: the inline
  random-hyperplane LSH queries — the approximate scale path (candidates
  only from matching buckets). Their codes and probe masks come from
  ``operators/lsh_index.py``, the one owner of hyperplane LSH.

Float-parity note: element products are computed in DOUBLE on both the
Spark and DuckDB side, folded left-to-right, so oracle hashes match (see
``queries/vectors.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.queries.vectors import (
    cosine,
    cosine_with_norms,
    l2_norm_py,
    norm_col,
)
from delta_lake_optimizations_spark.registry import query

# Unblocked (no block_col) pair generators are O(n^2) oracle baselines.
# They refuse inputs beyond this row count so a config mistake cannot
# silently launch a quadratic cross join at sf>=0.1 (2k vectors) or
# cluster scale — pass a blocking column (label, LSH bucket, IVF list)
# instead.
UNBLOCKED_ROW_LIMIT = 1_000


def _guard_unblocked(df: DataFrame, op: str, limit: int = UNBLOCKED_ROW_LIMIT) -> None:
    n = df.limit(limit + 1).count()
    if n > limit:
        raise ValueError(
            f"{op} without block_col is an O(n^2) baseline, refused for "
            f">{limit} rows (got at least {n}). Pass block_col (label / "
            "an lsh_index.code_col code / ivf_build 'list_id') to bound the "
            "pair space."
        )


def embedding_dim(sf_dir: str, table: str = "embeddings", col: str = "embedding") -> int:
    """Vector dimensionality of a parquet-backed embedding column, read
    driver-side from the file footer + first row group via pyarrow — ZERO
    Spark jobs (the list<float> schema carries no fixed size, so the only
    alternatives are a Spark first() job or a documented constant; a
    footer read costs one small IO and keeps the registered ANN queries'
    main plan the first job they launch)."""
    import os

    import pyarrow.parquet as pq

    target = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(target):
        # scaled corpora (scripts/make_sfx.py) are parquet DIRECTORIES;
        # any part file answers the schema question
        parts = sorted(
            os.path.join(target, f)
            for f in os.listdir(target)
            if f.endswith(".parquet")
        )
        target = parts[0]
    pf = pq.ParquetFile(target)
    batch = next(pf.iter_batches(batch_size=1, columns=[col]))
    return len(batch.column(0)[0])


def query_vector(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """Fetch one embedding to use as a query parameter (driver-side by
    design — it is a query constant, not a data path).

    r11: read via pyarrow with a row-group-pruned filter instead of a
    Spark ``.first()`` job — every registered ANN query paid a whole
    scheduled Spark job (~0.1-0.2 s of fixed latency at sf0.1) just to
    fetch this constant before its real plan ran. Bit-identical values:
    the stored column is float32 and both paths widen each element to an
    IEEE double exactly."""
    import os

    import pyarrow.parquet as pq

    # NOTE: ``target`` may be a single parquet FILE (the base corpora) or
    # a parquet DIRECTORY (scaled corpora from scripts/make_sfx.py).
    # ``pq.read_table`` handles both — dataset discovery accepts
    # directories and skips _SUCCESS via its default ignore_prefixes —
    # which is an explicit dependency here, mirrored from
    # ``embedding_dim``'s isdir branch above.
    target = os.path.join(sf_dir, "embeddings.parquet")
    tbl = pq.read_table(
        target, columns=["embedding"], filters=[("vec_id", "==", vec_id)]
    )
    row = tbl.column("embedding")[0] if tbl.num_rows else None
    if row is None:
        raise ValueError(f"vec_id {vec_id} not found in {sf_dir}")
    return [float(x) for x in row.values.to_pylist()]


def topk_cosine(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: scan + per-row fold + global top-k.

    The query vector is a literal array (broadcast with the plan, no join).
    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject — each
    partition keeps k rows, the driver merges; no full sort at 100 TB.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    # r11: the query-side norm is a CONSTANT the optimizer cannot fold
    # (HOF aggregate), so the old cosine() re-folded it per row — a third
    # of the per-row element ops. l2_norm_py is the bit-identical driver-
    # side fold; per-row work is now dot + corpus-norm only.
    sim = F.round(
        cosine_with_norms(
            F.col(vec_col), q, norm_col(F.col(vec_col)), F.lit(l2_norm_py(query_vec))
        ),
        6,
    )
    return (
        df.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def topk_per_query(
    scored: DataFrame,
    k: int,
    qid_col: str = "qid",
    id_col: str = "vec_id",
    score_col: str = "cos_sim",
) -> DataFrame:
    """Per-query top-k over a scored (qid, id, score) stream in two
    skew-free stages: a local top-k keyed by (qid, scan-partition-id) —
    group count is batch_size x partitions, each group's sort bounded by
    the rows one partition contributed to one query, never corpus-sized —
    then the global top-k over the reduced set (<= batch x partitions x k
    rows). A single Window on qid would hash the WHOLE scored stream
    into batch_size groups: with a 16-query batch over 100 TB that is 16
    giant skewed sorts; this shape keeps both exchanges balanced."""
    from pyspark.sql import Window

    w1 = Window.partitionBy(qid_col, "_pid").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    w2 = Window.partitionBy(qid_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_pid", "_rn")
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def topk_cosine_batch(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k for a BATCH of query vectors in ONE
    scan (columns ``qid, <id_col>, cos_sim``): the query batch broadcasts
    (tiny), every corpus row scores all Q queries, and the per-query
    top-k reduces in two skew-free window stages (``topk_per_query``).
    Per-query amortized cost is what a retrieval pipeline pays — the
    corpus is read ONCE for the whole batch instead of once per query.
    Scores/order match ``topk_cosine`` per query exactly (same double
    fold, same 6-dp round, same id tie-break)."""
    spark = df.sparkSession
    # r11 norm-once: query norms computed driver-side (bit-identical fold,
    # see l2_norm_py) ride the broadcast row; the corpus norm projects
    # ONCE per corpus row BEFORE the crossJoin instead of once per
    # (row, query) pair — per-pair work drops from 3x dim to the dot.
    qdf = spark.createDataFrame(
        [
            (int(q), [float(x) for x in v], l2_norm_py(v))
            for q, v in queries
        ],
        "qid long, _qv array<double>, _qn double",
    )
    scored = (
        df.select(id_col, vec_col)
        .withColumn("_vn", norm_col(F.col(vec_col)))
        .crossJoin(F.broadcast(qdf))
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


@query(
    "topk_cosine_bruteforce",
    headline=True,
    tags=("similarity", "vector"),
    oracle="""
        WITH q AS (
            SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        ),
        scored AS (
            SELECT
                vec_id,
                ROUND(
                    list_sum(list_transform(
                        list_zip(embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                    ))
                    / (
                        SQRT(list_sum(list_transform(
                            embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        )))
                        * SQRT(list_sum(list_transform(
                            q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        )))
                    ),
                    6
                ) AS cos_sim
            FROM embeddings, q
        )
        SELECT vec_id, cos_sim
        FROM scored
        ORDER BY cos_sim DESC, vec_id
        LIMIT 10
    """,
)
def topk_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbours (cosine) of vec_id=0, exact."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(spark, sf_dir, 0)
    return topk_cosine(embeddings, qv, k=10)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold, equi-joined on a blocking key.

    With a block column the pair space is bounded per block; without one
    this is a conscious cross join (only for small inputs — refused above
    ``UNBLOCKED_ROW_LIMIT`` rows). For 100 TB block on an LSH code
    (``lsh_index.code_col``) instead.
    """
    if block_col is None:
        _guard_unblocked(df, "cosine_near_dup_pairs")
    # per-side norms projected before the join (see
    # queries/vectors.py::norm_col) — per-pair work is the dot alone.
    left = df.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        norm_col(F.col(vec_col)).alias("_na"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    right = df.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        norm_col(F.col(vec_col)).alias("_nb"),
        *([F.col(block_col).alias("_blk2")] if block_col else []),
    )
    cond = F.col("_ida") < F.col("_idb")
    if block_col:
        cond = cond & (F.col("_blk") == F.col("_blk2"))
    sim = F.round(
        cosine_with_norms(
            F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
        ),
        6,
    )
    return (
        left.join(right, cond)
        .select(
            F.col("_ida").alias("vec_a"),
            F.col("_idb").alias("vec_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


@query(
    "dedup_embedding_cosine",
    tags=("dedup", "similarity"),
    oracle="""
        SELECT * FROM (
            SELECT
                a.vec_id AS vec_a,
                b.vec_id AS vec_b,
                ROUND(
                    list_sum(list_transform(
                        list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                    ))
                    / (
                        SQRT(list_sum(list_transform(
                            a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        )))
                        * SQRT(list_sum(list_transform(
                            b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        )))
                    ),
                    6
                ) AS cos_sim
            FROM embeddings a
            JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
        )
        WHERE cos_sim >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within each label block."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(embeddings, threshold=0.4, block_col="label")


# ---------------------------------------------------------------------------
# Approximate scale path: random-hyperplane LSH
# ---------------------------------------------------------------------------


def ann_topk_multiprobe(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_tables: int = 16,
    n_planes: int = 12,
    probe_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-query ANN via multi-table hyperplane LSH with multi-probe.

    Candidates are rows whose code in ANY of the ``n_tables`` tables lies
    within Hamming distance ``probe_hamming`` of the query's code for that
    table (query codes are driver-side constants — plane projections of a
    query literal, no Spark job). The whole candidate stage is a
    scan-filter (per-row JVM expressions, no join, no shuffle) followed by
    an exact cosine re-rank that compiles to TakeOrderedAndProject.

    Expected candidate fraction on uniform vectors ≈
    ``n_tables * sum_{j<=h} C(n_planes, j) / 2^n_planes`` (≈ 31% for the
    16x12/h=2 default — measured per-query recall 0.7-1.0, mean 0.8, on
    the uniform corpus, LSH's worst case) — scale-free in n, so the
    re-rank touches a constant fraction at any corpus size.

    At scale the table codes are an INDEX (``lsh_index.
    build_lsh_sharded_index``): computed once, each query is then a
    bucket-pruned load + re-rank over the candidate fraction. Inline
    computation here keeps the registered query self-contained.
    """
    from delta_lake_optimizations_spark.operators.lsh_index import (
        code_col,
        query_codes,
    )

    cond = None
    for t, qcode in enumerate(query_codes(query_vec, n_tables, n_planes)):
        b = code_col(len(query_vec), t, n_planes, vec_col)
        hit = F.bit_count(b.bitwiseXOR(F.lit(qcode))) <= probe_hamming
        cond = hit if cond is None else (cond | hit)
    return topk_cosine(df.filter(cond), query_vec, k=k, id_col=id_col, vec_col=vec_col)


@query("ann_lsh_topk", tags=("similarity", "approx"))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 for vec_id=0 under the HONEST multi-probe config
    (16 tables x 12 planes, Hamming-2 probing — measured recall 0.7-1.0,
    mean 0.8, across probe queries on the uniform corpus, pinned in
    tests/test_ann_and_components.py; a single table at Hamming-2
    measured ~0.35). (Rows-only driver check; pytest pins recall vs
    brute force.)"""
    embeddings = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(spark, sf_dir, 0)
    return ann_topk_multiprobe(embeddings, qv, k=10)


@query(
    "semantic_search_with_text",
    tags=("similarity", "vector", "join"),
    oracle="""
        WITH q AS (
            SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        ),
        scored AS (
            SELECT
                vec_id,
                ROUND(
                    list_sum(list_transform(
                        list_zip(embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                    ))
                    / (
                        SQRT(list_sum(list_transform(
                            embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        )))
                        * SQRT(list_sum(list_transform(
                            q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        )))
                    ),
                    6
                ) AS cos_sim
            FROM embeddings, q
        ),
        topk AS (
            SELECT vec_id, cos_sim FROM scored
            ORDER BY cos_sim DESC, vec_id LIMIT 10
        )
        SELECT t.vec_id, t.cos_sim, d.lang,
               SUBSTR(d.text, 1, 80) AS snippet
        FROM topk t JOIN documents d ON t.vec_id = d.doc_id
    """,
)
def semantic_search_with_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval: vector top-k over embeddings, then a
    broadcast join back to documents for the text payload — the RAG-shaped
    query (rank small, fetch text only for the winners; the document scan
    never touches the losers)."""
    from delta_lake_optimizations_spark.catalog import load_table

    embeddings = load_table(spark, sf_dir, "embeddings")
    documents = load_table(spark, sf_dir, "documents")
    qv = query_vector(spark, sf_dir, 0)
    top = topk_cosine(embeddings, qv, k=10)
    return (
        documents.join(F.broadcast(top), F.col("vec_id") == F.col("doc_id"))
        .select(
            "vec_id",
            "cos_sim",
            "lang",
            F.substring("text", 1, 80).alias("snippet"),
        )
    )


def knn_join(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """k-nearest-neighbour self-join: top-k cosine neighbours for EVERY
    row (not one query vector) — the batch op behind embedding-based
    near-dup clustering and hard-negative mining.

    Without ``block_col`` this is an explicit O(n^2) cross join: correct,
    only for oracle-scale inputs, and refused above
    ``UNBLOCKED_ROW_LIMIT`` rows. At 100 TB pass a blocking column
    (e.g. a hyperplane-LSH code from ``lsh_index.code_col``):
    the pair space becomes an equi-join per bucket — shuffle on the
    bucket key, quadratic only within each (small) bucket — and the
    window top-k keeps k rows per src partition-locally before any
    global movement.
    """
    from pyspark.sql import Window

    if block_col is None:
        _guard_unblocked(df, "knn_join")

    # per-side norms projected before the join: per-pair work is the dot
    left = df.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("_qv"),
        norm_col(F.col(vec_col)).alias("_qn"),
        *([F.col(block_col).alias("_blk_l")] if block_col else []),
    )
    right = df.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("_nv"),
        norm_col(F.col(vec_col)).alias("_nn"),
        *([F.col(block_col).alias("_blk_r")] if block_col else []),
    )
    cond = F.col("src_id") != F.col("nbr_id")
    if block_col:
        cond = cond & (F.col("_blk_l") == F.col("_blk_r"))
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        left.join(right, cond)
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


@query(
    "knn_join_exact",
    tags=("similarity", "vector", "knn"),
    oracle="""
        WITH pairs AS (
            SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
                   ROUND(
                       list_sum(list_transform(
                           list_zip(a.embedding, b.embedding),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                       ))
                       / (
                           SQRT(list_sum(list_transform(
                               a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                           * SQRT(list_sum(list_transform(
                               b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                       ),
                       6
                   ) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT src_id, nbr_id, cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY src_id ORDER BY cos_sim DESC, nbr_id
                   ) AS rn
            FROM pairs
        )
        SELECT src_id, nbr_id, cos_sim FROM ranked WHERE rn <= 3
    """,
)
def knn_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-NN for every embedding — the correctness baseline the
    LSH-blocked variant is measured against."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    return knn_join(embeddings, k=3)


def knn_join_lsh_multitable(
    df: DataFrame,
    dim: int,
    k: int = 3,
    n_tables: int = 8,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate k-NN join via multi-table hyperplane LSH.

    Each row gets ``n_tables`` independent bucket codes (disjoint plane
    sets); a ``posexplode`` turns them into (table, bucket) rows so ALL
    tables resolve through ONE self equi-join on (table, bucket) — not T
    separate joins. Candidate pairs found by any table are deduped BEFORE
    the cosine is computed, then a per-src window keeps the top k.

    ``probe_hamming``: multi-probe LSH (Lv et al., VLDB'07 idea expressed
    relationally) — the LEFT side additionally probes every bucket within
    this Hamming distance of its own code (XOR-mask explode), so a true
    neighbour that lands one sign-flip away still collides. Left row
    multiplicity is ``sum_{j<=h} C(n_planes, j)`` (7x for 6 planes, h=1);
    recall rises much faster than candidate count because a near-miss
    differs in exactly one marginal plane far more often than a random
    pair does.

    Recall/cost dial, measured: on the sf0.01 corpus (uniform synthetic
    vectors — the LSH worst case) 8x6 ≈ 0.35 recall touching ~13% of the
    n^2 pair space, 12x5 ≈ 0.66 at ~33%. On CLUSTERED vectors (the
    realistic encoder-output geometry) 8 tables x 12 planes with
    probe_hamming=1 measures 0.965 recall at 8.5% of the pair space —
    pinned in tests/test_ann_and_components.py.
    """
    from pyspark.sql import Window

    from delta_lake_optimizations_spark.operators.lsh_index import (
        code_col,
        hamming_masks,
    )

    bucket_exprs = [code_col(dim, t, n_planes, vec_col) for t in range(n_tables)]
    # the norm projects once per input row (the posexplode duplicates the
    # computed value, not the fold)
    coded = df.select(
        F.col(id_col),
        F.col(vec_col),
        norm_col(F.col(vec_col)).alias("_vn"),
        F.posexplode(F.array(*bucket_exprs)).alias("tbl", "bucket"),
    )
    left = coded.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("_qv"),
        F.col("_vn").alias("_qn"),
        "tbl",
        "bucket",
    )
    if probe_hamming > 0:
        masks = hamming_masks(n_planes, probe_hamming)
        left = (
            left.withColumn(
                "_mask", F.explode(F.array(*[F.lit(m).cast("long") for m in masks]))
            )
            .withColumn("bucket", F.col("bucket").bitwiseXOR(F.col("_mask")))
            .drop("_mask")
        )
    right = coded.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("_nv"),
        F.col("_vn").alias("_nn"),
        F.col("tbl").alias("_tbl2"),
        F.col("bucket").alias("_bkt2"),
    )
    pairs = (
        left.join(
            right,
            (F.col("tbl") == F.col("_tbl2"))
            & (F.col("bucket") == F.col("_bkt2"))
            & (F.col("src_id") != F.col("nbr_id")),
        )
        .select("src_id", "nbr_id", "_qv", "_nv", "_qn", "_nn")
        .dropDuplicates(["src_id", "nbr_id"])
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        pairs.select(
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


@query("knn_join_lsh", tags=("similarity", "approx", "knn"))
def knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 3-NN join under the HONEST multi-probe config: 16
    tables x 9 planes, Hamming-1 probing — measured recall 0.725 touching
    30.8% of the pair space on the UNIFORM corpus (LSH's worst case;
    clustered encoder-geometry measures 0.965 at 8.5%, both pinned in
    tests/test_ann_and_components.py; 8x6/probe-0 measured ~0.35
    recall). ``dim`` comes from the parquet footer
    (driver-side metadata read) so the main plan is the first Spark job.
    (Rows-only driver check.)"""
    embeddings = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    return knn_join_lsh_multitable(
        embeddings, dim=dim, k=3, n_tables=16, n_planes=9, probe_hamming=1
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (embedding-training data prep)
# ---------------------------------------------------------------------------


def hard_negatives(
    df: DataFrame,
    k: int = 3,
    dup_threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    block_col: str | None = None,
) -> DataFrame:
    """Per-anchor top-k HARD negatives for contrastive/embedding training:
    the most similar items that are (a) not near-duplicates
    (``cos < dup_threshold`` — those are false negatives) and (b) from a
    different ``label_col`` class when given (same-class items are
    positives, not negatives).

    Without ``block_col`` this is the exact O(n^2) baseline (refused above
    ``UNBLOCKED_ROW_LIMIT`` rows). At scale pass an LSH bucket column or
    use :func:`hard_negatives_lsh`, which mines candidates from
    multi-table LSH collisions — hard negatives are by definition the
    most-similar non-matches, exactly what LSH buckets surface.
    """
    from pyspark.sql import Window

    if block_col is None:
        _guard_unblocked(df, "hard_negatives")
    # r11 norm-once: per-side norms projected before the join.
    left_cols = [
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("_qv"),
        norm_col(F.col(vec_col)).alias("_qn"),
    ]
    right_cols = [
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("_nv"),
        norm_col(F.col(vec_col)).alias("_nn"),
    ]
    if label_col:
        left_cols.append(F.col(label_col).alias("_la"))
        right_cols.append(F.col(label_col).alias("_lb"))
    if block_col:
        left_cols.append(F.col(block_col).alias("_ba"))
        right_cols.append(F.col(block_col).alias("_bb"))
    cond = F.col("anchor_id") != F.col("negative_id")
    if block_col:
        cond = cond & (F.col("_ba") == F.col("_bb"))
    pairs = df.select(*left_cols).join(df.select(*right_cols), cond)
    if label_col:
        pairs = pairs.filter(F.col("_la") != F.col("_lb"))
    scored = pairs.select(
        "anchor_id",
        "negative_id",
        F.round(
            cosine_with_norms(
                F.col("_qv"), F.col("_nv"), F.col("_qn"), F.col("_nn")
            ),
            6,
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") < dup_threshold)
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@query(
    "hard_negatives_exact",
    tags=("similarity", "mining", "llm-pipeline"),
    oracle="""
        WITH pairs AS (
            SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
                   ROUND(
                       list_sum(list_transform(
                           list_zip(a.embedding, b.embedding),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                       ))
                       / (
                           SQRT(list_sum(list_transform(
                               a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                           * SQRT(list_sum(list_transform(
                               b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                       ),
                       6
                   ) AS cos_sim
            FROM embeddings a JOIN embeddings b
              ON a.vec_id <> b.vec_id AND a.label <> b.label
        ),
        ranked AS (
            SELECT anchor_id, negative_id, cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY anchor_id ORDER BY cos_sim DESC, negative_id
                   ) AS rn
            FROM pairs
            WHERE cos_sim < 0.95
        )
        SELECT anchor_id, negative_id, cos_sim FROM ranked WHERE rn <= 3
    """,
)
def hard_negatives_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 cross-label hard negatives per anchor (the correctness
    baseline for the LSH-mined variant)."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(embeddings, k=3, dup_threshold=0.95)


@query("hard_negatives_lsh", tags=("similarity", "mining", "approx", "llm-pipeline"))
def hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: mine hard negatives from multi-table LSH candidate
    pairs (the honest 16x9/probe-1 config), then apply the same
    near-dup/label exclusions and per-anchor top-k. Candidates are the
    most-similar items — precisely the hard-negative population — so LSH
    recall loss only softens the negatives slightly, never corrupts them.
    (Rows-only driver check; pytest pins overlap vs the exact miner.)"""
    from pyspark.sql import Window

    embeddings = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    # candidate pairs from the banded LSH join, then exclusions
    cand = knn_join_lsh_multitable(
        embeddings, dim=dim, k=50, n_tables=16, n_planes=9, probe_hamming=1
    ).withColumnRenamed("src_id", "anchor_id").withColumnRenamed("nbr_id", "negative_id")
    labels = embeddings.select("vec_id", "label")
    cand = (
        cand.join(
            labels.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("_la")),
            "anchor_id",
        )
        .join(
            labels.select(F.col("vec_id").alias("negative_id"), F.col("label").alias("_lb")),
            "negative_id",
        )
        .filter((F.col("_la") != F.col("_lb")) & (F.col("cos_sim") < 0.95))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("negative_id")
    )
    return (
        cand.select("anchor_id", "negative_id", "cos_sim")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )
