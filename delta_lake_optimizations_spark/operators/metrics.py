"""Driver-verifiable correctness METRICS for the approximate operators
(VERDICT r03 #2).

The ANN / sketch / fingerprint operators are not SQL-expressible, so their
registered queries only get the driver's weak rows-only check; the real
validation (recall floors, determinism, invariants) lives in pytest, which
the driver cannot see. This module closes that visibility gap: each metric
query computes the validation ITSELF as a small scalar DataFrame — exact
baseline and approximate result both evaluated inside the one Spark plan —
and the oracle checks the parts that ARE SQL-expressible:

- ground-truth counts (exact-duplicate pairs, true Jaccard pairs, exact
  distinct counts, vertex counts) are recomputed independently by DuckDB,
  so the Spark-side exact machinery is value-checked; and
- the approximation-quality verdict (recall >= floor, relative error <=
  bound, mass conservation) is emitted as a boolean/rounded constant whose
  expected value is deterministic for the fixed seeds + fixed corpus.

A broken ANN (garbage candidates, wrong hash, wrong banding) now flips a
driver-visible hash mismatch instead of hiding behind ``count() >= 0``.

Floors are set from measured values at sf0.001 AND sf0.01 with margin
(measured numbers in each docstring); the tight pins stay in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.registry import query

# DuckDB fragment: exact cosine top-10 ids for vec_id=0 (mirrors the
# topk_cosine_bruteforce oracle).
_DUCK_COS = """
    list_sum(list_transform(
        list_zip(a.embedding, q.qv),
        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
    ))
    / (
        SQRT(list_sum(list_transform(
            a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        * SQRT(list_sum(list_transform(
            q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
    )
"""


def _recall_frame(
    approx: DataFrame, exact: DataFrame, keys: list[str], floor: float, k_label: int
) -> DataFrame:
    """1-row frame {n_exact, recall_ok}: |approx ∩ exact| / |exact| >= floor,
    computed lazily (semi-join + two counts inside one plan)."""
    hit = exact.join(approx.select(*keys), keys, "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_exact")
    )
    n_hit = hit.agg(F.count(F.lit(1)).alias("n")).select(F.col("n").alias("n_hit"))
    return (
        n_exact.crossJoin(n_hit)
        .select(
            F.lit(k_label).cast("long").alias("k"),
            F.col("n_exact").cast("long").alias("n_exact"),
            (
                F.col("n_hit").cast("double")
                >= F.lit(floor) * F.col("n_exact").cast("double")
            ).alias("recall_ok"),
        )
    )


def mismatch_count(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """1-row frame {n_mismatch}: rows of ``on`` present on exactly one
    side of a full outer join of ``left`` and ``right`` on all of ``on``
    (0 when both sides are empty) — the equality-twin verdict."""
    r = right.select(*[F.col(c).alias(f"_r_{c}") for c in on])
    cond = F.col(on[0]) == F.col(f"_r_{on[0]}")
    for c in on[1:]:
        cond = cond & (F.col(c) == F.col(f"_r_{c}"))
    one_side = F.col(on[0]).isNull() | F.col(f"_r_{on[0]}").isNull()
    return left.select(*on).join(r, cond, "full").agg(
        F.coalesce(F.sum(F.when(one_side, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_mismatch")
    )


# ---------------------------------------------------------------------------
# Sketch accuracy metrics (HLL, quantile sketch)
# ---------------------------------------------------------------------------


@query(
    "hll_error_by_flag",
    tags=("agg", "sketch", "metric"),
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               TRUE AS hll_ok
        FROM lineitem GROUP BY l_returnflag
    """,
)
def hll_error_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable accuracy check for ``hll_distinct_parts_by_flag``:
    the EXACT per-flag distinct count is value-checked against DuckDB, and
    the HLL estimate (lgConfigK=12, rsd ~1.6%) must land within +/-5% of it
    — a garbage sketch flips ``hll_ok`` and the driver hash."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").cast("long").alias("exact_parts"),
        (
            F.abs(
                F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).cast("double")
                - F.count_distinct("l_partkey").cast("double")
            )
            <= 0.05 * F.count_distinct("l_partkey").cast("double")
        ).alias("hll_ok"),
    )


@query(
    "approx_percentile_error_by_flag",
    tags=("agg", "percentile", "sketch", "metric"),
    oracle="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_exact,
               ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50_exact,
               ROUND(quantile_cont(l_extendedprice, 0.90), 4) AS p90_exact,
               TRUE AS approx_ok
        FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_percentile_error_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable accuracy for ``approx_percentiles_sketch``: exact
    interpolated percentiles are value-checked against DuckDB's
    quantile_cont (same linear-interpolation definition — verified to 4 dp),
    and the GK sketch (accuracy 10000 -> rank error <= 1e-4) must land
    within 0.5% of each exact value."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    exact = [
        F.expr(f"percentile(l_extendedprice, {p})").alias(f"_e{i}")
        for i, p in enumerate((0.25, 0.5, 0.9))
    ]
    approx = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9)), 10000
    ).alias("_a")
    agged = lineitem.groupBy("l_returnflag").agg(*exact, approx)
    ok = None
    for i in range(3):
        this = (
            F.abs(F.col("_a").getItem(i) - F.col(f"_e{i}"))
            <= 0.005 * F.abs(F.col(f"_e{i}"))
        )
        ok = this if ok is None else (ok & this)
    return agged.select(
        "l_returnflag",
        F.round(F.col("_e0"), 4).alias("p25_exact"),
        F.round(F.col("_e1"), 4).alias("p50_exact"),
        F.round(F.col("_e2"), 4).alias("p90_exact"),
        ok.alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# Fingerprint / chunking consistency metrics
# ---------------------------------------------------------------------------


@query(
    "doc_fingerprint_shingles",
    tags=("text", "metric"),
    oracle="""
        SELECT doc_id,
               CAST(GREATEST(length(lower(trim(text))) - 7, 1) AS BIGINT)
                   AS n_shingles
        FROM documents
    """,
)
def doc_fingerprint_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checks the shingle-window arithmetic of ``doc_fingerprint``
    (the SQL-expressible half of the fingerprint: window count per doc;
    the xxhash64 minimum itself has no DuckDB equivalent)."""
    from delta_lake_optimizations_spark.operators.textstats import fingerprint

    documents = load_table(spark, sf_dir, "documents")
    return fingerprint(documents, "doc_id", "text").select(
        "doc_id", F.col("n_shingles").cast("long").alias("n_shingles")
    )


@query(
    "doc_fingerprint_consistency",
    tags=("text", "metric"),
    oracle="""
        SELECT CAST(COUNT(DISTINCT lower(trim(text))) AS BIGINT)
                   AS n_text_groups,
               CAST(0 AS BIGINT) AS n_inconsistent
        FROM documents
    """,
)
def doc_fingerprint_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint invariant, driver-checked: every group of documents with
    identical normalized text must share ONE fingerprint (the group count
    is independently recomputed by DuckDB; a nondeterministic or
    text-sensitive-beyond-normalization hash makes n_inconsistent > 0)."""
    from delta_lake_optimizations_spark.operators.textstats import fingerprint

    documents = load_table(spark, sf_dir, "documents")
    fp = fingerprint(documents, "doc_id", "text").join(
        documents.select("doc_id", F.lower(F.trim("text")).alias("_norm")), "doc_id"
    )
    per_group = fp.groupBy("_norm").agg(
        F.count_distinct("fingerprint").alias("_nfp")
    )
    return per_group.agg(
        F.count(F.lit(1)).cast("long").alias("n_text_groups"),
        F.sum(F.when(F.col("_nfp") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_inconsistent"),
    )


@query(
    "chunk_embed_consistency",
    tags=("pipeline", "chunking", "metric"),
    oracle="""
        SELECT CAST(SUM(CAST(CEIL(length(text) / 400.0) AS BIGINT)) AS BIGINT)
                   AS n_chunks,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(0 AS BIGINT) AS n_bad_embeddings
        FROM documents WHERE length(text) > 0
    """,
)
def chunk_embed_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable summary of ``pipeline_chunk_embed``: the chunk
    count per the 500/400 window arithmetic is independently recomputed by
    DuckDB, and every chunk's serialized embedding must have exactly the
    declared 8 dimensions (a wrong explode or a ragged embedding makes
    n_bad_embeddings > 0)."""
    from delta_lake_optimizations_spark.registry import registry as _reg

    chunks = _reg()["pipeline_chunk_embed"].fn(spark, sf_dir)
    return chunks.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.sum(
            F.when(
                F.size(F.split(F.col("embedding_csv"), ",")) != 8, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_bad_embeddings"),
    )


# ---------------------------------------------------------------------------
# Graph metrics: connected components (full value parity) + PageRank mass
# ---------------------------------------------------------------------------

# Edge set both engines can compute exactly: word-3-gram Jaccard >= 0.5,
# source-blocked (the proven dedup_ngram_jaccard parity query).
_DUCK_EDGES = """
        WITH toks AS (
            SELECT doc_id, source,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id, source,
                   array_to_string(t[i.i : i.i + 2], ' ') AS gram
            FROM toks,
                 LATERAL (
                     SELECT UNNEST(range(1, GREATEST(len(t) - 2, 1) + 1)) AS i
                 ) i
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_inter
            FROM grams a
            JOIN grams b
              ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        edges AS (
            SELECT ida AS doc_a, idb AS doc_b
            FROM inter
            JOIN sizes sa ON ida = sa.doc_id
            JOIN sizes sb ON idb = sb.doc_id
            WHERE CAST(n_inter AS DOUBLE)
                  / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
        ),
        sym AS (
            SELECT doc_a AS v, doc_b AS w FROM edges
            UNION
            SELECT doc_b, doc_a FROM edges
        )
"""


def _ngram_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_optimizations_spark.operators.dedup import ngram_jaccard_pairs

    documents = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        documents, "doc_id", "text", n=3, threshold=0.5, block_col="source"
    ).select("doc_a", "doc_b")


@query(
    "dedup_components_ngram",
    tags=("graph", "dedup", "metric"),
    oracle="WITH RECURSIVE "
    + _DUCK_EDGES.strip().removeprefix("WITH ")
    + """,
        verts AS (SELECT DISTINCT v FROM sym),
        reach(src, node) AS (
            SELECT v, v FROM verts
            UNION
            SELECT r.src, s.w FROM reach r JOIN sym s ON r.node = s.v
        )
        SELECT src AS vertex, CAST(MIN(node) AS BIGINT) AS component
        FROM reach GROUP BY src
    """,
)
def dedup_components_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-VALUE driver check of the iterative connected-components
    operator: min-label propagation over the exact n-gram-Jaccard edge set
    must reproduce DuckDB's recursive-CTE transitive closure vertex by
    vertex. This is the strongest possible oracle for an iterative graph
    algorithm — every label compared, not a summary."""
    from delta_lake_optimizations_spark.operators.components import (
        connected_components,
    )

    return connected_components(_ngram_edges(spark, sf_dir))


# Same edge definition computed over the EXACT-COLLAPSED corpus (the r8
# scale-path pre-pass): byte-identical texts reduce to their min-doc_id
# representative BEFORE gram enumeration, so the pair space is linear in
# corpus size under replication. The collapse is global (cross-source):
# that is the composed contract — global exact dedup first, then
# source-blocked near-dup over survivors — and the oracle restates it.
_DUCK_EDGES_COLLAPSED = _DUCK_EDGES.replace(
    "FROM documents",
    """FROM (
                SELECT doc_id, source, text FROM (
                    SELECT doc_id, source, text,
                           ROW_NUMBER() OVER (
                               PARTITION BY md5(CAST(text AS VARCHAR))
                               ORDER BY doc_id
                           ) AS rn
                    FROM documents
                ) WHERE rn = 1
            )""",
)


@query(
    "dedup_components_scaled",
    tags=("graph", "dedup", "scale", "metric"),
    oracle="WITH RECURSIVE "
    + _DUCK_EDGES_COLLAPSED.strip().removeprefix("WITH ")
    + """,
        verts AS (SELECT DISTINCT v FROM sym),
        reach(src, node) AS (
            SELECT v, v FROM verts
            UNION
            SELECT r.src, s.w FROM reach r JOIN sym s ON r.node = s.v
        )
        SELECT src AS vertex, CAST(MIN(node) AS BIGINT) AS component
        FROM reach GROUP BY src
    """,
)
def dedup_components_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of connected-components dedup (r8): exact collapse
    first (``dedup.exact_collapse``), THEN the n-gram-Jaccard edge set
    over representatives only, then min-label components — so the pair
    space stays linear in corpus size under replication (the uncomposed
    ``dedup_components_ngram`` measured 9x wall for 5x data on the
    50x-replicated sf5 corpus purely from quadratic pair input). Full
    vertex-level value parity against DuckDB's recursive-CTE closure
    over the SAME collapsed corpus."""
    from delta_lake_optimizations_spark.operators.components import (
        connected_components,
    )
    from delta_lake_optimizations_spark.operators.dedup import (
        exact_collapse,
        ngram_jaccard_pairs,
    )

    documents = load_table(spark, sf_dir, "documents")
    reps = exact_collapse(documents, "doc_id", "text")
    edges = ngram_jaccard_pairs(
        reps, "doc_id", "text", n=3, threshold=0.5, block_col="source"
    ).select("doc_a", "doc_b")
    return connected_components(edges)


@query(
    "pagerank_mass_conservation",
    tags=("graph", "metric"),
    oracle="WITH "
    + _DUCK_EDGES.strip().removeprefix("WITH ")
    + """
        SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS n_vertices,
               CAST(1.0 AS DOUBLE) AS total_mass
        FROM sym
    """,
)
def pagerank_mass_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable PageRank invariant: on a symmetric graph (no
    dangling vertices) the teleport+damping update conserves probability
    mass exactly, so after any number of iterations the ranks sum to 1.
    The vertex count is independently recomputed by DuckDB from the same
    edge definition; a wrong degree/contribution join shifts the sum."""
    from delta_lake_optimizations_spark.operators.components import pagerank

    ranks = pagerank(_ngram_edges(spark, sf_dir), n_iter=6)
    return ranks.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.round(F.sum("rank"), 4).alias("total_mass"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing metric
# ---------------------------------------------------------------------------


@query(
    "multimodal_decode_consistency",
    tags=("multimodal", "metric"),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_assets,
               CAST(0 AS BIGINT) AS n_mismatch
        FROM documents
    """,
)
def multimodal_decode_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver check for the Arrow/mapInPandas decode plumbing: the stub
    codec's arithmetic (width = 16 + first_byte % 64, height = 16 +
    n_bytes % 64) is recomputed as JVM expressions over the same payload
    and every row must agree — a batching/alignment/schema bug in the
    Python path shows up as n_mismatch > 0. The asset count is
    independently recomputed by DuckDB."""
    from delta_lake_optimizations_spark.operators.multimodal import (
        decode_assets,
        to_multimodal,
    )

    documents = load_table(spark, sf_dir, "documents")
    assets = to_multimodal(documents, "doc_id", "text", "text/plain")
    decoded = decode_assets(assets)
    first_byte = F.conv(F.hex(F.expr("substring(payload, 1, 1)")), 16, 10).cast(
        "int"
    )
    expected = assets.select(
        F.col("doc_id"),
        (F.lit(16) + F.pmod(first_byte, F.lit(64))).alias("_ew"),
        (F.lit(16) + F.pmod(F.col("n_bytes"), F.lit(64)).cast("int")).alias("_eh"),
    )
    joined = decoded.join(expected, "doc_id")
    # text payloads must take the labeled fallback branch; a row that
    # claims a real decode here, or disagrees with the JVM recomputation,
    # is a plumbing bug. NULL-safe: an empty payload makes first_byte (and
    # hence _ew) NULL, turning the whole predicate NULL — coalesce treats
    # unknown as MISMATCH so such rows cannot silently pass.
    mismatch = (
        (F.col("decoder") != F.lit("fallback"))
        | (F.col("width") != F.col("_ew"))
        | (F.col("height") != F.col("_eh"))
        | (F.col("n_pixels") != F.col("_ew") * F.col("_eh"))
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum(F.when(F.coalesce(mismatch, F.lit(True)), 1).otherwise(0))
        .cast("long")
        .alias("n_mismatch"),
    )


# ---------------------------------------------------------------------------
# ANN recall metrics (floors measured at sf0.001 AND sf0.01; both corpora
# are 500 uniform vectors, the LSH worst case, so the margins are real)
# ---------------------------------------------------------------------------

_ANN_QVECS = (0, 1, 2)

_ANN_ORACLE = """
    SELECT CAST(v AS BIGINT) AS qvec,
           CAST(10 AS BIGINT) AS k,
           CAST(LEAST(10, (SELECT COUNT(*) FROM embeddings)) AS BIGINT)
               AS n_exact,
           TRUE AS recall_ok
    FROM (VALUES (0), (1), (2)) AS t(v)
"""


def _ann_recall_frame(
    spark: SparkSession, sf_dir: str, approx_fn, floor: float
) -> DataFrame:
    """Per-query-vector recall verdicts: one row per probe vector, each
    {qvec, k, n_exact, recall_ok}. Exact baseline and approximate result
    are both evaluated in the one Spark plan (union of tiny per-vector
    aggregates — metadata-sized, the corpus is scanned per probe just like
    the registered single-query ANN ops)."""
    from delta_lake_optimizations_spark.operators.similarity import (
        query_vector,
        topk_cosine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = None
    for vid in _ANN_QVECS:
        qv = query_vector(spark, sf_dir, vid)
        exact = topk_cosine(emb, qv, k=10).select("vec_id")
        approx = approx_fn(emb, qv).select("vec_id")
        row = _recall_frame(approx, exact, ["vec_id"], floor, 10).select(
            F.lit(vid).cast("long").alias("qvec"), "k", "n_exact", "recall_ok"
        )
        out = row if out is None else out.unionByName(row)
    return out


@query("ann_lsh_recall", tags=("similarity", "approx", "metric"), oracle=_ANN_ORACLE)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable recall for ``ann_lsh_topk`` (16 tables x 12
    planes, Hamming-2 multi-probe): >= 0.6 of the exact top-10 for each of
    three probe vectors. Measured 0.7-0.9 per probe at sf0.001/sf0.01 on
    the uniform corpus; pytest pins the tighter floor."""
    from delta_lake_optimizations_spark.operators.similarity import (
        ann_topk_multiprobe,
    )

    return _ann_recall_frame(
        spark, sf_dir, lambda emb, qv: ann_topk_multiprobe(emb, qv, k=10), 0.6
    )


@query(
    "knn_join_sharded_matches_inline",
    tags=("similarity", "approx", "knn", "index", "metric"),
    oracle="""
        SELECT CAST(3 AS BIGINT) AS k, CAST(0 AS BIGINT) AS n_mismatch
    """,
)
def knn_join_sharded_matches_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch k-NN join answered from the materialized sharded index
    must return EXACTLY the inline multi-table self-join's result at the
    same (8 tables x 12 planes, Hamming<=1) dial: stored codes are
    bit-identical to inline codes, so both admit pair (s, c) iff some
    table's code for c equals a probed code of s, and the exact re-rank
    + tie-break are shared. A stale index, a probe-enumeration bug, or a
    dedupe/top-k divergence makes n_mismatch > 0."""
    from delta_lake_optimizations_spark.operators.lsh_index import (
        N_PLANES,
        N_TABLES_SHARDED,
        _cached_sharded_index,
        knn_join_from_sharded,
    )
    from delta_lake_optimizations_spark.operators.similarity import (
        embedding_dim,
        knn_join_lsh_multitable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    inline = knn_join_lsh_multitable(
        emb, dim, k=3, n_tables=N_TABLES_SHARDED, n_planes=N_PLANES, probe_hamming=1
    )
    indexed = knn_join_from_sharded(_cached_sharded_index(spark, sf_dir), emb, k=3)
    return mismatch_count(inline, indexed, ["src_id", "nbr_id", "cos_sim"]).select(
        F.lit(3).cast("long").alias("k"), "n_mismatch"
    )


@query(
    "ann_lsh_ranked_recall", tags=("similarity", "approx", "metric"), oracle=_ANN_ORACLE
)
def ann_lsh_ranked_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable recall for margin-ranked Multi-Probe LSH at the
    SAME probe budget as the blind Hamming<=2 ball (79 codes/table, on a
    16-table sharded index): >= 0.6 of the exact top-10 per probe vector
    on the uniform corpus. Measured 0.7-1.0 per probe at sf0.001/sf0.01 —
    ranked probing beat or tied the blind ball on every probe vector at
    equal cost (blind measured 0.7-0.9), because it spends the budget on
    the buckets the query's hyperplane margins say are most likely to
    hide true neighbors."""
    from delta_lake_optimizations_spark.operators.lsh_index import (
        N_TABLES,
        _cached_sharded_index,
        ann_topk_from_sharded_ranked,
    )

    t = _cached_sharded_index(spark, sf_dir, n_tables=N_TABLES)
    return _ann_recall_frame(
        spark,
        sf_dir,
        lambda emb, qv: ann_topk_from_sharded_ranked(t, qv, k=10, budget=79),
        0.6,
    )


@query("ann_ivf_recall", tags=("similarity", "approx", "metric"), oracle=_ANN_ORACLE)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable recall for ``ann_ivf_topk`` (nlist=8, nprobe=4):
    >= 0.6 per probe vector. Measured 0.7-1.0 at sf0.001/sf0.01."""
    from delta_lake_optimizations_spark.operators.ivf import ivf_build, ivf_search

    def approx(emb, qv):
        assigned, cents = ivf_build(emb, nlist=8, seed=7)
        return ivf_search(assigned, cents, qv, k=10, nprobe=4)

    return _ann_recall_frame(spark, sf_dir, approx, 0.6)


@query("ann_pq_recall", tags=("similarity", "approx", "metric"), oracle=_ANN_ORACLE)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable recall for ``ann_pq_topk`` (m=4, ksub=16, exact
    refine over 4k candidates): >= 0.3 per probe vector. PQ at 16x
    compression is genuinely coarse on UNIFORM vectors (no cluster
    structure for the codebooks to exploit) — measured 0.4-0.8 per probe
    at sf0.001/sf0.01; clustered-corpus recall (the realistic geometry) is
    pinned >= 0.8 in tests/test_pq.py."""
    from delta_lake_optimizations_spark.operators.pq import (
        pq_encode,
        pq_search,
        pq_train,
    )

    def approx(emb, qv):
        books = pq_train(emb, m=4, ksub=16, seed=7)
        encoded = pq_encode(emb, books)
        return pq_search(encoded, books, qv, k=10, refine_with=emb, refine_factor=4)

    return _ann_recall_frame(spark, sf_dir, approx, 0.3)


_KNN_EXACT_COUNT = """(
    SELECT COUNT(*) FROM (
        WITH pairs AS (
            SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY
                           list_sum(list_transform(
                               list_zip(a.embedding, b.embedding),
                               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                           ))
                           / (
                               SQRT(list_sum(list_transform(a.embedding,
                                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                               * SQRT(list_sum(list_transform(b.embedding,
                                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                           ) DESC,
                           b.vec_id
                   ) AS rn
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        )
        SELECT 1 FROM pairs WHERE rn <= 3
    )
)"""


@query(
    "knn_join_lsh_recall",
    tags=("similarity", "approx", "knn", "metric"),
    oracle=f"""
        SELECT CAST(3 AS BIGINT) AS k,
               CAST({_KNN_EXACT_COUNT} AS BIGINT) AS n_exact,
               TRUE AS recall_ok
    """,
)
def knn_join_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable recall for ``knn_join_lsh`` (16 tables x 9
    planes, Hamming-1): >= 0.6 of all exact 3-NN pairs. The exact pair
    count is independently recomputed by DuckDB (full n^2 + window), so
    the Spark exact baseline is value-checked too. Measured 0.725/0.767
    at sf0.001/sf0.01 (uniform corpus; clustered measures 0.965)."""
    from delta_lake_optimizations_spark.operators.similarity import (
        embedding_dim,
        knn_join,
        knn_join_lsh_multitable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    exact = knn_join(emb, k=3).select("src_id", "nbr_id")
    approx = knn_join_lsh_multitable(
        emb, dim=dim, k=3, n_tables=16, n_planes=9, probe_hamming=1
    ).select("src_id", "nbr_id")
    return _recall_frame(approx, exact, ["src_id", "nbr_id"], 0.6, 3)


@query(
    "knn_join_ivf_recall",
    tags=("similarity", "approx", "knn", "metric"),
    oracle=f"""
        SELECT CAST(3 AS BIGINT) AS k,
               CAST({_KNN_EXACT_COUNT} AS BIGINT) AS n_exact,
               TRUE AS recall_ok
    """,
)
def knn_join_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable recall for ``knn_join_ivf`` (nlist=8, nprobe=3):
    >= 0.5 of all exact 3-NN pairs (measured 0.615/0.695 at
    sf0.001/sf0.01 on the uniform corpus; clustered measures >= 0.8,
    pinned in pytest). Exact pair count value-checked by DuckDB."""
    from delta_lake_optimizations_spark.operators.ivf import ivf_knn_join
    from delta_lake_optimizations_spark.operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    exact = knn_join(emb, k=3).select("src_id", "nbr_id")
    approx = ivf_knn_join(emb, nlist=8, nprobe=3, k=3).select("src_id", "nbr_id")
    return _recall_frame(approx, exact, ["src_id", "nbr_id"], 0.5, 3)


@query(
    "hard_negatives_lsh_overlap",
    tags=("similarity", "mining", "metric"),
    oracle="""
        SELECT CAST(3 AS BIGINT) AS k,
               CAST((
                   SELECT COUNT(*) FROM (
                       WITH pairs AS (
                           SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
                                  ROUND(
                                      list_sum(list_transform(
                                          list_zip(a.embedding, b.embedding),
                                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                                      ))
                                      / (
                                          SQRT(list_sum(list_transform(a.embedding,
                                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                                          * SQRT(list_sum(list_transform(b.embedding,
                                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                                      ), 6
                                  ) AS cos_sim
                           FROM embeddings a JOIN embeddings b
                             ON a.vec_id <> b.vec_id AND a.label <> b.label
                       ),
                       ranked AS (
                           SELECT anchor_id, negative_id,
                                  ROW_NUMBER() OVER (
                                      PARTITION BY anchor_id
                                      ORDER BY cos_sim DESC, negative_id
                                  ) AS rn
                           FROM pairs WHERE cos_sim < 0.95
                       )
                       SELECT 1 FROM ranked WHERE rn <= 3
                   )
               ) AS BIGINT) AS n_exact,
               TRUE AS recall_ok
    """,
)
def hard_negatives_lsh_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable overlap for ``hard_negatives_lsh``: >= 0.6 of the
    exact miner's (anchor, negative) pairs (measured 0.713/0.755 at
    sf0.001/sf0.01). The exact pair count is value-checked by DuckDB with
    the same label/near-dup exclusions."""
    from delta_lake_optimizations_spark.operators.similarity import hard_negatives
    from delta_lake_optimizations_spark.registry import registry as _reg

    emb = load_table(spark, sf_dir, "embeddings")
    exact = hard_negatives(emb, k=3, dup_threshold=0.95).select(
        "anchor_id", "negative_id"
    )
    approx = _reg()["hard_negatives_lsh"].fn(spark, sf_dir).select(
        "anchor_id", "negative_id"
    )
    return _recall_frame(approx, exact, ["anchor_id", "negative_id"], 0.6, 3)


# ---------------------------------------------------------------------------
# Text near-dup recall metrics (truth = exact n-gram Jaccard >= 0.8,
# independently recomputed by DuckDB)
# ---------------------------------------------------------------------------

_DUCK_TRUE_PAIRS_08 = """(
    SELECT COUNT(*) FROM (
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(t[i.i : i.i + 2], ' ') AS gram
            FROM toks,
                 LATERAL (
                     SELECT UNNEST(range(1, GREATEST(len(t) - 2, 1) + 1)) AS i
                 ) i
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_inter
            FROM grams a JOIN grams b
              ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT 1
        FROM inter
        JOIN sizes sa ON ida = sa.doc_id
        JOIN sizes sb ON idb = sb.doc_id
        WHERE CAST(n_inter AS DOUBLE)
              / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.8
    )
)"""


def _true_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_optimizations_spark.operators.dedup import ngram_jaccard_pairs

    documents = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(documents, "doc_id", "text", n=3, threshold=0.8).select(
        "doc_a", "doc_b"
    )


@query(
    "minhash_lsh_recall",
    tags=("dedup", "approx", "metric"),
    oracle=f"""
        SELECT CAST({_DUCK_TRUE_PAIRS_08} AS BIGINT) AS n_exact,
               TRUE AS recall_ok
    """,
)
def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable recall for ``dedup_minhash_lsh``: the banded
    signature join must surface >= 0.9 of the TRUE Jaccard >= 0.8 pairs
    (detection probability at s=0.8 with 16 bands x 4 rows is ~0.9998;
    measured recall 1.0 at both sfs). The truth-set size is value-checked
    by DuckDB's own shingling."""
    from delta_lake_optimizations_spark.operators.dedup import minhash_lsh_pairs

    documents = load_table(spark, sf_dir, "documents")
    truth = _true_jaccard_pairs(spark, sf_dir)
    found = minhash_lsh_pairs(documents, "doc_id", "text", threshold=0.5).select(
        "doc_a", "doc_b"
    )
    return _recall_frame(found, truth, ["doc_a", "doc_b"], 0.9, 0).drop("k").select(
        "n_exact", "recall_ok"
    )


@query(
    "simhash_jaccard_recall",
    tags=("dedup", "approx", "metric"),
    oracle=f"""
        SELECT CAST({_DUCK_TRUE_PAIRS_08} AS BIGINT) AS n_exact,
               TRUE AS recall_ok
    """,
)
def simhash_jaccard_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable recall for ``dedup_simhash`` (Hamming <= 8 over
    64-bit token signatures): >= 0.8 of the true Jaccard >= 0.8 pairs
    (measured 0.929/0.920 at sf0.001/sf0.01). Truth-set size value-checked
    by DuckDB."""
    from delta_lake_optimizations_spark.operators.dedup import simhash_near_pairs

    documents = load_table(spark, sf_dir, "documents")
    truth = _true_jaccard_pairs(spark, sf_dir)
    found = simhash_near_pairs(documents, "doc_id", "text", max_hamming=8).select(
        "doc_a", "doc_b"
    )
    return _recall_frame(found, truth, ["doc_a", "doc_b"], 0.8, 0).drop("k").select(
        "n_exact", "recall_ok"
    )


@query(
    "ann_lsh_sharded_matches_inline",
    tags=("similarity", "approx", "index", "metric"),
    oracle="""
        SELECT CAST(10 AS BIGINT) AS k, CAST(0 AS BIGINT) AS n_mismatch
    """,
)
def ann_lsh_sharded_matches_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharded-index probe (tc-IN pruned load) must return EXACTLY the
    inline multi-probe result at the same (8-table, Hamming<=1) dial —
    the bucket enumeration and the file skipping together must neither
    drop nor invent candidates. A stale or mispruned index makes
    n_mismatch > 0."""
    from delta_lake_optimizations_spark.operators.lsh_index import (
        N_TABLES_SHARDED,
        PROBE_HAMMING_INDEXED,
        _cached_sharded_index,
        ann_topk_from_sharded,
    )
    from delta_lake_optimizations_spark.operators.similarity import (
        ann_topk_multiprobe,
        query_vector,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(spark, sf_dir, 0)
    inline = ann_topk_multiprobe(
        emb, qv, k=10, n_tables=N_TABLES_SHARDED, probe_hamming=PROBE_HAMMING_INDEXED
    ).select("vec_id", "cos_sim")
    sharded = ann_topk_from_sharded(_cached_sharded_index(spark, sf_dir), qv, k=10)
    return mismatch_count(inline, sharded, ["vec_id", "cos_sim"]).select(
        F.lit(10).cast("long").alias("k"), "n_mismatch"
    )


@query(
    "ann_ivf_indexed_matches_inline",
    tags=("similarity", "approx", "index", "metric"),
    oracle="""
        SELECT CAST(10 AS BIGINT) AS k, CAST(0 AS BIGINT) AS n_mismatch
    """,
)
def ann_ivf_indexed_matches_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact probe of the materialized IVF-PQ index (list_id-
    partitioned table + centroids from properties, float vectors scored
    exactly) must return EXACTLY the inline IVF path's result (same
    seeded k-means -> same centroids -> same probe cells -> same candidate
    set). A stale index, a mis-serialized centroid, or broken partition
    pruning makes n_mismatch > 0."""
    from delta_lake_optimizations_spark.operators.ivf import (
        ann_topk_from_ivf_index,
        ivf_build,
        ivf_search,
    )
    from delta_lake_optimizations_spark.operators.ivfpq import _cached_ivfpq_index
    from delta_lake_optimizations_spark.operators.similarity import query_vector

    emb = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(spark, sf_dir, 0)
    assigned, centroids = ivf_build(emb, nlist=8, seed=7)
    inline = ivf_search(assigned, centroids, qv, k=10, nprobe=4).select(
        "vec_id", "cos_sim"
    )
    indexed = ann_topk_from_ivf_index(
        _cached_ivfpq_index(spark, sf_dir, nlist=8, m=4, ksub=16), qv, k=10, nprobe=4
    )
    return mismatch_count(inline, indexed, ["vec_id", "cos_sim"]).select(
        F.lit(10).cast("long").alias("k"), "n_mismatch"
    )

@query(
    "ann_ivfpq_matches_inline",
    tags=("similarity", "approx", "index", "pq", "metric"),
    oracle="""
        SELECT CAST(10 AS BIGINT) AS k, CAST(0 AS BIGINT) AS n_mismatch
    """,
)
def ann_ivfpq_matches_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized IVF-PQ index (codes inside the list_id-partitioned
    table, centroids + codebooks from properties) must return EXACTLY the
    inline re-derivation's result: seeded k-means -> same centroids and
    codebooks (both rounded at the shared 8-dp choke point) -> same probe
    cells -> same stored codes -> bit-identical ADC -> same refine and
    tie-break. A stale index, a mis-serialized codebook, broken partition
    pruning, or an encode divergence makes n_mismatch > 0."""
    from delta_lake_optimizations_spark.operators.ivfpq import (
        _cached_ivfpq_index,
        ann_topk_from_ivfpq_index,
        ivfpq_search_inline,
    )
    from delta_lake_optimizations_spark.operators.similarity import query_vector

    emb = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(spark, sf_dir, 0)
    inline = ivfpq_search_inline(
        emb, qv, k=10, nlist=8, m=4, ksub=16, nprobe=4, refine_factor=4, seed=7
    ).select("vec_id", "cos_sim")
    indexed = ann_topk_from_ivfpq_index(
        _cached_ivfpq_index(spark, sf_dir, nlist=8, m=4, ksub=16),
        qv, k=10, nprobe=4, refine_factor=4,
    )
    return mismatch_count(inline, indexed, ["vec_id", "cos_sim"]).select(
        F.lit(10).cast("long").alias("k"), "n_mismatch"
    )


@query(
    "ann_ivfpq_recall", tags=("similarity", "approx", "pq", "metric"),
    oracle=_ANN_ORACLE,
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable recall for the materialized IVF-PQ probe (nlist=8,
    nprobe=4, m=4, ksub=16, exact refine over 40 candidates): >= 0.3 of
    the exact top-10 per probe vector. The floor matches ``ann_pq_recall``
    — IVF-PQ adds cell pruning ON TOP of PQ's 16x-compression coarseness,
    so uniform-corpus recall can only be <= plain PQ's; clustered-corpus
    recall (the realistic geometry) is pinned >= 0.8 in
    tests/test_ivfpq.py."""
    from delta_lake_optimizations_spark.operators.ivfpq import (
        _cached_ivfpq_index,
        ann_topk_from_ivfpq_index,
    )

    idx = _cached_ivfpq_index(spark, sf_dir, nlist=8, m=4, ksub=16)

    def approx(emb, qv):
        return ann_topk_from_ivfpq_index(idx, qv, k=10, nprobe=4, refine_factor=4)

    return _ann_recall_frame(spark, sf_dir, approx, 0.3)

@query(
    "knn_join_ivf_matches_inline",
    tags=("similarity", "approx", "knn", "index", "metric"),
    oracle="""
        SELECT CAST(3 AS BIGINT) AS k, CAST(0 AS BIGINT) AS n_mismatch
    """,
)
def knn_join_ivf_matches_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch k-NN join answered from the materialized IVF-PQ index
    (stored cells and float vectors) must return EXACTLY the inline
    form's result at the same (nlist=8, nprobe=3, seed=7) dial: seeded
    k-means makes the inline assignment
    identical to the stored one, and both forms share the one
    ``_knn_join_cells`` tail — so any divergence means a stale index, a
    drifted stored assignment, or a probe-map bug. n_mismatch counts
    rows present in exactly one side (full outer on the whole
    (src, nbr, sim) triple)."""
    from delta_lake_optimizations_spark.operators.ivf import (
        ivf_knn_join,
        knn_join_from_ivf_index,
    )
    from delta_lake_optimizations_spark.operators.ivfpq import _cached_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    inline = ivf_knn_join(emb, nlist=8, nprobe=3, k=3, seed=7)
    indexed = knn_join_from_ivf_index(
        _cached_ivfpq_index(spark, sf_dir, nlist=8, m=4, ksub=16), nprobe=3, k=3
    )
    return mismatch_count(inline, indexed, ["src_id", "nbr_id", "cos_sim"]).select(
        F.lit(3).cast("long").alias("k"), "n_mismatch"
    )


@query(
    "ann_batch_matches_singles",
    tags=("similarity", "approx", "index", "batch", "metric"),
    oracle="""
        SELECT family, CAST(0 AS BIGINT) AS n_mismatch
        FROM (VALUES ('bruteforce'), ('ivf'), ('ivfpq')) AS t(family)
        ORDER BY family
    """,
)
def ann_batch_matches_singles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCHED probe paths (VERDICT r08 #1b — one plan scoring Q
    queries, per-query fixed costs amortized) must return, per query,
    EXACTLY what the single-query probes return: brute
    ``topk_cosine_batch`` vs ``topk_cosine``, exact IVF
    ``ann_topk_batch_from_ivf`` vs ``ann_topk_from_ivf_index``, IVF-PQ
    ``ann_topk_batch_from_ivfpq`` vs ``ann_topk_from_ivfpq_index`` — all
    at identical dials over the first 6 corpus vectors, both IVF
    families probing the one cached IVF-PQ table. n_mismatch
    counts (qid, id, score) triples present on exactly one side of a
    full outer join; a nonzero means a scoring divergence (the batch ADC
    LUT drifting from the literal path), a broken probe map, or a
    tie-break difference in the two top-k reductions."""
    from delta_lake_optimizations_spark.operators.ivf import (
        ann_topk_batch_from_ivf,
        ann_topk_from_ivf_index,
    )
    from delta_lake_optimizations_spark.operators.ivfpq import (
        _cached_ivfpq_index,
        ann_topk_batch_from_ivfpq,
        ann_topk_from_ivfpq_index,
    )
    from delta_lake_optimizations_spark.operators.similarity import (
        topk_cosine,
        topk_cosine_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 6).collect()
    ]
    pq_t = _cached_ivfpq_index(spark, sf_dir, nlist=8, m=4, ksub=16)

    def singles(fn):
        out = None
        for qid, qv in qs:
            one = fn(qv).select(
                F.lit(qid).alias("qid"), "vec_id", "cos_sim"
            )
            out = one if out is None else out.unionByName(one)
        return out

    pairs = [
        (
            "bruteforce",
            topk_cosine_batch(emb, qs, k=10),
            singles(lambda qv: topk_cosine(emb, qv, k=10)),
        ),
        (
            "ivf",
            ann_topk_batch_from_ivf(pq_t, qs, k=10, nprobe=3),
            singles(lambda qv: ann_topk_from_ivf_index(pq_t, qv, k=10, nprobe=3)),
        ),
        (
            "ivfpq",
            ann_topk_batch_from_ivfpq(pq_t, qs, k=10, nprobe=3, refine_factor=4),
            singles(
                lambda qv: ann_topk_from_ivfpq_index(
                    pq_t, qv, k=10, nprobe=3, refine_factor=4
                )
            ),
        ),
    ]
    out = None
    for family, batch, single in pairs:
        one = mismatch_count(batch, single, ["qid", "vec_id", "cos_sim"]).select(
            F.lit(family).alias("family"), "n_mismatch"
        )
        out = one if out is None else out.unionByName(one)
    return out.orderBy("family")
