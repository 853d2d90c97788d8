"""Benchmark decontamination: remove training documents that overlap an
evaluation set (SURVEY §2.9 extensions — the step every serious
pretraining pipeline runs between crawl and train; the GPT-3 / PaLM
papers describe exactly this n-gram-overlap form).

Shape: corpus docs and benchmark docs are both exploded into distinct
word n-grams; the benchmark gram set is tiny by definition (eval suites
are thousands of documents, not billions) so it is ``F.broadcast`` into
a map-side semi/inner join — the 100 TB corpus is never shuffled, each
task filters its own partition against the broadcast gram set. The
per-doc aggregation shuffles only (doc_id, count) pairs for the
contaminated minority.

All built-in expressions (split / transform / slice / explode) — no
Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.registry import query


def word_ngrams(text_col: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) of ``text_col``; empty array
    for documents shorter than ``n`` tokens. ``F.sequence`` would count
    DOWN for stop < start, hence the explicit length guard."""
    toks = F.split(text_col, " ")
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def _word_gram_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, keep_pos: bool = False
) -> DataFrame:
    """``word_ngrams`` as ROWS, DOC-LOCAL (r12, the dedup ``_gram_rows``
    rewrite): tokenize once per doc, explode the gram start positions,
    ``slice``/``array_join`` each gram out of the carried token array —
    identical gram strings (same single-space tokenizer, full n-grams
    only, none for short docs) with ZERO shuffles. The prior posexplode +
    window ``lead`` form shuffled and sorted every token by ``_id``
    before a single gram existed; ``slice``/``array_join`` are plain
    expressions (not lambda HOFs), so nothing evaluates per element and
    nothing re-tokenizes. NULL text: ``size(NULL) -> NULL`` routes to the
    empty-array branch, dropping the doc exactly as posexplode of a NULL
    array did. ``keep_pos`` adds the gram's 0-based start position as
    ``_p`` (the span-decontamination path needs it)."""
    from delta_lake_optimizations_spark.operators.dedup import spread_doc_rows

    toks_df = spread_doc_rows(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)), "_id"
    ).select(
        "_id",
        F.split(F.col(text_col), " ").alias("_toks"),
    )
    sz = F.size("_toks")
    positions = F.when(sz >= n, F.sequence(F.lit(0), sz - n)).otherwise(
        F.array().cast("array<integer>")
    )
    rows = toks_df.select("_id", "_toks", F.explode(positions).alias("_pos"))
    pos_cols = [F.col("_pos").alias("_p")] if keep_pos else []
    return rows.select(
        F.col("_id").alias(id_col),
        *pos_cols,
        F.array_join(F.slice("_toks", F.col("_pos") + 1, n), " ").alias("gram"),
    )


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-corpus-document count of DISTINCT word n-grams shared with the
    benchmark set. Only contaminated documents appear in the output.

    The corpus side (the big one at 100 TB) enumerates grams via
    ``_word_gram_rows``; the benchmark side stays on the array form —
    it's the broadcast-small side."""
    c_grams = _word_gram_rows(corpus, id_col, text_col, n).distinct()
    b_grams = (
        benchmark.select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    return (
        c_grams.join(F.broadcast(b_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_shared: int = 0,
) -> DataFrame:
    """Drop corpus documents sharing more than ``max_shared`` distinct
    n-grams with the benchmark (default: any overlap). Anti-join on the
    contaminated-id set, which is small — broadcast-able."""
    bad = (
        ngram_overlap(corpus, benchmark, id_col, text_col, n)
        .filter(F.col("n_shared_grams") > max_shared)
        .select(id_col)
    )
    return corpus.join(F.broadcast(bad), id_col, "left_anti")


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """SURGICAL decontamination: instead of dropping whole documents
    (:func:`decontaminate`), cut only the contaminated SPANS — every
    corpus position whose word n-gram appears anywhere in the benchmark
    is removed, overlapping hits merging into maximal spans, and the
    document reassembles from the surviving tokens (the span-level
    cleanup the big-lab pipelines describe: a long document quoting one
    benchmark question loses the quote, not its other 50 pages).

    Output: ``(id_col, clean_text, n_kept, n_removed)`` — every corpus
    document surfaces, fully-contaminated ones with ``clean_text=''``.

    100 TB shape: the benchmark gram set is broadcast (eval suites are
    tiny by definition) so marking is a map-side join over the gram
    stream; coverage union + reassembly shuffle by doc id only (the
    shared ``dedup.drop_covered_tokens`` tail)."""
    from delta_lake_optimizations_spark.operators.dedup import (
        drop_covered_tokens,
    )

    b_grams = (
        benchmark.select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    starts = _word_gram_rows(corpus, id_col, text_col, n, keep_pos=True).join(
        F.broadcast(b_grams), "gram"
    ).select(id_col, "_p")
    # NULL text behaves like '' so the totality contract holds (the
    # remove_repeated_spans convention): without the coalesce, size()
    # of a NULL array makes n_removed NULL instead of 0
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    return drop_covered_tokens(corpus, id_col, toks, starts, n)


@query(
    "decontam_remove_spans",
    tags=("text", "decontam", "llm-pipeline"),
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        bench AS (
            SELECT DISTINCT array_to_string(list_slice(ts, i, i + 3), ' ') AS gram
            FROM tok, UNNEST(generate_series(1, len(ts) - 3)) AS t(i)
            WHERE doc_id % 25 = 0
        ),
        train AS (SELECT doc_id, ts FROM tok WHERE doc_id % 25 <> 0),
        pos AS (
            SELECT doc_id, i,
                   array_to_string(list_slice(ts, i, i + 3), ' ') AS gram
            FROM train, UNNEST(generate_series(1, len(ts) - 3)) AS t(i)
        ),
        starts AS (SELECT p.doc_id, p.i FROM pos p JOIN bench b USING (gram)),
        covered AS (
            SELECT DISTINCT doc_id, unnest(range(i - 1, i + 3)) AS q
            FROM starts
        ),
        tokens AS (
            SELECT doc_id, unnest(range(len(ts))) AS q, unnest(ts) AS tok
            FROM train
        ),
        kept AS (
            SELECT tk.doc_id, tk.q, tk.tok
            FROM tokens tk LEFT JOIN covered c
              ON tk.doc_id = c.doc_id AND tk.q = c.q
            WHERE c.q IS NULL
        ),
        kept_agg AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY q) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT tr.doc_id,
               COALESCE(ka.clean_text, '') AS clean_text,
               CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(len(tr.ts) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed
        FROM train tr LEFT JOIN kept_agg ka USING (doc_id)
    """,
)
def decontam_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgically remove every word 4-gram span shared with the
    (synthetic) benchmark slice ``doc_id % 25 == 0`` from the training
    slice; oracle restates the full mark/cover/reassemble cascade.
    4-grams suit this short-doc tiny-vocab corpus; production uses 8-13
    (the operator parameter)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    return decontaminate_spans(train, bench, n=4)


@query(
    "decontam_ngram_overlap",
    tags=("text", "decontam", "llm-pipeline"),
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(ts, i, i + 3), ' ') AS gram
            FROM tok, UNNEST(generate_series(1, len(ts) - 3)) AS t(i)
        ),
        bench AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0
        )
        SELECT g.doc_id, COUNT(*) AS n_shared_grams
        FROM grams g JOIN bench b USING (gram)
        WHERE g.doc_id % 25 <> 0
        GROUP BY g.doc_id
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination report: which training docs share a word 4-gram with
    the (synthetic) benchmark slice ``doc_id % 25 == 0``, and how many.
    4-grams suit this short-doc tiny-vocab corpus; production uses 8-13
    (the operator parameter)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    return ngram_overlap(train, bench, n=4)


def embedding_decontaminate_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic (embedding-space) contamination report: for each corpus
    vector, its MAX cosine against the benchmark set; only vectors at or
    above ``threshold`` are returned.

    Complements ``ngram_overlap``: paraphrased benchmark leakage carries
    no shared n-grams but lands close in embedding space (the
    contamination mode n-gram decontamination cannot see). Same scale
    shape as the n-gram form — the benchmark side is tiny by definition,
    so it broadcasts and the corpus is scanned map-side, never shuffled;
    the aggregation shuffles only (id, partial-max) pairs.
    """
    from delta_lake_optimizations_spark.queries.vectors import (
        cosine_with_norms,
        norm_col,
    )

    # r11 norm-once: both norms project once per ROW (corpus row / bench
    # broadcast row) instead of once per (corpus x bench) PAIR — the dot
    # is the only per-pair fold left. Bit-identical (see norm_col).
    b = F.broadcast(
        benchmark.select(
            F.col(vec_col).alias("__bv"),
            norm_col(F.col(vec_col)).alias("__bn"),
        )
    )
    return (
        corpus.select(
            F.col(id_col), F.col(vec_col), norm_col(F.col(vec_col)).alias("__vn")
        )
        .crossJoin(b)
        .select(
            F.col(id_col),
            cosine_with_norms(
                F.col(vec_col), F.col("__bv"), F.col("__vn"), F.col("__bn")
            ).alias("__cos"),
        )
        .groupBy(id_col)
        .agg(F.round(F.max("__cos"), 6).alias("max_bench_cos"))
        .filter(F.col("max_bench_cos") >= threshold)
    )


@query(
    "decontam_embedding_similarity",
    tags=("decontam", "similarity", "llm-pipeline"),
    oracle="""
        WITH bench AS (
            SELECT embedding AS bv FROM embeddings WHERE vec_id % 50 = 0
        ),
        scored AS (
            SELECT
                e.vec_id,
                list_sum(list_transform(
                    list_zip(e.embedding, b.bv),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                ))
                / (
                    SQRT(list_sum(list_transform(
                        e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                    )))
                    * SQRT(list_sum(list_transform(
                        b.bv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                    )))
                ) AS cos_sim
            FROM embeddings e, bench b
            WHERE e.vec_id % 50 <> 0
        )
        SELECT vec_id, ROUND(MAX(cos_sim), 6) AS max_bench_cos
        FROM scored
        GROUP BY vec_id
        HAVING ROUND(MAX(cos_sim), 6) >= 0.5
    """,
)
def decontam_embedding_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vectors semantically too close to the (synthetic) benchmark
    slice ``vec_id % 50 == 0`` — max-cosine >= 0.5 against any benchmark
    vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return embedding_decontaminate_report(corpus, bench, threshold=0.5)



# ---------------------------------------------------------------------------
# Embedding decontamination at BENCHMARK scale (VERDICT r07 #6): the
# broadcast form above is linear in |corpus| * |benchmark| flops — fine
# while eval suites are thousands of vectors, quadratic pain once a
# deployment accumulates 10^5+ benchmark vectors. The indexed form
# answers the same max-cosine report from a materialized IVF-PQ index OVER
# THE BENCHMARK (its exact float vectors, not its codes): each corpus
# vector scores against only its nprobe nearest benchmark cells (one Arrow
# argpartition pass to pick cells, an equi-join on list_id) —
# |corpus| * |benchmark| * nprobe/nlist flops, the benchmark never
# broadcast, the corpus shuffled once by cell id.
# Same crossover logic as every ANN family here: build once, probe
# cheap. ``decontam_embedding_matches_broadcast`` is the oracle-backed
# equality twin (deterministic: seeded k-means, fixed probe ranking).
# ---------------------------------------------------------------------------


def assign_topn_cells(
    df: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    vec_col: str = "embedding",
    out_col: str = "_cells",
) -> DataFrame:
    """Top-``nprobe`` nearest centroids per row (generalizes
    ``ivf.assign_to_centroids`` from argmin to argpartition) — one
    Arrow-batched numpy pass, no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    Cn = (C * C).sum(axis=1)
    n = min(nprobe, len(centroids))

    def topn(emb: pd.Series) -> pd.Series:
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
        d = Cn[None, :] - 2.0 * (X @ C.T)
        # argsort the nprobe-smallest for a deterministic cell order
        part = np.argpartition(d, n - 1, axis=1)[:, :n]
        rows = np.take_along_axis(d, part, axis=1)
        order = np.argsort(rows, axis=1, kind="stable")
        cells = np.take_along_axis(part, order, axis=1).astype("int32")
        return pd.Series(list(cells))

    topn.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    udf = pandas_udf("array<int>")(topn)
    return df.withColumn(out_col, udf(F.col(vec_col)))


def embedding_decontaminate_indexed(
    corpus: DataFrame,
    bench_table,
    threshold: float = 0.5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``embedding_decontaminate_report`` answered from a materialized
    IVF-PQ index over the benchmark (``ivfpq.build_ivfpq_index`` output,
    read through its ``list_id`` and float vector columns only): max
    cosine per corpus vector = a batch k-NN (k=1) against the index,
    restricted to each vector's ``nprobe`` nearest benchmark cells."""
    from delta_lake_optimizations_spark.operators.ivf import ivf_index_centroids
    from delta_lake_optimizations_spark.queries.vectors import (
        cosine_with_norms,
        norm_col,
    )

    centroids = ivf_index_centroids(bench_table)
    # r11 norm-once: corpus norm projects once per corpus row (below the
    # explode, so the per-cell fanout reuses the computed value); bench
    # norm once per bench row. Per-pair work is the dot alone.
    left = (
        assign_topn_cells(
            corpus.select(id_col, vec_col), centroids, nprobe, vec_col
        )
        .withColumn("__vn", norm_col(F.col(vec_col)))
        .select(id_col, vec_col, "__vn", F.explode("_cells").alias("list_id"))
    )
    right = bench_table.load().select(
        "list_id",
        F.col(vec_col).alias("__bv"),
        norm_col(F.col(vec_col)).alias("__bn"),
    )
    return (
        left.join(right, "list_id")
        .select(
            F.col(id_col),
            cosine_with_norms(
                F.col(vec_col), F.col("__bv"), F.col("__vn"), F.col("__bn")
            ).alias("__cos"),
        )
        .groupBy(id_col)
        .agg(F.round(F.max("__cos"), 6).alias("max_bench_cos"))
        .filter(F.col("max_bench_cos") >= threshold)
    )


def _cached_bench_ivf_index(spark, sf_dir: str, nlist: int = 8):
    """Build-once IVF-PQ index over the synthetic benchmark slice
    (vec_id % 50 == 0), cached like every corpus index (see
    ``catalog.cached_table``). The decontam probe reads only its cells
    and float vectors."""
    from delta_lake_optimizations_spark.catalog import cached_table
    from delta_lake_optimizations_spark.operators.ivfpq import build_ivfpq_index

    return cached_table(
        spark,
        sf_dir,
        f"bench-ivfpq-np|{nlist}",
        lambda path: build_ivfpq_index(
            spark,
            load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 50 == 0),
            path,
            nlist=nlist,
            seed=7,
        ),
        "spark_graft_bench_ivf",
    )


@query("decontam_embedding_indexed", tags=("decontam", "similarity", "index", "llm-pipeline"))
def decontam_embedding_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The indexed embedding-decontamination report (rows-only driver
    check; ``decontam_embedding_matches_broadcast`` is the oracle-backed
    equality twin against the broadcast form). Threshold 0.3: the
    synthetic corpus's max-cos distribution tops out near 0.45, so 0.3
    flags a real contaminated tail (~10%) instead of an empty set."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    t = _cached_bench_ivf_index(spark, sf_dir, nlist=8)
    return embedding_decontaminate_indexed(
        corpus, t, threshold=0.3, nprobe=4
    ).orderBy("vec_id")


@query(
    "decontam_embedding_matches_broadcast",
    tags=("decontam", "similarity", "index", "metric"),
    oracle="SELECT CAST(0 AS BIGINT) AS n_mismatch",
)
def decontam_embedding_matches_broadcast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The indexed form must reproduce the broadcast form's report
    exactly at these dials (nlist=8, nprobe=4 on clustered embeddings:
    the true max-cosine benchmark vector lives in one of the 4 nearest
    cells for EVERY corpus vector — deterministic, seeded, re-verified
    per round). Compared UNTHRESHOLDED (every corpus vector's max-cos,
    not just the contaminated tail) so the twin pins ~|corpus| values,
    never an empty set. A stale benchmark index, a probe under-reach,
    or an assignment drift makes n_mismatch > 0."""
    from delta_lake_optimizations_spark.operators.metrics import mismatch_count

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    broadcast_form = embedding_decontaminate_report(
        corpus, bench, threshold=-1.0
    )
    t = _cached_bench_ivf_index(spark, sf_dir, nlist=8)
    indexed_form = embedding_decontaminate_indexed(
        corpus, t, threshold=-1.0, nprobe=4
    )
    return mismatch_count(broadcast_form, indexed_form, ["vec_id", "max_bench_cos"])


@query(
    "decontam_clean_corpus_stats",
    tags=("text", "decontam", "llm-pipeline"),
    oracle="""
        WITH tok AS (
            SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(ts, i, i + 3), ' ') AS gram
            FROM tok, UNNEST(generate_series(1, len(ts) - 3)) AS t(i)
        ),
        bench AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0
        ),
        bad AS (
            SELECT DISTINCT g.doc_id
            FROM grams g JOIN bench b USING (gram)
            WHERE g.doc_id % 25 <> 0
        )
        SELECT d.source,
               COUNT(*) AS n_clean,
               CAST(SUM(d.n_chars) AS BIGINT) AS clean_chars
        FROM documents d
        WHERE d.doc_id % 25 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM bad)
        GROUP BY d.source
    """,
)
def decontam_clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-decontamination corpus profile: per source, how many documents
    and characters survive removing everything that overlaps the
    benchmark slice."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    clean = decontaminate(train, bench, n=4)
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.sum("n_chars").alias("clean_chars"),
    )
