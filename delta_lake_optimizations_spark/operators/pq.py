"""Product-quantized (PQ) vector compression + asymmetric-distance search.

The public FAISS/Jegou-et-al. design ("Product Quantization for Nearest
Neighbor Search", TPAMI 2011): split each D-dim vector into M subvectors,
k-means each subspace into ``ksub`` sub-centroids, and store M small
codes per vector — compressing ``4*D`` float bytes to ``M`` code bytes
(e.g. 128x for D=768, M=24, ksub=256). Queries score compressed codes
via Asymmetric Distance Computation (ADC): a query-specific M x ksub
lookup table of exact subdistances, summed per code.

Spark-first split of the work:

- **train** (``pq_train``): one bounded hash-ordered sample collected
  once, then one seeded NumPy k-means per subspace on the driver
  (``operators/kmeans.py``); the codebook (M x ksub x D/M floats) is
  index METADATA, driver-held and broadcastable.
- **encode** (``pq_encode``): vectorized NumPy argmin inside Arrow-
  batched ``mapInPandas`` — the heavy per-row math rides C loops over
  whole batches, the canonical "Python only via Arrow" fast path.
- **search** (``pq_search``): the ADC lookup table is built driver-side
  from the query (tiny), then embedded as LITERAL arrays so scoring is
  pure JVM expressions — ``element_at`` per code + sum — inside
  whole-stage codegen over the compressed column. No Python, no
  full-precision vectors touched until the optional exact re-rank of
  the short candidate list (``refine``).

At 100 TB the encoded table is what you keep hot (bytes per vector, not
KBs); full-precision vectors stay cold for the refine step only.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.operators.kmeans import kmeans, nearest, training_sample
from delta_lake_optimizations_spark.queries.vectors import cosine
from delta_lake_optimizations_spark.registry import query


def pq_train(
    df: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[list[list[float]]]:
    """Fit M per-subspace codebooks (each ksub x D/M). Dimension D must
    divide evenly by ``m``. Returns driver-side codebooks (metadata)."""
    return fit_codebooks(training_sample(df, vec_col, ksub, seed), m, ksub, seed)


def fit_codebooks(X: np.ndarray, m: int, ksub: int, seed: int) -> list[list[list[float]]]:
    """One k-means per subspace of the sample matrix ``X`` (subspace
    ``sub`` seeded ``seed + sub``)."""
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        kmeans(X[:, sub * dsub : (sub + 1) * dsub], ksub, seed + sub).tolist()
        for sub in range(m)
    ]


def _codes(vectors, books: list[np.ndarray]) -> np.ndarray:
    """(n, M) nearest-sub-centroid codes for a batch of vectors."""
    vecs = np.vstack([np.asarray(v, dtype=np.float64) for v in vectors])
    dsub = books[0].shape[1]
    return np.stack(
        [nearest(vecs[:, s * dsub : (s + 1) * dsub], b) for s, b in enumerate(books)],
        axis=1,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Compress vectors to M small codes (``array<int>``, values <
    ksub). Vectorized argmin over whole Arrow batches."""
    books = [np.asarray(cb, dtype=np.float64) for cb in codebooks]

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codes = _codes(pdf[vec_col], books)
            yield pd.DataFrame(
                {id_col: pdf[id_col], code_col: [list(map(int, c)) for c in codes]}
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode_batches, schema=f"{id_col} long, {code_col} array<int>"
    )


def pq_encode_col(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Column-preserving variant of :func:`pq_encode`: appends ``code_col``
    with a Series-to-Series ``pandas_udf`` instead of projecting the frame
    down to (id, code), so carriers like the IVF ``list_id`` survive without
    a join-back shuffle (the shape the materialized IVF-PQ build needs —
    same pattern as ``ivf.assign_to_centroids``). Same vectorized argmin
    math as ``pq_encode``; a pytest pins code-for-code equality."""
    from pyspark.sql.functions import pandas_udf

    books = [np.asarray(cb, dtype=np.float64) for cb in codebooks]

    def encode(emb):
        return pd.Series([list(map(int, c)) for c in _codes(emb, books)])

    encode.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    udf = pandas_udf("array<int>")(encode)
    return df.withColumn(code_col, udf(F.col(vec_col)))


def _adc_table(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """M x ksub exact squared subdistances from the query's subvectors."""
    qv = np.asarray(query_vec, dtype=np.float64)
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = []
    for sub in range(m):
        diff = np.asarray(codebooks[sub]) - qv[sub * dsub : (sub + 1) * dsub][None, :]
        lut.append([float(x) for x in (diff**2).sum(axis=1)])
    return lut


def adc_dist_col(lut: list[list[float]], code_col: str = "pq_code"):
    """The ADC scoring expression: per-subspace LUT rows embedded as JVM
    literal arrays, indexed by the stored code and summed — pure codegen,
    no Python at scoring time. Shared by ``pq_search`` and the
    materialized IVF-PQ probe so the two paths are bit-identical."""
    dist = None
    for sub, row in enumerate(lut):
        arr = F.array(*[F.lit(x) for x in row])
        term = F.element_at(arr, F.col(code_col)[sub] + 1)
        dist = term if dist is None else dist + term
    return dist


def pq_search(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over the compressed codes. With ``refine_with`` (the
    full-precision table), the approximate top ``k * refine_factor`` are
    exact-cosine re-ranked — the standard PQ recall recovery at the cost
    of fetching only the short list's vectors."""
    lut = _adc_table(codebooks, query_vec)
    dist = adc_dist_col(lut, code_col)
    n = k * refine_factor if refine_with is not None else k
    approx = (
        encoded.select(id_col, dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(n)
    )
    if refine_with is None:
        return approx
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        refine_with.join(F.broadcast(approx), id_col)
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), qlit), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


@query("ann_pq_topk", tags=("similarity", "approx", "pq"))
def ann_pq_topk(spark, sf_dir: str) -> DataFrame:
    """PQ-compressed ADC top-10 for vec_id=0 with exact refine (rows-only
    driver check; pytest pins compression shape, determinism, and recall
    on clustered vectors).

    This is the INLINE/didactic form — it trains and encodes per call,
    which is the right shape for a one-off exploration but not for a
    served index. The build-once scale path is the materialized IVF-PQ
    index (``operators/ivfpq.py``: codes stored inside the
    list_id-partitioned table, codebooks in properties, file-pruned
    probe), registered as ``ann_ivfpq_topk_indexed``."""
    from delta_lake_optimizations_spark.catalog import load_table
    from delta_lake_optimizations_spark.operators.similarity import query_vector

    emb = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(spark, sf_dir, 0)
    books = pq_train(emb, m=4, ksub=16, seed=7)
    encoded = pq_encode(emb, books)
    return pq_search(encoded, books, qv, k=10, refine_with=emb, refine_factor=4)
