"""Batched ANN probes (VERDICT r08 #1b): one plan scoring Q queries must
return, per query, exactly what the single-query probe returns — the
batch buys amortization of the per-query fixed costs (plan compile,
codegen, scan setup), never different answers. Also pins the broadcast-
LUT ADC form against the literal-LUT form it replaced (r08 #1c)."""

from __future__ import annotations

from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.operators.ivf import (
    ann_topk_batch_from_ivf,
    ann_topk_from_ivf_index,
)
from delta_lake_optimizations_spark.operators.ivfpq import (
    _adc_refine_topk,
    _ip_adc_score,
    _with_adc_score,
    ann_topk_batch_from_ivfpq,
    ann_topk_from_ivfpq_index,
    build_ivfpq_index,
    ivfpq_metadata,
)
from delta_lake_optimizations_spark.operators.kmeans import probe_cells
from delta_lake_optimizations_spark.operators.lsh_index import (
    ann_topk_batch_from_sharded,
    ann_topk_from_sharded,
    build_lsh_sharded_index,
)
from delta_lake_optimizations_spark.operators.similarity import (
    topk_cosine,
    topk_cosine_batch,
)

from .conftest import SF_DIR


def _queries(df, n=6):
    rows = (
        df.filter(F.col("vec_id") < n)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]


def _per_query(batch_rows, qid_col="qid", id_col="vec_id"):
    out = {}
    for r in batch_rows:
        out.setdefault(r[qid_col], []).append((r[id_col], r["cos_sim"]))
    for q in out:
        out[q].sort(key=lambda t: (-t[1], t[0]))
    return out


def test_topk_cosine_batch_matches_single(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    qs = _queries(emb)
    got = _per_query(topk_cosine_batch(emb, qs, k=10).collect())
    for qid, qv in qs:
        want = [
            (r["vec_id"], r["cos_sim"])
            for r in topk_cosine(emb, qv, k=10).collect()
        ]
        assert got[qid] == want, f"qid={qid}"


def test_ivf_batch_matches_single(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    t = build_ivfpq_index(spark, emb, str(tmp_path / "ivf"), nlist=8, seed=7)
    qs = _queries(emb)
    got = _per_query(
        ann_topk_batch_from_ivf(t, qs, k=10, nprobe=3).collect()
    )
    for qid, qv in qs:
        want = [
            (r["vec_id"], r["cos_sim"])
            for r in ann_topk_from_ivf_index(t, qv, k=10, nprobe=3).collect()
        ]
        assert got[qid] == want, f"qid={qid}"


def test_ivfpq_batch_matches_single(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    t = build_ivfpq_index(
        spark, emb, str(tmp_path / "ivfpq"), nlist=8, m=4, ksub=16, seed=7
    )
    qs = _queries(emb)
    got = _per_query(
        ann_topk_batch_from_ivfpq(
            t, qs, k=10, nprobe=3, refine_factor=4
        ).collect()
    )
    for qid, qv in qs:
        want = [
            (r["vec_id"], r["cos_sim"])
            for r in ann_topk_from_ivfpq_index(
                t, qv, k=10, nprobe=3, refine_factor=4
            ).collect()
        ]
        assert got[qid] == want, f"qid={qid}"


def test_sharded_batch_matches_single(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    t = build_lsh_sharded_index(spark, emb, str(tmp_path / "sidx"), n_shards=8)
    qs = _queries(emb)
    got = _per_query(
        ann_topk_batch_from_sharded(t, qs, k=10).collect(),
        qid_col="src_id",
        id_col="nbr_id",
    )
    for qid, qv in qs:
        want = [
            (r["vec_id"], r["cos_sim"])
            for r in ann_topk_from_sharded(t, qv, k=10).collect()
        ]
        assert [(n, c) for n, c in got[qid]] == [
            (n, c) for n, c in want
        ], f"qid={qid}"


def test_broadcast_lut_matches_literal_lut(spark, tmp_path):
    """The broadcast-LUT ADC score must reproduce the literal-LUT score
    bit-for-bit: same fsum entries, same summation order, so the refined
    top-k is identical row-for-row."""
    emb = load_table(spark, SF_DIR, "embeddings")
    t = build_ivfpq_index(
        spark, emb, str(tmp_path / "pq"), nlist=8, m=4, ksub=16, seed=7
    )
    centroids, books = ivfpq_metadata(t)
    qs = _queries(emb, n=3)
    for _, qv in qs:
        probes = probe_cells(centroids, qv, 3)
        cand = t.load(skip_where=[("list_id", "in", probes)])
        lit_score = _ip_adc_score(books, centroids, probes, qv)
        lit = _adc_refine_topk(cand, lit_score, qv, 10, 4, "vec_id", "embedding")
        cand2, bc_score = _with_adc_score(cand, books, centroids, probes, qv)
        bc = _adc_refine_topk(cand2, bc_score, qv, 10, 4, "vec_id", "embedding")
        assert [tuple(r) for r in lit.collect()] == [
            tuple(r) for r in bc.collect()
        ]
