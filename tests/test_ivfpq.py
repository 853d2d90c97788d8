"""Materialized IVF-PQ index: layout (one file per cell, file-pruned
probes), metadata round-trip, encode-path equality, index-vs-inline
equivalence, clustered recall >= 0.8, and the no-refit append path."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.operators.ivf import ivf_probe_files_scanned
from delta_lake_optimizations_spark.operators.ivfpq import (
    ann_topk_from_ivfpq_index,
    append_to_ivfpq_index,
    build_ivfpq_index,
    ivfpq_metadata,
    ivfpq_search_inline,
)
from delta_lake_optimizations_spark.operators.pq import (
    pq_encode,
    pq_encode_col,
    pq_train,
)

from .conftest import SF_DIR
from .test_ann_and_components import _clustered_vectors


def _qv(df, vid=0):
    return [float(x) for x in df.filter(F.col("vec_id") == vid).first()["embedding"]]


def test_encode_col_matches_map_in_pandas_encoder(spark):
    """pq_encode_col (column-preserving pandas_udf) and pq_encode
    (mapInPandas) share the argmin math — codes must be identical."""
    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq_train(emb, m=4, ksub=16, seed=7)
    a = {r["vec_id"]: r["pq_code"] for r in pq_encode(emb, books).collect()}
    b = {
        r["vec_id"]: r["pq_code"]
        for r in pq_encode_col(emb, books).select("vec_id", "pq_code").collect()
    }
    assert a == b


def test_ivfpq_build_layout_and_metadata(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    t = build_ivfpq_index(spark, emb, str(tmp_path / "idx"), nlist=4, m=4, ksub=16)
    centroids, books = ivfpq_metadata(t)
    dim = len(emb.select("embedding").first()[0])
    assert len(centroids) == 4 and all(len(c) == dim for c in centroids)
    assert len(books) == 4 and all(len(cb) == 16 for cb in books)
    assert all(len(c) == dim // 4 for cb in books for c in cb)
    # every row landed with a valid cell id + code vector
    loaded = t.load()
    assert loaded.filter(
        (F.col("list_id") < 0) | (F.col("list_id") >= 4)
    ).count() == 0
    assert loaded.filter(F.size("pq_code") != 4).count() == 0
    assert loaded.count() == emb.count()
    # optimizeWrite: one file per populated cell
    n_cells = loaded.select("list_id").distinct().count()
    assert len(t.snapshot().files) == n_cells
    # one layout: exact refine only — no int8 refine column or quantizer
    assert "sq8" not in loaded.columns
    assert "graft.ivfpq.sq8" not in t.snapshot().properties


def test_ivfpq_probe_prunes_files_and_matches_inline(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    t = build_ivfpq_index(spark, emb, str(tmp_path / "idx"), nlist=8, m=4, ksub=16)
    qv = _qv(emb)
    nprobe = 3
    scanned = ivf_probe_files_scanned(t, qv, nprobe=nprobe)
    assert scanned <= nprobe < len(t.snapshot().files)
    indexed = ann_topk_from_ivfpq_index(t, qv, k=10, nprobe=nprobe).collect()
    inline = ivfpq_search_inline(
        emb, qv, k=10, nlist=8, m=4, ksub=16, nprobe=nprobe, seed=7
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in indexed] == [
        (r["vec_id"], r["cos_sim"]) for r in inline
    ]
    assert indexed[0]["vec_id"] == 0  # self is the best cosine match


def test_ivfpq_refined_recall_on_clustered_vectors(spark, tmp_path):
    from delta_lake_optimizations_spark.operators.similarity import topk_cosine

    vecs = _clustered_vectors(spark, n_clusters=10, per_cluster=30, dim=32)
    t = build_ivfpq_index(spark, vecs, str(tmp_path / "idx"), nlist=8, m=4, ksub=16)
    qv = _qv(vecs)
    exact = {r["vec_id"] for r in topk_cosine(vecs, qv, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ann_topk_from_ivfpq_index(
            t, qv, k=10, nprobe=4, refine_factor=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF-PQ clustered recall {recall:.2f}"


def test_ivfpq_append_assigns_and_encodes_against_stored_metadata(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    # full build = the ground truth for (cell, code) of every row
    t_full = build_ivfpq_index(
        spark, emb, str(tmp_path / "full"), nlist=4, m=4, ksub=16
    )
    want = {
        r["vec_id"]: (r["list_id"], tuple(r["pq_code"]))
        for r in t_full.load().collect()
    }
    # incremental: build on half, append the rest without refit. A half
    # corpus trains on a different hash-ordered sample, so its
    # centroids/books differ from the full build's: compare the APPENDED
    # rows against assignment/encoding under the half-build's own stored
    # metadata instead.
    t_inc = build_ivfpq_index(
        spark, half_a, str(tmp_path / "inc"), nlist=4, m=4, ksub=16
    )
    append_to_ivfpq_index(t_inc, half_b)
    centroids, books = ivfpq_metadata(t_inc)
    from delta_lake_optimizations_spark.operators.ivf import assign_to_centroids
    from delta_lake_optimizations_spark.operators.ivfpq import _with_residuals

    expect_b = {
        r["vec_id"]: (r["list_id"], tuple(r["pq_code"]))
        for r in pq_encode_col(
            _with_residuals(
                assign_to_centroids(half_b, centroids), centroids, "embedding"
            ),
            books,
            vec_col="_res",
        )
        .select("vec_id", "list_id", "pq_code")
        .collect()
    }
    got = {
        r["vec_id"]: (r["list_id"], tuple(r["pq_code"]))
        for r in t_inc.load().collect()
    }
    assert emb.count() == len(got)
    for vid, lc in expect_b.items():
        assert got[vid] == lc
    assert want  # full-build truth computed (sanity that both paths ran)


def test_ivfpq_registered_query_runs(spark):
    from delta_lake_optimizations_spark.operators.ivfpq import ann_ivfpq_topk_indexed

    rows = ann_ivfpq_topk_indexed(spark, SF_DIR).collect()
    assert len(rows) == 10
    assert rows[0]["vec_id"] == 0
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_ivf_batch_knn_join_works_on_ivfpq_table(spark, tmp_path):
    """The IVF-PQ table is the one IVF layout (raw vectors ride along
    for exact-math consumers), so the materialized batch k-NN join must
    answer straight off it — and agree with the inline join at the same
    seed (the IVF-PQ fit trains its centroids on the same hash-ordered
    sample prefix -> identical centroids -> identical cells -> identical
    candidates)."""
    from delta_lake_optimizations_spark.catalog import load_table
    from delta_lake_optimizations_spark.operators.ivf import (
        ivf_knn_join,
        knn_join_from_ivf_index,
    )

    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    t_pq = build_ivfpq_index(spark, emb, str(tmp_path / "pq"), nlist=4, m=4, ksub=16)
    a = sorted(
        (r["src_id"], r["nbr_id"], r["cos_sim"])
        for r in knn_join_from_ivf_index(t_pq, nprobe=2, k=3).collect()
    )
    b = sorted(
        (r["src_id"], r["nbr_id"], r["cos_sim"])
        for r in ivf_knn_join(emb, nlist=4, nprobe=2, k=3, seed=7).collect()
    )
    assert a == b and len(a) > 0


def test_ivfpq_optimize_compacts_fragmented_cells_probe_unchanged(spark, tmp_path):
    """Index maintenance lifecycle: streaming-style appends fragment the
    cells (several small files per hive partition); OPTIMIZE must compact
    them back toward one file per cell WITHOUT changing probe results or
    breaking partition pruning — the operational loop a served index
    actually lives in."""
    from delta_lake_optimizations_spark.table.maintenance import optimize

    emb = load_table(spark, SF_DIR, "embeddings")
    third = emb.count() // 3
    base = emb.filter(F.col("vec_id") < third)
    t = build_ivfpq_index(spark, base, str(tmp_path / "idx"), nlist=4, m=4, ksub=16)
    append_to_ivfpq_index(
        t, emb.filter((F.col("vec_id") >= third) & (F.col("vec_id") < 2 * third))
    )
    append_to_ivfpq_index(t, emb.filter(F.col("vec_id") >= 2 * third))

    qv = _qv(emb)
    before = ann_topk_from_ivfpq_index(t, qv, k=10, nprobe=2).collect()
    files_before = len(t.snapshot().files)
    assert files_before > 4, "appends should have fragmented the cells"

    optimize(t, target_files=1)
    files_after = len(t.snapshot().files)
    assert files_after < files_before
    # partition pruning must survive compaction: a 2-cell probe reads at
    # most 2 files once each cell is one file
    assert ivf_probe_files_scanned(t, qv, nprobe=2) <= 2
    after = ann_topk_from_ivfpq_index(t, qv, k=10, nprobe=2).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in after] == [
        (r["vec_id"], r["cos_sim"]) for r in before
    ]


def test_const_darray_rejects_non_finite():
    """ADVICE r10: json.dumps with allow_nan=True would emit NaN/Infinity
    tokens — invalid JSON that from_json silently turns into a NULL
    parameter array. Non-finite inputs must raise loudly instead."""
    import pytest as _pytest

    from delta_lake_optimizations_spark.operators.ivfpq import _const_darray

    for bad in (float("nan"), float("inf"), float("-inf")):
        with _pytest.raises(ValueError):
            _const_darray([1.0, bad, 3.0])
