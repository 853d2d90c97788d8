"""Plan-quality regression tests: the 100 TB guard-rails. Each headline
query's physical plan must keep the properties that make it scale —
filters pushed to the scan, columns pruned, dimension joins broadcast,
no single-partition funnels."""

from __future__ import annotations

import pytest

from delta_lake_optimizations_spark.plans.inspect import plan_summary, read_columns
from delta_lake_optimizations_spark.registry import registry

from .conftest import SF_DIR

_DEFS = registry()


@pytest.mark.parametrize("name", sorted(n for n, q in _DEFS.items() if q.headline))
def test_headline_no_single_partition_funnel(spark, name):
    df = _DEFS[name].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert not (s["single_partition"] and s["global_window"]), (
        f"{name}: all rows funneled through one partition"
    )


def test_q5_pushes_date_filter_and_broadcasts(spark):
    df = _DEFS["q5_revenue_by_nation"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert any("o_orderdate" in p for p in s["pushed_filters"]), s["pushed_filters"]
    assert any("r_name" in p for p in s["pushed_filters"])
    assert s["broadcast_hash_joins"] >= 3  # dims broadcast at test SF


def test_q1_prunes_columns(spark):
    df = _DEFS["q1_pricing_summary"].fn(spark, SF_DIR)
    cols = read_columns(df)
    assert cols, "expected a parquet scan"
    # 11-column lineitem: the scan must read only the 7 needed columns
    assert all(len(c) <= 7 for c in cols), cols
    assert all("l_orderkey" not in c for c in cols)


def test_q6_no_join_no_shuffle_before_agg(spark):
    df = _DEFS["q6_forecast_revenue"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] + s["sort_merge_joins"] + s["shuffled_hash_joins"] == 0
    assert any("l_shipdate" in p for p in s["pushed_filters"])
    # partial agg then single exchange for the final scalar
    assert s["exchanges"] <= 1


def test_selective_filter_pushdown(spark):
    df = _DEFS["selective_filter_count"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert any("o_orderstatus" in p for p in s["pushed_filters"])
    assert any("o_orderpriority" in p for p in s["pushed_filters"])


def test_topk_compiles_to_take_ordered(spark):
    df = _DEFS["q3_top_unshipped_orders"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, "LIMIT after ORDER BY must not global-sort"


def test_q9_broadcasts_all_dims(spark):
    df = _DEFS["q9_product_type_profit"].fn(spark, SF_DIR)
    s = plan_summary(df)
    # part (LIKE-filtered), supplier, nation all broadcast; only the
    # lineitem<->orders fact join may shuffle
    assert s["broadcast_hash_joins"] >= 3, s
    assert s["sort_merge_joins"] + s["shuffled_hash_joins"] <= 1, s


def test_q16_anti_join_broadcasts_and_prunes(spark):
    df = _DEFS["q16_supplier_count_by_part"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 2, s  # exclusion list + filtered part
    cols = read_columns(df)
    # lineitem scan needs only the two keys
    assert any(set(c) <= {"l_partkey", "l_suppkey"} for c in cols), cols


def test_q21_take_ordered_and_bounded_exchanges(spark):
    df = _DEFS["q21_suppliers_kept_orders_waiting"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, "top-25 must not global-sort"
    s = plan_summary(df)
    # decorrelated form with the pinned l_orderkey repartition: ONE fact
    # exchange (reused by rollup + window) plus the tiny s_name agg — a
    # third exchange would mean the rollup/window stopped sharing the
    # fact partitioning (the r6 regression this guard pins)
    assert s["exchanges"] <= 3, s


def test_new_window_shapes_single_shuffle(spark):
    # Each of these must be one hash-partition exchange on its grouping
    # key — no global window, no single-partition funnel.
    for name in (
        "stats_corr_covar",
        "events_session_window",
        "events_sliding_window",
        "window_range_moving_sum",
    ):
        df = _DEFS[name].fn(spark, SF_DIR)
        s = plan_summary(df)
        assert not (s["single_partition"] and s["global_window"]), name
        assert s["exchanges"] <= 2, (name, s["exchanges"])
        assert (
            s["broadcast_hash_joins"] + s["sort_merge_joins"] + s["shuffled_hash_joins"]
            == 0
        ), name


def test_chunking_is_narrow_and_prunes_columns(spark):
    df = _DEFS["doc_chunk_windows"].fn(spark, SF_DIR)
    s = plan_summary(df)
    # generate+explode is a narrow transformation: no shuffle at all
    assert s["exchanges"] == 0, s["exchanges"]
    cols = read_columns(df)
    assert cols and all(set(c) <= {"doc_id", "text"} for c in cols), cols


def test_vocabulary_single_shuffle_prunes_columns(spark):
    df = _DEFS["corpus_vocabulary"].fn(spark, SF_DIR)
    s = plan_summary(df)
    # one hash aggregate on the token key
    assert s["exchanges"] <= 2, s["exchanges"]
    cols = read_columns(df)
    assert cols and all(set(c) <= {"doc_id", "text"} for c in cols), cols


def test_decontam_broadcasts_benchmark_grams(spark):
    """The eval-set gram table must broadcast — the 100 TB corpus side is
    never shuffled for the contamination check."""
    df = _DEFS["decontam_ngram_overlap"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 1, s
    assert s["sort_merge_joins"] == 0, s
    cols = read_columns(df)
    assert cols and all(set(c) <= {"doc_id", "text"} for c in cols), cols


def test_packing_partitions_by_shard_no_funnel(spark):
    df = _DEFS["pack_documents_by_source"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert not s["single_partition"], "packing must window per shard"
    # one shuffle: the window's hash partitioning on source
    assert s["exchanges"] <= 1, s["exchanges"]


def test_knn_join_ivf_broadcasts_probe_map(spark):
    df = _DEFS["knn_join_ivf"].fn(spark, SF_DIR)
    s = plan_summary(df)
    # probe-map join AND (at test SF) the cell equi-join resolve as
    # broadcasts; the point is no sort-merge of the corpus against itself
    assert s["broadcast_hash_joins"] >= 1, s


def test_map_only_quality_ops_have_zero_exchanges(spark):
    """The per-document scoring family must stay map-only — fused into
    the scan with no shuffle at any scale."""
    for name in (
        "text_quality_scores",
        "quality_classifier_scores",
        "token_entropy_scores",
        "text_repetition_scores",
    ):
        s = plan_summary(_DEFS[name].fn(spark, SF_DIR))
        assert s["exchanges"] == 0, f"{name}: expected map-only, got {s['exchanges']} exchanges"
        assert (
            s["broadcast_hash_joins"] + s["sort_merge_joins"] + s["shuffled_hash_joins"] == 0
        ), name


def test_cap_source_share_single_shuffle(spark):
    s = plan_summary(_DEFS["cap_source_share"].fn(spark, SF_DIR))
    # one shuffle on the group key feeds both windows (rank + count)
    assert s["exchanges"] == 1, s["exchanges"]
    assert not s["single_partition"]


def test_repeated_spans_bounded_shuffles(spark):
    s = plan_summary(_DEFS["dedup_repeated_spans"].fn(spark, SF_DIR))
    # r12 shape: conditional doc spread + ONE digest repartition (reused
    # by the repeat-count aggregate and the join back) + per-doc
    # aggregate; AQE may insert one more coalesce exchange but never a
    # per-row or funnel plan. Every exchange carries ids/digests/counts
    # — nothing token-shaped.
    assert s["exchanges"] <= 5, s["exchanges"]
    assert not s["single_partition"]


def test_global_rank_no_partitionless_window(spark):
    """global_rank must never contain a SQL Window at all (it exists to
    REPLACE the partitionless window), and the rank pass adds no exchange
    beyond the range repartition."""
    df = _DEFS["global_rank_events"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert not s["global_window"], "global_rank compiled to a global window!"
    assert not s["single_partition"], "rank pass funneled to one partition"


def test_ntile_broadcasts_total_and_no_funnel(spark):
    df = _DEFS["ntile_exact_buckets"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert not s["single_partition"] or s["broadcast_hash_joins"] >= 0
    # the one-row total frame must arrive via broadcast, not shuffle
    assert "BroadcastNestedLoopJoin" in df._jdf.queryExecution().executedPlan().toString() or s["broadcast_hash_joins"] >= 1
    assert not s["global_window"]


def test_salted_join_scatters_and_matches_columns(spark):
    """The salted join must keep the join a (key, salt) equi-join — no
    cartesian fallback — and prune both scans to the needed columns."""
    df = _DEFS["skew_salted_join_brand_revenue"].fn(spark, SF_DIR)
    s = plan_summary(df)
    text = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in text
    assert s["broadcast_hash_joins"] + s["sort_merge_joins"] + s["shuffled_hash_joins"] >= 1
    cols = read_columns(df)
    assert all(len(c) <= 3 for c in cols), cols


def test_funnel_and_retention_shuffle_on_user_key_only(spark):
    """Funnel/retention shuffle on user_id (scales with data); no
    partitionless windows, no cartesian joins."""
    for name in ("events_funnel_conversion", "events_daily_retention"):
        df = _DEFS[name].fn(spark, SF_DIR)
        s = plan_summary(df)
        text = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in text, name
        assert not s["global_window"], name


def test_text_normalize_is_map_only(spark):
    df = _DEFS["text_normalize_clean"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert s["exchanges"] == 0, "normalization must run at scan speed"
    cols = read_columns(df)
    assert all(len(c) <= 2 for c in cols), cols


def test_embedding_decontam_broadcasts_benchmark(spark):
    """The benchmark vector side must broadcast (BroadcastNestedLoopJoin
    for the cross join) — the corpus side is scanned map-side, and the
    only shuffle is the per-id max aggregation."""
    df = _DEFS["decontam_embedding_similarity"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert s["sort_merge_joins"] == 0, s
    assert s["exchanges"] <= 2, s  # partial/final max only
    assert not s["global_window"], s


def test_chunk_dedup_rewrite_bounded_shuffles(spark):
    """Chunk dedup + reassembly: one shuffle keyed by chunk (first-
    occurrence window), one by doc id (reassembly) — nothing global."""
    df = _DEFS["dedup_chunks_rewrite_corpus"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert s["exchanges"] <= 3, s
    assert not s["single_partition"], s
    cols = read_columns(df)
    assert cols and all(set(c) <= {"doc_id", "text"} for c in cols), cols


def test_ivfpq_probe_plan_is_single_scan_no_join(spark):
    """The IVF-PQ exact probe must be ONE pruned scan with NO join of any
    kind (the r10 single-scan refine — VERDICT r09 #1): scan -> project
    ADC -> TakeOrderedAndProject (per-partition top-N, driver merge — no
    shuffle) -> k*rf-row re-sort. The r9 shape (a second pass over the
    probed cells broadcast-joined against the ADC shortlist, parameters
    on a Python-built 1-row table) cost a broadcast-build job + a
    Python-worker round trip per probe. Any Exchange, any join, or any
    ExistingRDD (the PythonRDD param-table tell) here means the fixed
    per-query cost crept back."""
    from delta_lake_optimizations_spark.operators.ivfpq import (
        _cached_ivfpq_index,
        ann_topk_from_ivfpq_index,
    )
    from delta_lake_optimizations_spark.operators.similarity import query_vector
    from delta_lake_optimizations_spark.plans.inspect import plan_summary

    t = _cached_ivfpq_index(spark, SF_DIR, nlist=8, m=4, ksub=16)
    qv = query_vector(spark, SF_DIR, 0)
    df = ann_topk_from_ivfpq_index(t, qv, k=10, nprobe=4)
    s = plan_summary(df)
    assert s["exchanges"] == 0, s
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") == 1, plan


def test_unicode_normalize_full_tier_map_only(spark):
    """The NFC full tier is one Arrow stage: no joins/aggregates, at most
    the ONE conditional spread repartition (r12 — un-serializes
    single-split local corpora; no-op at real input sizes) —
    normalization must run at scan speed."""
    df = _DEFS["normalize_text_docs"].fn(spark, SF_DIR)
    s = plan_summary(df)
    assert s["exchanges"] <= 1, s
    assert s["sort_merge_joins"] == 0, s


def test_indexed_decontam_never_cross_joins(spark):
    """The IVF-indexed decontamination must block on list_id (equi-join)
    — no nested-loop/cartesian anywhere, unlike the broadcast form whose
    cross join is the very cost being replaced."""
    df = _DEFS["decontam_embedding_indexed"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_scaled_no_cartesian(spark):
    """The composed scale path stays equi-join/window shaped end to end
    (exact collapse, banded bucket join, star cap, CC) — a cartesian
    anywhere means the pair space escaped its blocking."""
    df = _DEFS["dedup_minhash_scaled"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the survivor plan above starts at the components' last checkpoint,
    # so check the capped bucket join on its own plan
    from delta_lake_optimizations_spark.catalog import load_table
    from delta_lake_optimizations_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, SF_DIR, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, max_bucket_size=512
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_partitioned_join_gets_dynamic_partition_pruning(spark, tmp_path):
    """A dim-filtered join over a partition_by= GraftTable must carry a
    dynamicpruning PartitionFilter — at 100 TB this is the difference
    between scanning the whole fact and scanning the joined partitions
    only (Spark inserts it because the partitioned load exposes a real
    hive layout to the planner; this guard pins that our table format
    keeps that property)."""
    import os

    from pyspark.sql import functions as F

    from delta_lake_optimizations_spark.table.graft_table import GraftTable

    fact = spark.range(20000).select(
        F.col("id"),
        F.element_at(
            F.array(*[F.lit(c) for c in ["US", "DE", "FR", "JP", "BR"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("country"),
        (F.col("id") % 97).cast("double").alias("amt"),
    )
    t = GraftTable(spark, os.path.join(str(tmp_path), "fact_dpp"))
    t.write(fact, partition_by=["country"])
    dim = spark.createDataFrame(
        [("US", "americas"), ("BR", "americas"), ("DE", "emea"),
         ("FR", "emea"), ("JP", "apac")],
        "country string, region string",
    )
    joined = (
        t.load()
        .join(dim.filter(F.col("region") == "americas"), "country")
        .groupBy("country")
        .agg(F.sum("amt").alias("s"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP missing from fact scan"
    # and the pruned plan still computes the right answer
    got = {r["country"]: r["s"] for r in joined.collect()}
    want = {
        r["country"]: r["s"]
        for r in fact.filter(F.col("country").isin("US", "BR"))
        .groupBy("country")
        .agg(F.sum("amt").alias("s"))
        .collect()
    }
    assert got == want
