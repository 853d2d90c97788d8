"""Query registry: name -> (PySpark callable, optional DuckDB oracle SQL).

Every operator the engine claims (SURVEY.md §2) registers here via the
``@query`` decorator; ``__spark_entry__.py`` exposes the registry to the
driver. Invariants enforced by convention (tested in
``tests/test_oracle_parity.py``):

- the Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
- every computed column is aliased identically in the Spark code and the
  oracle SQL (the driver sorts columns by name before value-hashing);
- floating-point aggregates are rounded (2-6 dp) on BOTH sides so
  engine-order-dependent low bits can't flip the hash;
- queries with ``oracle=None`` are non-SQL-expressible (custom/stateful)
  and get the driver's weaker rows-only check.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries as an import side effect.
_QUERY_MODULES = (
    "delta_lake_optimizations_spark.queries.relational",
    "delta_lake_optimizations_spark.queries.tpch_extra",
    "delta_lake_optimizations_spark.queries.tpch_full",
    "delta_lake_optimizations_spark.queries.windows",
    "delta_lake_optimizations_spark.queries.setops",
    "delta_lake_optimizations_spark.queries.reshape",
    "delta_lake_optimizations_spark.queries.scalar",
    "delta_lake_optimizations_spark.queries.events",
    "delta_lake_optimizations_spark.queries.analytics",
    "delta_lake_optimizations_spark.queries.vectors",
    "delta_lake_optimizations_spark.queries.tablestate",
    "delta_lake_optimizations_spark.operators.dedup",
    "delta_lake_optimizations_spark.operators.components",
    "delta_lake_optimizations_spark.operators.similarity",
    "delta_lake_optimizations_spark.operators.ivf",
    "delta_lake_optimizations_spark.operators.pq",
    "delta_lake_optimizations_spark.operators.ivfpq",
    "delta_lake_optimizations_spark.operators.asof",
    "delta_lake_optimizations_spark.operators.pipeline",
    "delta_lake_optimizations_spark.operators.rangejoin",
    "delta_lake_optimizations_spark.operators.bm25",
    "delta_lake_optimizations_spark.operators.textstats",
    "delta_lake_optimizations_spark.operators.quality",
    "delta_lake_optimizations_spark.operators.sampling",
    "delta_lake_optimizations_spark.operators.multimodal",
    "delta_lake_optimizations_spark.operators.imagehash",
    "delta_lake_optimizations_spark.operators.videodedup",
    "delta_lake_optimizations_spark.operators.audiofp",
    "delta_lake_optimizations_spark.operators.decontam",
    "delta_lake_optimizations_spark.operators.packing",
    "delta_lake_optimizations_spark.operators.bpe",
    "delta_lake_optimizations_spark.operators.semantic_dedup",
    "delta_lake_optimizations_spark.operators.skew",
    "delta_lake_optimizations_spark.operators.ranking",
    "delta_lake_optimizations_spark.operators.heavyhitters",
    "delta_lake_optimizations_spark.operators.lsh_index",
    "delta_lake_optimizations_spark.operators.webcure",
    "delta_lake_optimizations_spark.operators.htmlextract",
    "delta_lake_optimizations_spark.operators.incremental_dedup",
    "delta_lake_optimizations_spark.operators.lm_quality",
    "delta_lake_optimizations_spark.operators.paragraphs",
    "delta_lake_optimizations_spark.operators.textnorm",
    "delta_lake_optimizations_spark.operators.metrics",
)


# The oracle gate checks exactly the first DRIVER_WINDOW registry entries
# (registration order); ``_DRIVER_PRIORITY`` pins them to the front. A
# rows-only (no-oracle) entry needs an oracle-backed equality or metric twin
# inside the window. Queries rotated out of the window stay covered by the
# same local gate in ``tests/test_oracle_parity.py``, and
# tests/test_registry_window.py asserts every registry name has been
# checked in some recorded window.
DRIVER_WINDOW = 50
_DRIVER_PRIORITY: tuple[str, ...] = (
    "lm_perplexity_scores",
    "dedup_ngram_jaccard",
    "decontam_ngram_overlap",
    "table_checkpoint_pruned_scan",
    "delta_dv_import_ids",
    "skew_salted_join_brand_revenue",
    "multimodal_decode_consistency",
    "simhash_jaccard_recall",
    "image_phash_near_dup",
    "audio_fingerprint_near_dup",
    "quality_classifier_trained",
    "ann_batch_matches_singles",
    "html_extract_text",
    "dedup_remove_repeated_spans",
    "decontam_remove_spans",
    "dedup_minhash_scaled",
    "minhash_scaled_matches_pairwise",
    "lm_backoff4_scores",
    "normalize_text_docs",
    "dedup_normalized_forms",
    "decontam_embedding_indexed",
    "decontam_embedding_matches_broadcast",
    "ann_ivfpq_topk_indexed",
    "ann_ivfpq_matches_inline",
    "ann_ivfpq_recall",
    "knn_join_ivf_indexed",
    "knn_join_ivf_matches_inline",
    "lm_backoff_scores",
    "bpe_pack_documents",
    "bpe_pack_sizes",
    "url_normalize_docs",
    "incremental_dedup_two_batches",
    "knn_join_sharded_matches_inline",
    "ann_lsh_sharded_matches_inline",
    "ann_ivf_indexed_matches_inline",
    "multimodal_real_media_decode",
    "variant_props_rollup",
    "dedup_components_scaled",
    "pipeline_curate_documents",
    "events_tumbling_window",
    "q21_suppliers_kept_orders_waiting",
    "bm25_keyword_search",
    "paragraph_dedup_docs",
    "strip_boilerplate_docs",
    "group_percentiles",
    "window_topk_per_group",
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_revenue_by_nation",
    "q9_product_type_profit",
)


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None
    headline: bool = False  # include in bench.py
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QueryDef] = {}
_LOADED = False


def query(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register a query implementation (decorator)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, headline=headline, tags=tags)
        return fn

    return deco


def _load() -> None:
    global _LOADED, _REGISTRY
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    missing = [n for n in _DRIVER_PRIORITY if n not in _REGISTRY]
    if missing:
        raise ValueError(f"_DRIVER_PRIORITY names not registered: {missing}")
    rest = [n for n in _REGISTRY if n not in set(_DRIVER_PRIORITY)]
    _REGISTRY = {n: _REGISTRY[n] for n in (*_DRIVER_PRIORITY, *rest)}
    _LOADED = True


def registry() -> dict[str, QueryDef]:
    _load()
    return dict(_REGISTRY)


def all_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in registry().items()}


def all_oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in registry().items() if q.oracle is not None}


def headline_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in registry().items() if q.headline}
