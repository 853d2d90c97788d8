"""Session defaults.

Driver heap sizing (VERDICT r11 #1): the heap must floor on the WORKLOAD,
not the core count — an 8-core scaling run processes the same data as the
32-core run and died in BroadcastExchange inside the old ``max(8, cores)``
GB heap.

Codegen cache sizing: a repeated pass of the curation chain must reuse the
whole-stage-codegen classes its first pass compiled; at Spark's default of
100 cached classes the chain's working set does not fit and the second
pass recompiles most of it."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from delta_lake_optimizations_spark.session import _default_driver_mem, codegen_compiles
from tests.conftest import SF_DIR


def _half_ram_gb() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    phys = os.sysconf("SC_PHYS_PAGES")
    return max(1, (page * phys) // (2 * 1024**3))


def test_driver_mem_floors_on_workload_not_cores(monkeypatch):
    half = _half_ram_gb()
    for cores in (1, 4, 8, 16):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cores))
        expect = max(2, min(24, half))
        assert _default_driver_mem() == f"{expect}g", cores


def test_driver_mem_scales_above_floor(monkeypatch):
    half = _half_ram_gb()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert _default_driver_mem() == f"{max(2, min(32, half))}g"


def _curation_pass(spark) -> None:
    """The perfbench llm_curation chain, each stage materialized with
    ``localCheckpoint(eager=True)``."""
    from delta_lake_optimizations_spark.operators import dedup, htmlextract, lm_quality, pipeline, textnorm

    def stage(df):
        return df.localCheckpoint(eager=True)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    html = docs.select(
        "doc_id",
        htmlextract.synth_html(F.col("doc_id"), F.col("lang"), F.col("source"), F.col("text")).alias("html"),
    )
    ex = stage(htmlextract.extract_documents(html, "html"))
    norm = stage(textnorm.normalize_documents(ex.select("doc_id", F.col("clean_text").alias("text"))))
    cur = stage(pipeline.curate_documents(norm))
    kept = stage(dedup.dedup_minhash_survivors(norm.join(cur.select("doc_id"), "doc_id"), "doc_id", "text"))
    spans = stage(dedup.remove_repeated_spans(kept, "doc_id", "text"))
    stage(lm_quality.backoff4_scores(spans, spans, "doc_id", "clean_text"))


def test_repeated_curation_pass_reuses_generated_code(spark):
    """A warm pass compiles at most a quarter of what the cold pass did.
    At a 100-class cache the second pass recompiles nearly all of it; with
    the working set resident it compiles only plan variants the first pass
    did not produce (AQE coalescing can change a checkpoint's partition
    count, and with it whether ``spread_doc_rows`` repartitions)."""
    start, _ = codegen_compiles(spark)
    _curation_pass(spark)
    cold = codegen_compiles(spark)[0] - start
    _curation_pass(spark)
    warm = codegen_compiles(spark)[0] - start - cold
    assert warm <= cold // 4, f"second curation pass compiled {warm} classes, the first {cold}"
