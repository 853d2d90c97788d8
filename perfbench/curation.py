"""``llm_curation``: the documents corpus through the curation chain
html extract -> normalize -> curate -> MinHash dedup -> repeated-span
removal -> 4-gram LM scores, landing in one GraftTable write.

Every stage is materialized and counted, so its time covers its own work and
not its upstream stages; the stage times are the workload's read samples
and the final write its commit sample.  Replicas of each distinct text make
(REPLICAS-1)/REPLICAS of the corpus exact duplicates."""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import functions as F

from perfbench.harness import Recorder, canon_rows
from perfbench.inputs import write_documents

N_DISTINCT = 400
REPLICAS = 4


class Curation:
    name = "llm_curation"
    cycle_s = 9.0

    def __init__(self, spark, rec: Recorder, work: str, seed: int):
        from delta_lake_optimizations_spark.operators import dedup, htmlextract, lm_quality, pipeline, textnorm
        from delta_lake_optimizations_spark.table.graft_table import GraftTable

        self.spark, self.rec, self.work, self.seed = spark, rec, work, seed
        self.dedup, self.htmlextract, self.lm_quality = dedup, htmlextract, lm_quality
        self.pipeline, self.textnorm, self.GraftTable = pipeline, textnorm, GraftTable
        self.sf_dir = ""
        self.counters: dict[str, list[float]] = {}

    def build_inputs(self, dst: str) -> None:
        write_documents(dst, self.seed, N_DISTINCT, REPLICAS)
        self.sf_dir = dst

    def prepare(self) -> None:
        """Warm-up: one pass through the chain."""
        self.cycle(-1)

    def _stage(self, name: str, fn, *args, rows_in: int, **kwargs):
        """One curation stage as a read operation: build the plan, then
        materialize it (``localCheckpoint``, which also cuts the lineage
        the next stage plans over) and count it. Returns (DataFrame, rows
        out)."""
        def materialize(df):
            out = df.localCheckpoint(eager=True)
            return out, out.count()

        def run():
            df = self.rec.span(name, fn, *args, **kwargs)
            return self.rec.span(f"{name}.exec", materialize, df)

        df, n = self.rec.op("query", name, run)
        if self.rec.tracing:
            self.counters.setdefault(f"{name}.rows_in", []).append(rows_in)
            self.counters.setdefault(f"{name}.rows_out", []).append(n)
        return df, n

    def cycle(self, i: int) -> None:
        spark = self.spark
        docs = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        n_docs = N_DISTINCT * REPLICAS
        html = docs.select(
            "doc_id",
            self.htmlextract.synth_html(F.col("doc_id"), F.col("lang"), F.col("source"), F.col("text")).alias("html"),
        )
        ex, n_ex = self._stage("htmlextract.extract_documents", self.htmlextract.extract_documents, html, "html",
                               rows_in=n_docs)
        norm, n_norm = self._stage(
            "textnorm.normalize_documents", self.textnorm.normalize_documents,
            ex.select("doc_id", F.col("clean_text").alias("text")), rows_in=n_ex)
        cur, n_cur = self._stage("pipeline.curate_documents", self.pipeline.curate_documents, norm, rows_in=n_norm)
        kept, n_kept = self._stage(
            "dedup.dedup_minhash_survivors", self.dedup.dedup_minhash_survivors,
            norm.join(cur.select("doc_id"), "doc_id"), "doc_id", "text", rows_in=n_cur)
        spans, n_spans = self._stage("dedup.remove_repeated_spans", self.dedup.remove_repeated_spans,
                                     kept, "doc_id", "text", rows_in=n_kept)
        scores, _ = self._stage("lm_quality.backoff4_scores", self.lm_quality.backoff4_scores,
                                spans, spans, "doc_id", "clean_text", rows_in=n_spans)
        out = spans.join(scores, "doc_id")
        root = os.path.join(self.work, "tables", f"curated{i}")
        t = self.GraftTable(spark, root)
        self.rec.op("commit", "write", self.rec.span, "graft_table.write", t.write, out)
        self.rec.check("curated rows", lambda: t.count_rows() == out.count())
        self.rec.check("replicas collapsed, survivors kept", lambda: 0 < n_kept <= n_cur < n_norm)
        shutil.rmtree(root, ignore_errors=True)

    def after(self) -> dict:
        """``pipeline.curate_documents`` hash-matches the DuckDB oracle of
        the registry's ``pipeline_curate_documents`` on this corpus."""
        from delta_lake_optimizations_spark import registry

        qd = registry.registry()["pipeline_curate_documents"]
        df = qd.fn(self.spark, self.sf_dir)
        got = canon_rows(df.columns, df.collect())
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.sf_dir}/documents.parquet')")
            rel = con.execute(qd.oracle)
            want = canon_rows([d[0] for d in rel.description], rel.fetchall())
        finally:
            con.close()
        self.rec.check("oracle pipeline_curate_documents", lambda: hash(tuple(got)), hash(tuple(want)))
        return {}
