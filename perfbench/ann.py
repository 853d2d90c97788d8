"""``ann_search``: IVF-PQ over seeded ``pipeline.hash_embed`` vectors.

Setup generates the corpus, computes exact top-10 ground truth with
``similarity.topk_cosine_batch`` and builds the index.  A cycle is a closed
loop of single probes and 16-query batches with one index append.

Vectors form tight micro-clusters of ``CLUSTER`` members around hashed
centres, so each query's true top-10 is a well-separated set.  Queries
target the first half of the clusters and appends add vectors to the
second half, so appends never change a query's ground truth."""

from __future__ import annotations

import os
import random
import shutil
import time

from pyspark.sql import functions as F

from perfbench.harness import Recorder

N_VECTORS = 4000
DIM = 64
CLUSTER = 16
NOISE = 0.15
N_QUERIES = 32
APPEND_ROWS = 400
SINGLE_PROBES = 6
BATCHES = 2
BATCH = 16
K = 10
#: lowest acceptable mean top-10 recall against exact search
RECALL_FLOOR = 0.8
INDEX = dict(nlist=16, m=8, ksub=16)


class Ann:
    name = "ann_search"
    cycle_s = 5.0

    def __init__(self, spark, rec: Recorder, work: str, seed: int):
        from delta_lake_optimizations_spark.operators import ivfpq, pipeline, similarity

        self.spark, self.rec, self.work, self.seed = spark, rec, work, seed
        self.ivfpq, self.pipeline, self.similarity = ivfpq, pipeline, similarity
        self.n_clusters = N_VECTORS // CLUSTER
        self.appended = 0
        self.hits = 0
        self.probed = 0
        self.counters: dict[str, list[float]] = {}

    def _vectors(self, ids, clusters):
        """``(vec_id, embedding)``: the cluster's hashed centre plus a small
        hashed per-id offset, as float32."""
        s = F.lit(f"{self.seed}:")
        centre = self.pipeline.hash_embed(F.concat(s, F.lit("c"), clusters.cast("string")), DIM)
        noise = self.pipeline.hash_embed(F.concat(s, F.lit("n"), ids.cast("string")), DIM)
        return F.zip_with(centre, noise, lambda c, n: (c + n * NOISE).cast("float"))

    def build_inputs(self, dst: str) -> None:
        r = self.spark.range(N_VECTORS)
        r.select(F.col("id").alias("vec_id"),
                 self._vectors(F.col("id"), F.col("id") % self.n_clusters).alias("embedding")).write.parquet(
            os.path.join(dst, "vectors"))
        self.inputs = dst

    def _append_batch(self, j: int):
        """``APPEND_ROWS`` new vectors in the clusters no query targets."""
        half = self.n_clusters // 2
        ids = F.col("id") + (10**9 + j * APPEND_ROWS)
        return self.spark.range(APPEND_ROWS).select(
            ids.alias("vec_id"), self._vectors(ids, half + F.col("id") % (self.n_clusters - half)).alias("embedding"))

    def prepare(self) -> None:
        rng = random.Random(self.seed)
        q = self.spark.range(N_QUERIES).select(
            F.col("id").alias("qid"),
            self._vectors(F.col("id") + 2 * 10**9,
                          F.element_at(F.array(*[F.lit(rng.randrange(self.n_clusters // 2)) for _ in range(N_QUERIES)]),
                                       (F.col("id") + 1).cast("int"))).alias("embedding"))
        self.queries = [(r.qid, [float(x) for x in r.embedding]) for r in q.orderBy("qid").collect()]
        corpus = self.spark.read.parquet(os.path.join(self.inputs, "vectors"))
        t0 = time.perf_counter()
        truth = self.similarity.topk_cosine_batch(corpus, self.queries, k=K).collect()
        self.truth_s = time.perf_counter() - t0
        self.truth: dict[int, set[int]] = {}
        for r in truth:
            self.truth.setdefault(r.qid, set()).add(r.vec_id)
        root = os.path.join(self.work, "tables", "ivfpq")
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        self.index = self.ivfpq.build_ivfpq_index(self.spark, corpus, root, seed=self.seed, **INDEX)
        self.build_s = time.perf_counter() - t0
        self.cycle(-1, singles=1, batches=1)

    def _score(self, got: dict[int, set[int]]) -> None:
        for q, ids in got.items():
            self.hits += len(ids & self.truth[q])
            self.probed += 1

    def cycle(self, i: int, singles: int = SINGLE_PROBES, batches: int = BATCHES) -> None:
        rec, ivf, t = self.rec, self.ivfpq, self.index
        rng = random.Random(self.seed * 7919 + i)

        def single(qid: int, vec: list[float]):
            df = rec.span("ivfpq.query", ivf.ann_topk_from_ivfpq_index, t, vec, k=K)
            return rec.span("ivfpq.query.exec", df.collect)

        def batch(qs):
            df = rec.span("ivfpq.batch", ivf.ann_topk_batch_from_ivfpq, t, qs, k=K)
            return rec.span("ivfpq.batch.exec", df.collect)

        for p in range(singles + batches):
            if p == singles // 2:
                rec.op("commit", "append", rec.span, "ivfpq.append", ivf.append_to_ivfpq_index, t,
                       self._append_batch(self.appended))
                self.appended += 1
            if p < singles:
                qid, vec = self.queries[rng.randrange(N_QUERIES)]
                rows = rec.op("query", "probe", single, qid, vec)
                self._score({qid: {r.vec_id for r in rows}})
            else:
                qs = rng.sample(self.queries, BATCH)
                got: dict[int, set[int]] = {q: set() for q, _ in qs}
                for r in rec.op("query", "batch", batch, qs):
                    got[r.qid].add(r.vec_id)
                self._score(got)
        if rec.tracing:
            snap = t.snapshot()
            c = self.counters
            c.setdefault("ivfpq.files_per_probe", []).append(
                t.files_scanned([("list_id", "in", list(range(4)))]))
            c.setdefault("ivfpq.index_bytes", []).append(snap.size_bytes)

    def after(self) -> dict:
        recall = self.hits / (K * self.probed)
        self.rec.check("recall floor", lambda: recall >= RECALL_FLOOR)
        self.counters["ivfpq.build_s"] = [self.build_s]
        self.counters["similarity.truth_batch_s"] = [self.truth_s]
        return {"recall_at_10": recall}

