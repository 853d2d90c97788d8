"""Streaming sink into GraftTable: transactional micro-batch appends.

``foreachBatch`` is the idiomatic Spark bridge from a streaming query to a
custom transactional sink: each micro-batch arrives as a regular
DataFrame, and the GraftTable commit protocol (atomic rename of one JSON
log entry) makes the append all-or-nothing — the same exactly-once-per-
batch story Delta's streaming sink offers. Batch ids are recorded in the
commit parameters, so a restarted query can skip an already-committed
batch (idempotent replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from delta_lake_optimizations_spark.table import GraftTable


def _committed_batches(table: GraftTable) -> set[int]:
    """Streaming batch ids already recorded in ``table``'s commit log —
    the replay guard every writer below checks before committing."""
    out = set()
    for c in table.commits():
        b = c.operation_parameters.get("streamingBatchId")
        if b is not None:
            out.add(int(b))
    return out


class GraftStreamWriter:
    """foreachBatch handler appending each micro-batch to a GraftTable."""

    def __init__(self, table: GraftTable):
        self.table = table

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.table.exists() and batch_id in _committed_batches(self.table):
            return  # replayed batch after restart — already committed
        mode = "append" if self.table.exists() else "overwrite"
        self.table.write(
            batch_df, mode=mode, extra_parameters={"streamingBatchId": int(batch_id)}
        )


def write_stream_to_graft(
    stream_df: DataFrame,
    table: GraftTable,
    checkpoint_dir: str,
    query_name: str = "graft_sink",
) -> StreamingQuery:
    """Start an availableNow streaming append into ``table``."""
    return (
        stream_df.writeStream.foreachBatch(GraftStreamWriter(table))
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


class GraftStreamMergeWriter:
    """foreachBatch handler UPSERTing each micro-batch into a GraftTable —
    the CDC sink pattern (Delta's ``foreachBatch`` + ``MERGE`` recipe).

    Each batch is first deduplicated on the merge keys, keeping the row
    with the highest ``sequence_col`` (merge requires unique source keys;
    a CDC batch can carry several updates for one key). The merge commit
    records the batch id, so a replayed batch after query restart is
    skipped — exactly-once per batch, same as the append writer.

    Scale note: the batch side is broadcast into the file-granular
    copy-on-write merge, so a steady trickle of small CDC batches only
    rewrites the target files that actually contain matched keys.
    """

    def __init__(self, table: GraftTable, on: list[str], sequence_col: str):
        self.table = table
        self.on = on
        self.sequence_col = sequence_col

    def _latest_per_key(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        w = W.partitionBy(*self.on).orderBy(F.col(self.sequence_col).desc())
        return (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from delta_lake_optimizations_spark.table.merge import merge

        exists = self.table.exists()
        if exists and batch_id in _committed_batches(self.table):
            return  # replayed batch after restart — already committed
        latest = self._latest_per_key(batch_df)
        if not exists:
            self.table.write(
                latest,
                mode="overwrite",
                extra_parameters={"streamingBatchId": int(batch_id)},
            )
            return
        merge(
            self.table,
            latest,
            on=self.on,
            when_matched_update="*",
            when_not_matched_insert="*",
            extra_parameters={"streamingBatchId": int(batch_id)},
        )


def upsert_stream_to_graft(
    stream_df: DataFrame,
    table: GraftTable,
    on: list[str],
    sequence_col: str,
    checkpoint_dir: str,
    query_name: str = "graft_merge_sink",
) -> StreamingQuery:
    """Start an availableNow streaming upsert (CDC apply) into ``table``."""
    return (
        stream_df.writeStream.foreachBatch(GraftStreamMergeWriter(table, on, sequence_col))
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


class GraftStreamMatviewWriter(GraftStreamWriter):
    """Append sink that also keeps a materialized aggregate view current:
    after each committed micro-batch, the view refreshes incrementally
    (partial recompute over the batch's affected groups — see
    ``table.matview``). The streaming pipeline therefore maintains both
    the raw table AND its serving aggregate with per-batch freshness,
    at refresh cost proportional to the batch, not the table."""

    def __init__(self, table: GraftTable, view: GraftTable):
        super().__init__(table)
        self.view = view

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        super().__call__(batch_df, batch_id)
        from delta_lake_optimizations_spark.table.matview import refresh_matview

        refresh_matview(self.view, self.table)


def write_stream_to_graft_with_matview(
    stream_df: DataFrame,
    table: GraftTable,
    view: GraftTable,
    checkpoint_dir: str,
    query_name: str = "graft_matview_sink",
) -> StreamingQuery:
    """availableNow streaming append into ``table`` that incrementally
    refreshes ``view`` after every micro-batch."""
    return (
        stream_df.writeStream.foreachBatch(GraftStreamMatviewWriter(table, view))
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


class GraftStreamLshIndexWriter:
    """foreachBatch handler maintaining a SHARDED LSH ANN index from a
    vector stream: first batch materializes the index
    (``build_lsh_sharded_index``), later batches append postings computed
    against the SAME stored config (``append_to_lsh_sharded_index``), so
    the index stays probe-equivalent to a from-scratch build over
    everything ingested. Batch ids ride the index table's commit log for
    idempotent replay, same contract as ``GraftStreamWriter``. Run
    ``optimize(index_table)`` periodically to re-cluster appended shards
    (the tc cluster-by key is declared on the table, so plain OPTIMIZE
    re-sorts correctly)."""

    def __init__(self, index_table: GraftTable, n_shards: int = 32):
        self.table = index_table
        self.n_shards = n_shards

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from delta_lake_optimizations_spark.operators.lsh_index import (
            append_to_lsh_sharded_index,
            build_lsh_sharded_index,
        )

        if batch_df.isEmpty():
            return
        if not self.table.exists():
            build_lsh_sharded_index(
                batch_df.sparkSession, batch_df, self.table.path, n_shards=self.n_shards
            )
            # stamp the creating batch id so a replay of batch 0 is a no-op
            self.table._write_commit(
                "STREAMING INDEX INIT", {"streamingBatchId": int(batch_id)}, [], []
            )
            return
        if batch_id in _committed_batches(self.table):
            return  # replayed batch after restart — already committed
        append_to_lsh_sharded_index(
            self.table, batch_df, extra_parameters={"streamingBatchId": int(batch_id)}
        )


def write_stream_to_lsh_index(
    stream_df: DataFrame,
    index_table: GraftTable,
    checkpoint_dir: str,
    n_shards: int = 32,
    query_name: str = "graft_lsh_index_sink",
) -> StreamingQuery:
    """Start an availableNow streaming build/append of the sharded ANN
    index from a ``(vec_id, embedding)`` stream."""
    return (
        stream_df.writeStream.foreachBatch(
            GraftStreamLshIndexWriter(index_table, n_shards=n_shards)
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


class GraftStreamIvfPqIndexWriter:
    """foreachBatch twin of ``GraftStreamLshIndexWriter`` for the IVF-PQ
    index, the one IVF layout (exact and ADC probes both read it): the
    first batch fits centroids AND the residual codebooks and
    materializes the table; later batches assign + residual-encode
    against the STORED metadata (no refit — cells and code semantics
    stay stable for probes) and append into their partitions.
    Centroid/codebook drift under heavy streaming ingest is the standard
    trade: rebuild when recall decays."""

    def __init__(
        self,
        index_table: GraftTable,
        nlist: int = 8,
        m: int = 4,
        ksub: int = 16,
        seed: int = 7,
    ):
        self.table = index_table
        self.nlist = nlist
        self.m = m
        self.ksub = ksub
        self.seed = seed

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from delta_lake_optimizations_spark.operators.ivfpq import (
            append_to_ivfpq_index,
            build_ivfpq_index,
        )

        if batch_df.isEmpty():
            return
        if not self.table.exists():
            build_ivfpq_index(
                batch_df.sparkSession,
                batch_df,
                self.table.path,
                nlist=self.nlist,
                m=self.m,
                ksub=self.ksub,
                seed=self.seed,
            )
            self.table._write_commit(
                "STREAMING INDEX INIT", {"streamingBatchId": int(batch_id)}, [], []
            )
            return
        if batch_id in _committed_batches(self.table):
            return
        append_to_ivfpq_index(
            self.table, batch_df, extra_parameters={"streamingBatchId": int(batch_id)}
        )


def write_stream_to_ivfpq_index(
    stream_df: DataFrame,
    index_table: GraftTable,
    checkpoint_dir: str,
    nlist: int = 8,
    m: int = 4,
    ksub: int = 16,
    query_name: str = "graft_ivfpq_index_sink",
) -> StreamingQuery:
    """Start an availableNow streaming build/append of the IVF-PQ index
    from a ``(vec_id, embedding)`` stream."""
    return (
        stream_df.writeStream.foreachBatch(
            GraftStreamIvfPqIndexWriter(index_table, nlist=nlist, m=m, ksub=ksub)
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


class GraftStreamDedupIngestWriter:
    """foreachBatch handler running each micro-batch through a
    FingerprintStore (operators/incremental_dedup.py) and appending only
    the SURVIVORS — documents whose content no earlier batch admitted —
    to a clean corpus table. The streaming face of ingest-time dedup: a
    landing-zone crawl streams in, the clean table only ever grows by
    novel content.

    Exactly-once across BOTH tables: the store's ingest is batch-id
    guarded internally (a replayed batch commits nothing and returns the
    original survivors recomputed from the store), and the clean-table
    append carries the same guard — so a crash between the two commits
    replays into a store no-op plus the missing clean append, never a
    duplicate."""

    def __init__(self, store, clean_table: GraftTable):
        self.store = store
        self.clean = clean_table

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        survivors = self.store.ingest(batch_df, f"stream-{batch_id}")
        if self.clean.exists() and batch_id in _committed_batches(self.clean):
            return
        mode = "append" if self.clean.exists() else "overwrite"
        self.clean.write(
            survivors, mode=mode, extra_parameters={"streamingBatchId": int(batch_id)}
        )


def write_stream_dedup_ingest(
    stream_df: DataFrame,
    store,
    clean_table: GraftTable,
    checkpoint_dir: str,
    query_name: str = "graft_dedup_ingest_sink",
) -> StreamingQuery:
    """Start an availableNow streaming dedup-ingest: micro-batches pass
    through ``store`` (content-hash dedup against all history) and the
    survivors append to ``clean_table``."""
    return (
        stream_df.writeStream.foreachBatch(
            GraftStreamDedupIngestWriter(store, clean_table)
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
