"""Structured Streaming tests: the streaming windowed aggregation must
agree with its batch twin on the same input, and the stateful sessionizer
must produce gap-consistent sessions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.streaming.events_stream import (
    read_events_stream,
    run_stream_to_memory,
    sessionize_stream,
    windowed_event_counts,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events corpus re-written as a multi-file parquet directory (the
    file-stream source wants a directory; also exercises micro-batching
    via maxFilesPerTrigger=1)."""
    d = tmp_path_factory.mktemp("events_stream_src")
    # range-partition + sort by ts: files arrive in event-time order, like
    # a real landing zone (the sessionizer tolerates bounded disorder too)
    (
        load_table(spark, SF_DIR, "events")
        .repartitionByRange(2, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(str(d / "events"))
    )
    return str(d / "events")


def test_stream_windowed_counts_match_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    run_stream_to_memory(
        windowed_event_counts(stream), "win_counts", output_mode="complete"
    )
    got = spark.table("win_counts")

    batch = spark.read.parquet(events_dir)
    want = windowed_event_counts(batch)

    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w
    assert len(g) > 0


def test_sessionize_stream_runs_and_gaps_hold(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    run_stream_to_memory(
        sessionize_stream(stream), "sessions", output_mode="append", timeout_sec=180
    )
    sessions = spark.table("sessions")
    # closed sessions only appear when a >30min gap followed them; with
    # availableNow + processing-time timeout, open sessions stay in state,
    # so we can only assert consistency of what WAS emitted.
    rows = sessions.collect()
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1
    # every emitted session is bounded by the 30-minute gap rule: its span
    # is at most n_events * 30min
    bad = sessions.filter(
        (F.col("session_end").cast("long") - F.col("session_start").cast("long"))
        > F.col("n_events") * 1800
    ).count()
    assert bad == 0


def test_dedup_events_stream_drops_replayed_events(spark, tmp_path):
    from delta_lake_optimizations_spark.streaming.events_stream import (
        dedup_events_stream,
        read_events_stream,
    )

    src_dir = str(tmp_path / "src")
    base = load_table(spark, SF_DIR, "events").limit(200).cache()
    # write the same 200 events twice (simulated at-least-once replay),
    # as two files so they arrive in separate micro-batches
    base.coalesce(1).write.mode("append").parquet(src_dir)
    base.coalesce(1).write.mode("append").parquet(src_dir)

    deduped = dedup_events_stream(read_events_stream(spark, src_dir))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("dedup_out")
    assert out.count() == 200
    assert out.select("event_id").distinct().count() == 200
    # batch fallback path: same answer without streaming
    twice = base.unionAll(base)
    assert dedup_events_stream(twice).count() == 200
    base.unpersist()


def test_stream_stream_attribution_join_matches_batch(spark, events_dir):
    """Watermarked stream-stream join must produce exactly the rows the
    identical batch join produces on the same input (the logical plan is
    shared; streaming only changes execution + state management)."""
    from delta_lake_optimizations_spark.streaming.events_stream import (
        purchase_attribution_join,
    )

    events_batch = load_table(spark, SF_DIR, "events")
    views_b = events_batch.filter(F.col("event_type") == "view")
    purch_b = events_batch.filter(F.col("event_type") == "purchase")
    want = {
        (r["user_id"], r["view_id"], r["purchase_id"])
        for r in purchase_attribution_join(views_b, purch_b).collect()
    }
    assert want, "corpus should contain attributable purchases"

    stream = read_events_stream(spark, events_dir)
    views_s = stream.filter(F.col("event_type") == "view")
    purch_s = stream.filter(F.col("event_type") == "purchase")
    out = purchase_attribution_join(views_s, purch_s)
    assert out.isStreaming
    run_stream_to_memory(out, "attrib_join", output_mode="append")
    got = {
        (r["user_id"], r["view_id"], r["purchase_id"])
        for r in spark.table("attrib_join").collect()
    }
    assert got == want


def test_streaming_lsh_index_matches_inline_and_replays_idempotently(spark, tmp_path):
    """A vector stream builds/maintains the sharded ANN index: after all
    batches, the probe must equal the inline multi-probe over everything
    ingested; re-running the stream over the same source (fresh
    checkpoint, same batch content) must not duplicate postings."""
    import os

    from pyspark.sql import functions as F

    from delta_lake_optimizations_spark.catalog import load_table
    from delta_lake_optimizations_spark.operators.lsh_index import (
        N_TABLES_SHARDED,
        ann_topk_from_sharded,
    )
    from delta_lake_optimizations_spark.operators.similarity import (
        ann_topk_multiprobe,
        query_vector,
    )
    from delta_lake_optimizations_spark.streaming.graft_sink import (
        write_stream_to_lsh_index,
    )
    from delta_lake_optimizations_spark.table import GraftTable
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    src_dir = os.path.join(tmp_path, "src")
    # two files -> file source delivers them (maxFilesPerTrigger=1) as
    # separate micro-batches: batch 0 builds, batch 1 appends
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src_dir, "a")
    )
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src_dir, "b")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*")
    )
    t = GraftTable(spark, os.path.join(tmp_path, "idx"))
    q = write_stream_to_lsh_index(stream, t, os.path.join(tmp_path, "ck"))
    q.awaitTermination(180)

    n_rows = t.load().count()
    assert n_rows == emb.count() * N_TABLES_SHARDED

    qv = query_vector(spark, SF_DIR, 0)
    inline = [
        (r[0], r[1])
        for r in ann_topk_multiprobe(
            emb, qv, k=10, n_tables=N_TABLES_SHARDED, probe_hamming=1
        ).collect()
    ]
    got = [(r[0], r[1]) for r in ann_topk_from_sharded(t, qv, k=10).collect()]
    assert got == inline

    # replay: run the whole stream again with a FRESH checkpoint — same
    # batch ids, same content; the committed-batch guard must no-op both
    q2 = write_stream_to_lsh_index(stream, t, os.path.join(tmp_path, "ck2"))
    q2.awaitTermination(180)
    assert t.load().count() == n_rows, "replayed batches duplicated postings"


def test_streaming_ivf_index_appends_against_stored_centroids(spark, tmp_path):
    """The IVF index stream sink (the IVF-PQ table, the one IVF layout):
    batch 0 fits + materializes, batch 1 assigns against the STORED
    centroids (they must not move); every ingested vector is findable by
    the exact IVF probe of its own embedding; replay is a no-op."""
    import os

    from pyspark.sql import functions as F

    from delta_lake_optimizations_spark.catalog import load_table
    from delta_lake_optimizations_spark.operators.ivf import (
        ann_topk_from_ivf_index,
        ivf_index_centroids,
    )
    from delta_lake_optimizations_spark.streaming.graft_sink import (
        write_stream_to_ivfpq_index,
    )
    from delta_lake_optimizations_spark.table import GraftTable
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    src_dir = os.path.join(tmp_path, "src")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src_dir, "a")
    )
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src_dir, "b")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*")
    )
    t = GraftTable(spark, os.path.join(tmp_path, "ivf"))
    q = write_stream_to_ivfpq_index(
        stream, t, os.path.join(tmp_path, "ck"), nlist=4, m=4, ksub=16
    )
    q.awaitTermination(180)

    assert t.load().count() == emb.count()
    cents = ivf_index_centroids(t)
    assert len(cents) == 4

    # an appended (odd-id) vector must find itself as nearest
    probe_row = emb.filter(F.col("vec_id") % 2 == 1).first()
    top = ann_topk_from_ivf_index(
        t, [float(x) for x in probe_row["embedding"]], k=1, nprobe=2
    ).first()
    assert top["vec_id"] == probe_row["vec_id"]

    q2 = write_stream_to_ivfpq_index(
        stream, t, os.path.join(tmp_path, "ck2"), nlist=4, m=4, ksub=16
    )
    q2.awaitTermination(180)
    assert t.load().count() == emb.count(), "replay duplicated rows"
    assert ivf_index_centroids(t) == cents, "replay refit centroids"


def test_streaming_ivfpq_index_appends_against_stored_metadata(spark, tmp_path):
    """The IVF-PQ stream sink: batch 0 fits centroids + codebooks and
    materializes, batch 1 assigns + residual-encodes against the STORED
    metadata (neither may move); every ingested vector is findable by
    probing its own embedding; replay is a no-op."""
    import os

    from pyspark.sql import functions as F

    from delta_lake_optimizations_spark.catalog import load_table
    from delta_lake_optimizations_spark.operators.ivfpq import (
        ann_topk_from_ivfpq_index,
        ivfpq_metadata,
    )
    from delta_lake_optimizations_spark.streaming.graft_sink import (
        write_stream_to_ivfpq_index,
    )
    from delta_lake_optimizations_spark.table import GraftTable
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    src_dir = os.path.join(tmp_path, "src")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src_dir, "a")
    )
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src_dir, "b")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*")
    )
    t = GraftTable(spark, os.path.join(tmp_path, "ivfpq"))
    q = write_stream_to_ivfpq_index(
        stream, t, os.path.join(tmp_path, "ck"), nlist=4, m=4, ksub=16
    )
    q.awaitTermination(180)

    assert t.load().count() == emb.count()
    cents, books = ivfpq_metadata(t)
    assert len(cents) == 4 and len(books) == 4

    # an appended (odd-id) vector must find itself as nearest after the
    # exact refine, despite its stored code being lossy
    probe_row = emb.filter(F.col("vec_id") % 2 == 1).first()
    top = ann_topk_from_ivfpq_index(
        t, [float(x) for x in probe_row["embedding"]], k=1, nprobe=2
    ).first()
    assert top["vec_id"] == probe_row["vec_id"]

    q2 = write_stream_to_ivfpq_index(
        stream, t, os.path.join(tmp_path, "ck2"), nlist=4, m=4, ksub=16
    )
    q2.awaitTermination(180)
    assert t.load().count() == emb.count(), "replay duplicated rows"
    assert ivfpq_metadata(t) == (cents, books), "replay refit metadata"


def test_sessionize_fold_core_disorder():
    """The sessionizer's fold core: gap-splitting, disorder
    tolerance (late event before the open session becomes its own
    session), state carry-over across calls."""
    from delta_lake_optimizations_spark.streaming.events_stream import (
        _GAP_US,
        _fold_sessions,
    )

    m = 60 * 1_000_000  # one minute in us
    # one batch: two sessions split by a >30min gap
    ts = [0, 5 * m, 10 * m, 50 * m, 55 * m]
    vals = [1.0] * 5
    fin, st = _fold_sessions(ts, vals, None)
    assert fin == [(0, 10 * m, 3, 3.0)]
    assert st == (50 * m, 55 * m, 2, 2.0)

    # next batch continues the open session, then a far-PAST straggler
    fin2, st2 = _fold_sessions([56 * m, 0 - 2 * _GAP_US], [1.0, 9.0], st)
    assert (0 - 2 * _GAP_US, 0 - 2 * _GAP_US, 1, 9.0) in fin2
    assert st2 == (50 * m, 56 * m, 3, 3.0)
