"""The 'graft' Python Data Source: batch parity with GraftTable.load,
time travel via options, hive partition reconstruction, and the streaming
reader's offset/change-commit semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from delta_lake_optimizations_spark.sources.graft_datasource import (
    register_graft_source,
)
from delta_lake_optimizations_spark.table.graft_table import GraftTable
from delta_lake_optimizations_spark.table.maintenance import delete, optimize


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def graft(spark):
    register_graft_source(spark)
    return spark


def test_batch_read_matches_load(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "t")
    tbl = GraftTable(spark, path)
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("bucket"),
        F.concat(F.lit("r"), F.col("id")).alias("tag"),
        (F.col("id") * 1.5).alias("amount"),
    )
    tbl.write(df, mode="overwrite")
    tbl.write(df.filter("id < 10"), mode="append")

    via_source = spark.read.format("graft").option("path", path).load()
    assert via_source.schema == tbl.load().schema
    assert _rows(via_source) == _rows(tbl.load())


def test_batch_version_as_of(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "t")
    tbl = GraftTable(spark, path)
    tbl.write(spark.range(0, 5), mode="overwrite")
    tbl.write(spark.range(100, 103), mode="append")

    v0 = spark.read.format("graft").option("path", path).option("versionAsOf", 0).load()
    assert _rows(v0) == _rows(tbl.load(version=0))
    assert v0.count() == 5
    latest = spark.read.format("graft").option("path", path).load()
    assert latest.count() == 8


def test_batch_partitioned_reconstructs_partition_columns(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "t")
    tbl = GraftTable(spark, path)
    df = spark.createDataFrame(
        [Row(id=i, country="US" if i % 2 else "DE", v=float(i)) for i in range(20)]
    )
    tbl.write(df, mode="overwrite", partition_by=["country"])

    out = spark.read.format("graft").option("path", path).load()
    assert dict(out.dtypes)["country"] == "string"
    assert _rows(out.select("id", "country", "v")) == _rows(df)

    # Spark does not pass partitionBy to Python sources: an append into a
    # partitioned table is refused on the driver, before any task writes
    data_dirs = sorted(os.listdir(os.path.join(path, "data")))
    one = spark.createDataFrame([Row(id=99, country="US", v=1.0)])
    with pytest.raises(Exception, match="unpartitioned only"):
        one.write.format("graft").mode("append").save(path)
    assert sorted(os.listdir(os.path.join(path, "data"))) == data_dirs
    assert tbl.snapshot().partition_columns == ["country"]
    assert _rows(tbl.load().select("id", "country", "v")) == _rows(df)


def test_stream_serves_appends_and_only_new_commits(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    tbl = GraftTable(spark, path)
    tbl.write(spark.range(0, 50), mode="overwrite")
    tbl.write(spark.range(50, 80), mode="append")

    out_dir = str(tmp_path / "out")

    def run_batch():
        q = (
            spark.readStream.format("graft")
            .option("path", path)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = [r[0] for r in spark.read.parquet(out_dir).collect()]
        assert len(rows) == len(set(rows)), "stream re-served a commit"
        return set(rows)

    assert run_batch() == set(range(80))
    # a restart resumes from the checkpointed offset: only the new commit
    # is served, nothing is re-emitted
    tbl.write(spark.range(200, 210), mode="append")
    assert run_batch() == set(range(80)) | set(range(200, 210))


def test_stream_change_commit_fails_by_default_and_skips_on_option(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "t")
    tbl = GraftTable(spark, path)
    tbl.write(spark.range(0, 100).withColumn("k", F.col("id") % 4), mode="overwrite")
    tbl.write(spark.range(100, 120).withColumn("k", F.col("id") % 4), mode="append")
    optimize(tbl)  # rewrite commit: adds + removes

    q = (
        spark.readStream.format("graft")
        .option("path", path)
        .load()
        .writeStream.format("memory")
        .queryName("graft_stream_fail")
        .option("checkpointLocation", str(tmp_path / "c1"))
        .start()
    )
    with pytest.raises(Exception, match="non-append commit|StreamingQueryException"):
        q.processAllAvailable()
    q.stop()

    q2 = (
        spark.readStream.format("graft")
        .option("path", path)
        .option("skipChangeCommits", "true")
        .load()
        .writeStream.format("memory")
        .queryName("graft_stream_skip")
        .option("checkpointLocation", str(tmp_path / "c2"))
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    got = {r[0] for r in spark.sql("SELECT id FROM graft_stream_skip").collect()}
    assert got == set(range(120))  # pre-OPTIMIZE appends; rewrite skipped


def test_stream_starting_version_latest_sees_only_future(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "t")
    tbl = GraftTable(spark, path)
    tbl.write(spark.range(0, 30), mode="overwrite")

    q = (
        spark.readStream.format("graft")
        .option("path", path)
        .option("startingVersion", "latest")
        .load()
        .writeStream.format("memory")
        .queryName("graft_stream_latest")
        .option("checkpointLocation", str(tmp_path / "c"))
        .start()
    )
    q.processAllAvailable()
    tbl.write(spark.range(1000, 1005), mode="append")
    q.processAllAvailable()
    q.stop()
    got = {r[0] for r in spark.sql("SELECT id FROM graft_stream_latest").collect()}
    assert got == set(range(1000, 1005))


def test_writer_creates_and_appends(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "w")
    df = spark.range(0, 500).select("id", (F.col("id") % 5).alias("k"))
    df.write.format("graft").mode("overwrite").save(path)
    tbl = GraftTable(spark, path)
    assert tbl.load().count() == 500
    assert tbl.snapshot().num_records == 500  # footer stats landed in the log

    spark.range(500, 600).select("id", (F.col("id") % 5).alias("k")).write.format(
        "graft"
    ).mode("append").save(path)
    assert tbl.load().count() == 600
    assert tbl.latest_version() == 1
    # round-trips through the reader too
    assert spark.read.format("graft").load(path).count() == 600
    # same schema: a blind append with no metadata action, so a writer
    # holding the stale v0 snapshot rebases past it instead of failing
    assert tbl._read_commit(1).metadata is None
    stale = tbl._write_commit("WRITE", {"mode": "Append"}, [], [], None, base_version=0)
    assert stale.version == 2


def test_writer_overwrite_replaces_and_keeps_history(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "w")
    spark.range(0, 100).write.format("graft").mode("overwrite").save(path)
    tbl = GraftTable(spark, path)
    delete(tbl, "id < 3", deletion_vectors=True)
    dv_dirs = {f.dv_path for f in tbl.snapshot().files if f.dv_path}
    spark.range(0, 7).write.format("graft").mode("overwrite").save(path)
    assert tbl.load().count() == 7
    assert tbl.load(version=0).count() == 100  # time travel across the overwrite
    # the replaced files' deletion vectors are tombstoned for VACUUM
    assert dv_dirs and dv_dirs <= set(tbl._read_commit(2).remove)


def test_writer_schema_mismatch_rejected_mergeschema_evolves(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "w")
    spark.range(0, 10).select("id", F.lit(1.0).alias("v")).write.format(
        "graft"
    ).mode("overwrite").save(path)
    extra = spark.range(10, 12).select("id", F.lit(1.0).alias("v"), F.lit("x").alias("t"))
    with pytest.raises(Exception, match="schema mismatch|SparkRuntimeException"):
        extra.write.format("graft").mode("append").save(path)
    extra.write.format("graft").mode("append").option("mergeSchema", "true").save(path)
    out = GraftTable(spark, path).load()
    assert set(out.columns) == {"id", "v", "t"}
    assert out.filter("t IS NULL").count() == 10


def test_column_mapping_read_and_append(graft, tmp_path):
    """After RENAME COLUMN the files keep the physical name: the source
    reads it under the logical name (batch and change feed), appends
    under the physical name, and caps footer stats by the table's
    graft.dataSkippingNumIndexedCols."""
    spark = graft
    path = str(tmp_path / "cm")
    tbl = GraftTable(spark, path)
    tbl.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    tbl.rename_column("s", "label")
    tbl.set_properties({"graft.dataSkippingNumIndexedCols": "1"})
    assert _rows(spark.read.format("graft").load(path)) == [(1, "a")]

    spark.createDataFrame([(2, "b")], "id long, label string").write.format(
        "graft"
    ).mode("append").save(path)
    assert _rows(tbl.load()) == [(1, "a"), (2, "b")]
    cdf = spark.read.format("graft").option("readChangeFeed", "true").load(path)
    assert _rows(cdf.select("id", "label")) == [(1, "a"), (2, "b")]
    added = tbl._read_commit(tbl.latest_version()).add
    assert added and all(set(a.stats["minValues"]) == {"id"} for a in added)


def test_writer_enforces_check_constraints(graft, tmp_path):
    from delta_lake_optimizations_spark.table.graft_table import (
        ConstraintViolationError,
    )

    spark = graft
    path = str(tmp_path / "w")
    spark.range(0, 10).write.format("graft").mode("overwrite").save(path)
    tbl = GraftTable(spark, path)
    tbl.add_constraint("id_positive", "id >= 0")
    with pytest.raises(Exception, match="id_positive|ConstraintViolation"):
        spark.range(-5, -1).write.format("graft").mode("append").save(path)
    assert tbl.load().count() == 10  # nothing landed
    spark.range(10, 15).write.format("graft").mode("append").save(path)
    assert tbl.load().count() == 15

    tbl.set_properties({"delta.appendOnly": "true"})
    with pytest.raises(Exception, match="appendOnly"):
        spark.range(0, 3).write.format("graft").mode("overwrite").save(path)
    assert tbl.load().count() == 15


def test_stream_change_feed_inserts_and_dv_deletes(graft, tmp_path):
    """readChangeFeed=true: appends stream as _change_type='insert'; a
    deletion-vector DELETE streams exactly its newly tombstoned rows as
    'delete'; OPTIMIZE is skipped (no logical change)."""
    spark = graft
    path = str(tmp_path / "cdf")
    tbl = GraftTable(spark, path)
    tbl.write(spark.range(0, 50).selectExpr("id AS k"))
    tbl.write(spark.range(50, 60).selectExpr("id AS k"), mode="append")
    delete(tbl, "k < 5", deletion_vectors=True)
    optimize(tbl)  # data-preserving: must not emit
    delete(tbl, "k >= 55", deletion_vectors=True)

    out_dir = str(tmp_path / "out")
    q = (
        spark.readStream.format("graft")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out_dir)
    ins = {r["k"] for r in got.filter("_change_type = 'insert'").collect()}
    dels = {r["k"] for r in got.filter("_change_type = 'delete'").collect()}
    assert ins == set(range(60))
    assert dels == set(range(5)) | set(range(55, 60))
    # every row is version-tagged; the two deletes carry different versions
    vers = {
        r["_commit_version"]
        for r in got.filter("_change_type = 'delete'").collect()
    }
    assert len(vers) == 2


def test_stream_change_feed_rejects_rewrites(graft, tmp_path):
    spark = graft
    path = str(tmp_path / "cdf2")
    tbl = GraftTable(spark, path)
    tbl.write(spark.range(0, 20).selectExpr("id AS k"))
    delete(tbl, "k < 3")  # copy-on-write: no recorded change rows

    def run(extra):
        opts = (
            spark.readStream.format("graft")
            .option("path", path)
            .option("readChangeFeed", "true")
        )
        for k, v in extra.items():
            opts = opts.option(k, v)
        q = (
            opts.load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out{len(extra)}"))
            .option("checkpointLocation", str(tmp_path / f"ck{len(extra)}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    import pytest as _pytest

    with _pytest.raises(Exception, match="rewriting commit|no recorded change"):
        run({})
    run({"skipChangeCommits": "true"})  # skipping is allowed


def test_batch_change_feed_read(graft, tmp_path):
    """Batch CDF (spark.read with readChangeFeed): startingVersion /
    endingVersion bound the commit range; inserts and DV deletes carry
    _change_type/_commit_version."""
    spark = graft
    path = str(tmp_path / "bcdf")
    tbl = GraftTable(spark, path)
    tbl.write(spark.range(0, 30).selectExpr("id AS k"))          # v0
    tbl.write(spark.range(30, 40).selectExpr("id AS k"), mode="append")  # v1
    delete(tbl, "k < 3", deletion_vectors=True)                  # v2

    full = (
        spark.read.format("graft")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
    )
    ins = {r["k"] for r in full.filter("_change_type = 'insert'").collect()}
    dels = {r["k"] for r in full.filter("_change_type = 'delete'").collect()}
    assert ins == set(range(40)) and dels == {0, 1, 2}

    ranged = (
        spark.read.format("graft")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("endingVersion", "1")
        .load()
    )
    assert {r["k"] for r in ranged.collect()} == set(range(30, 40))
    assert ranged.select("_commit_version").distinct().first()[0] == 1
