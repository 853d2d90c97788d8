"""Merge-on-read DELETE via deletion vectors: correctness vs
copy-on-write, stacking, time travel, OPTIMIZE folding, RESTORE, VACUUM
reclamation, clones, and the graft data source."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.sources.graft_datasource import (
    register_graft_source,
)
from delta_lake_optimizations_spark.table.clone import clone
from delta_lake_optimizations_spark.table.graft_table import GraftTable
from delta_lake_optimizations_spark.table.maintenance import (
    delete,
    optimize,
    restore,
    update,
    vacuum,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    t = GraftTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 1000).select(
        "id", (F.col("id") % 10).alias("k"), (F.col("id") * 1.0).alias("v")
    )
    t.write(df.repartition(4), mode="overwrite")
    return t


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_dv_delete_matches_cow_semantics(spark, tbl):
    c = delete(tbl, "k = 3", deletion_vectors=True)
    assert c.operation == "DELETE"
    assert all(a.dv_path for a in c.add)
    assert not any(a.path.startswith("_dv") for a in c.add)
    out = tbl.load()
    assert out.filter("k = 3").count() == 0
    assert out.count() == 900
    assert _ids(out) == [i for i in range(1000) if i % 10 != 3]
    # no data file was rewritten: adds re-point the same physical files
    assert {a.path for a in c.add} <= {
        f.path for f in tbl.snapshot(version=0).files
    }
    # live row accounting reflects the DV
    assert tbl.snapshot().num_records == 900


def test_dv_deletes_stack(spark, tbl):
    delete(tbl, "k = 3", deletion_vectors=True)
    delete(tbl, "id < 100", deletion_vectors=True)
    out = tbl.load()
    assert _ids(out) == [i for i in range(100, 1000) if i % 10 != 3]
    assert tbl.snapshot().num_records == out.count()


def test_time_travel_before_dv_delete(spark, tbl):
    delete(tbl, "k = 0", deletion_vectors=True)
    assert tbl.load(version=0).count() == 1000
    assert tbl.load().count() == 900


def test_optimize_folds_dvs_away(spark, tbl):
    delete(tbl, "k = 7", deletion_vectors=True)
    optimize(tbl)
    snap = tbl.snapshot()
    assert all(f.dv_path is None for f in snap.files)
    assert tbl.load().count() == 900
    assert tbl.load().filter("k = 7").count() == 0


def test_update_after_dv_delete_does_not_resurrect(spark, tbl):
    delete(tbl, "k = 5", deletion_vectors=True)
    update(tbl, {"v": "v + 1000"}, "k = 6")
    out = tbl.load()
    assert out.filter("k = 5").count() == 0
    assert out.filter("k = 6 AND v >= 1000").count() == 100
    assert out.count() == 900


def test_restore_across_dv_delete(spark, tbl):
    delete(tbl, "k = 2", deletion_vectors=True)
    restore(tbl, 0)
    assert tbl.load().count() == 1000


def test_vacuum_keeps_live_dv_reclaims_superseded(spark, tbl, tmp_path):
    delete(tbl, "k = 1", deletion_vectors=True)
    dv1 = next(f.dv_path for f in tbl.snapshot().files if f.dv_path)
    # second DV delete supersedes dv1 everywhere -> dv1 tombstoned
    delete(tbl, "k = 2", deletion_vectors=True)
    dv2 = next(f.dv_path for f in tbl.snapshot().files if f.dv_path)
    assert dv1 != dv2

    listed = vacuum(tbl, retain_hours=0, dry_run=True)
    assert dv1 in listed
    assert dv2 not in listed
    vacuum(tbl, retain_hours=0)
    assert not os.path.exists(os.path.join(tbl.path, dv1))
    assert os.path.exists(os.path.join(tbl.path, dv2))
    assert tbl.load().count() == 800  # current read still exact


def test_graft_source_applies_dvs(spark, tbl):
    register_graft_source(spark)
    delete(tbl, "k = 9", deletion_vectors=True)
    native = tbl.load()
    via = spark.read.format("graft").option("path", tbl.path).load()
    assert via.count() == 900
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, native.collect()))


def test_clones_carry_dvs(spark, tbl, tmp_path):
    delete(tbl, "k = 4", deletion_vectors=True)
    sh = clone(tbl, str(tmp_path / "shallow"), shallow=True)
    assert sh.load().count() == 900
    assert sh.load().filter("k = 4").count() == 0
    dp = clone(tbl, str(tmp_path / "deep"), shallow=False)
    assert dp.load().count() == 900
    assert dp.load().filter("k = 4").count() == 0


def test_partitioned_dv_delete(spark, tmp_path):
    t = GraftTable(spark, str(tmp_path / "p"))
    df = spark.range(0, 400).select(
        "id", (F.col("id") % 4).cast("string").alias("part")
    )
    t.write(df, mode="overwrite", partition_by=["part"])
    # part='1' holds ids with id%4==1; id%20==1 selects 20 of those
    delete(t, "id % 20 = 1 AND part = '1'", deletion_vectors=True)
    out = t.load()
    assert out.count() == 400 - 20
    assert out.filter("part = '1'").count() == 80


def test_reorg_purge_materializes_dvs(spark, tmp_path):
    """REORG APPLY (PURGE) rewrites only DV-carrying files; the purged
    snapshot references no deletion vectors and scans stay correct."""
    import os as _os

    from delta_lake_optimizations_spark.table import GraftTable, delete, reorg_purge

    t = GraftTable(spark, _os.path.join(tmp_path, "rp"))
    t.write(
        spark.range(100)
        .selectExpr("id AS k", "id * 2 AS v")
        .repartition(4)
    )
    clean_before = {f.path for f in t.snapshot().files}
    delete(t, "k < 10", deletion_vectors=True)
    assert any(f.dv_path for f in t.snapshot().files)
    dv_free = {f.path for f in t.snapshot().files if not f.dv_path}
    commit = reorg_purge(t)
    snap = t.snapshot()
    assert not any(f.dv_path for f in snap.files), "no DVs after purge"
    assert dv_free <= {f.path for f in snap.files}, "DV-free files untouched"
    assert commit.operation_parameters["numFilesPurged"] >= 1
    assert t.load().count() == 90
    # idempotent: second purge is a no-op commit
    assert reorg_purge(t).operation_parameters["numFilesPurged"] == 0


def test_fsck_repair_drops_missing_files(spark, tmp_path):
    import os as _os

    import pyarrow.parquet as pq

    from delta_lake_optimizations_spark.table import GraftTable, fsck_repair

    t = GraftTable(spark, _os.path.join(tmp_path, "fsck"))
    t.write(spark.range(100).selectExpr("id AS k").repartition(4))
    victim = t.snapshot().files[0]
    # how repartition(4) splits the rows follows the core count, so read
    # the victim's row count from its own parquet footer
    victim_rows = pq.ParquetFile(_os.path.join(t.path, victim.path)).metadata.num_rows
    _os.remove(_os.path.join(t.path, victim.path))
    rep = fsck_repair(t, dry_run=True)
    assert rep["missing_files"] == [victim.path]
    assert len(t.snapshot().files) == 4, "dry run commits nothing"
    rep = fsck_repair(t)
    assert rep["missing_files"] == [victim.path] and "version" in rep
    assert len(t.snapshot().files) == 3
    assert 0 < victim_rows < 100
    assert t.load().count() == 100 - victim_rows
