"""Maintenance-semantics tests (SURVEY.md §5.2-5.3): executable versions of
the reference lab's narrative invariants (docs/02-lab-optimizations.md:203-309)
— OPTIMIZE preserves data and cuts file count, DELETE is time-travelable,
RESTORE makes a new version, VACUUM honors retention, Z-order enables
file-level skipping on the flagship predicate.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.table import (
    GraftTable,
    delete,
    optimize,
    restore,
    vacuum,
)

from .conftest import SF_DIR


def _content_hash(df):
    """Order-insensitive content fingerprint: XOR of per-row hashes
    (sum would overflow LongType under Spark 4's default ANSI mode)."""
    return (
        df.select(F.bit_xor(F.xxhash64(*sorted(df.columns))).alias("h"))
        .collect()[0]["h"]
    )


@pytest.fixture()
def sales(spark, tmp_path):
    """A small sales-like table written as many small files (the reference's
    400-small-files setup, docs/02-lab-optimizations.md:70)."""
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                "l_shipdate", "l_returnflag")
        .repartition(16)
    )
    t = GraftTable(spark, str(tmp_path / "sales"))
    t.write(df)
    return t


def test_write_load_roundtrip(spark, sales):
    src = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    got = sales.load()
    assert got.count() == src.count()
    assert sales.snapshot().version == 0
    assert len(sales.snapshot().files) == 16


def test_append_adds_rows_and_version(spark, sales):
    n0 = sales.load().count()
    extra = sales.load().limit(10)
    sales.write(extra, mode="append")
    assert sales.load().count() == n0 + 10
    assert sales.snapshot().version == 1
    # time travel back to v0
    assert sales.load(version=0).count() == n0


def test_optimize_preserves_data_reduces_files(sales):
    before = sales.load()
    n, h = before.count(), _content_hash(before)
    files_before = len(sales.snapshot().files)

    optimize(sales, target_file_mb=512)

    after = sales.load()
    assert after.count() == n
    assert _content_hash(after) == h
    assert len(sales.snapshot().files) < files_before
    ops = [r["operation"] for r in sales.history().collect()]
    assert ops[0] == "OPTIMIZE"
    # old files still on disk for time travel
    assert sales.load(version=0).count() == n


def test_optimize_vorder_sets_property(sales):
    optimize(sales, vorder=True, vorder_sort_by=["l_shipdate"])
    assert sales.snapshot().properties.get("vorder.enabled") == "true"
    rows = sales.describe_extended().collect()
    assert any(r["col_name"] == "prop:vorder.enabled" and r["data_type"] == "true"
               for r in rows)


def test_delete_is_time_travelable(sales):
    n0 = sales.load().count()
    pre_version = sales.snapshot().version

    delete(sales, "l_quantity > 45")

    n1 = sales.load().count()
    assert n1 < n0
    assert sales.load().filter("l_quantity > 45").count() == 0
    # reference docs/02-lab-optimizations.md:239 — old version still has rows
    assert sales.load(version=pre_version).count() == n0
    assert sales.history().collect()[0]["operation"] == "DELETE"


def test_delete_rewrites_only_hit_files(spark, sales):
    # add a second batch guaranteed untouched by the predicate
    clean = sales.load().filter("l_quantity <= 45").limit(50)
    sales.write(clean, mode="append")
    snap_before = sales.snapshot()
    commit = delete(sales, "l_quantity > 45")
    # untouched files must carry over, not be rewritten
    untouched = {f.path for f in snap_before.files} - set(commit.remove)
    now = {f.path for f in sales.snapshot().files}
    assert untouched <= now


def test_restore_is_a_new_version(sales):
    n0 = sales.load().count()
    delete(sales, "l_quantity > 45")
    v_after_delete = sales.snapshot().version

    restore(sales, 0)

    # reference docs/02-lab-optimizations.md:285 — restore makes v_next, not v0
    assert sales.snapshot().version == v_after_delete + 1
    assert sales.load().count() == n0
    assert sales.history().collect()[0]["operation"] == "RESTORE"


def test_vacuum_dry_run_deletes_nothing(sales):
    optimize(sales, target_file_mb=512)
    candidates = vacuum(sales, retain_hours=0, dry_run=True)
    assert len(candidates) > 0  # v0's 16 small files are unreferenced
    for rel in candidates:
        assert os.path.exists(os.path.join(sales.path, rel))
    # table still fully readable at all versions
    assert sales.load(version=0).count() == sales.load().count()


def test_vacuum_deletes_and_limits_time_travel(sales):
    n = sales.load().count()
    optimize(sales, target_file_mb=512)
    removed = vacuum(sales, retain_hours=0)
    assert removed
    for rel in removed:
        assert not os.path.exists(os.path.join(sales.path, rel))
    # current read works (docs/02-lab-optimizations.md:295-309)
    assert sales.load().count() == n
    # time travel to the vacuumed version is now broken
    with pytest.raises(Exception):
        sales.load(version=0).count()


def test_timestamp_as_of(sales):
    import datetime as dt

    c0 = sales.commits()[0]
    delete(sales, "l_quantity > 45")
    ts = dt.datetime.fromtimestamp(c0.timestamp_ms / 1000, tz=dt.timezone.utc)
    assert sales.load(timestamp=ts).count() == sales.load(version=0).count()


def test_history_sequence(sales):
    optimize(sales)
    delete(sales, "l_quantity > 49")
    restore(sales, 0)
    ops = [r["operation"] for r in sales.history().collect()]
    assert ops == ["RESTORE", "DELETE", "OPTIMIZE", "CREATE TABLE AS SELECT"]
    versions = [r["version"] for r in sales.history().collect()]
    assert versions == [3, 2, 1, 0]


def test_detail_and_properties(sales):
    d = sales.detail().collect()[0]
    assert d["numFiles"] == 16
    assert d["numRecords"] == sales.load().count()
    sales.set_properties({"delta.stats.extended.collect": "true"})
    assert (
        sales.snapshot().properties["delta.stats.extended.collect"] == "true"
    )


def test_partitioned_write_and_pruning(spark, tmp_path):
    """S3 + P11: hive layout, partition values in the log, file skipping on
    the partition column (docs/02-lab-optimizations.md:355-388)."""
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .withColumn("o_year", F.year("o_orderdate"))
    )
    t = GraftTable(spark, str(tmp_path / "orders_part"))
    t.write(df, partition_by=["o_year"])
    snap = t.snapshot()
    assert snap.partition_columns == ["o_year"]
    assert all(f.partition_values.get("o_year") for f in snap.files)

    years = sorted({f.partition_values["o_year"] for f in snap.files})
    one_year = int(years[0])
    pruned = t.files_scanned(skip_where=[("o_year", "=", one_year)])
    assert pruned < len(snap.files)
    got = t.load(skip_where=[("o_year", "=", one_year)])
    want = df.filter(F.col("o_year") == one_year)
    assert got.count() == want.count()


def test_zorder_enables_file_skipping(spark, tmp_path):
    """§5.3 layout-effect: after Z-order on (l_partkey, l_suppkey), a
    selective equality filter must touch fewer files — assert on files
    scanned, not wall clock."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(16)
    t = GraftTable(spark, str(tmp_path / "li_z"))
    t.write(df)

    some = df.select("l_partkey").first()["l_partkey"]
    baseline = t.files_scanned(skip_where=[("l_partkey", "=", some)])

    optimize(t, target_files=8, zorder_by=["l_partkey", "l_suppkey"])
    after_total = len(t.snapshot().files)
    after = t.files_scanned(skip_where=[("l_partkey", "=", some)])
    assert after < after_total, "z-order should make min/max selective"
    # correctness: skipping never changes the result
    got = t.load(skip_where=[("l_partkey", "=", some)]).count()
    want = df.filter(F.col("l_partkey") == some).count()
    assert got == want


def test_cluster_by_property_drives_optimize(spark, tmp_path):
    """Liquid-clustering shape: graft.cluster.by on the table makes a
    bare OPTIMIZE re-cluster on the declared key."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(16)
    t = GraftTable(spark, str(tmp_path / "li_c"))
    t.write(df, properties={"graft.cluster.by": "l_partkey,l_suppkey"})

    optimize(t, target_files=8)  # no zorder_by argument
    last = t.commits()[-1]
    assert last.operation_parameters.get("zOrderBy") == ["l_partkey", "l_suppkey"]
    some = df.select("l_partkey").first()["l_partkey"]
    after = t.files_scanned(skip_where=[("l_partkey", "=", some)])
    assert after < len(t.snapshot().files)
    got = t.load(skip_where=[("l_partkey", "=", some)]).count()
    assert got == df.filter(F.col("l_partkey") == some).count()


def test_schema_enforcement_on_append(spark, sales):
    bad = sales.load().withColumnRenamed("l_quantity", "qty")
    with pytest.raises(ValueError, match="schema mismatch"):
        sales.write(bad, mode="append")
    # evolution with explicit opt-in (reference overwriteSchema, :73)
    sales.write(bad, mode="append", overwrite_schema=True)


def test_concurrent_commit_one_winner(spark, sales):
    """Optimistic concurrency: two writers racing to the same version —
    exactly one wins, the loser gets ConcurrentCommitError, the log stays
    consistent."""
    from delta_lake_optimizations_spark.table.graft_table import (
        ConcurrentCommitError,
    )

    v = sales.latest_version()
    sales._write_commit("TEST A", {}, [], [])
    # simulate the loser: race to write the SAME next version by
    # pre-computing it before A committed
    import json as _json
    import os as _os

    stale_next = v + 1  # what the loser believed the next version was
    with pytest.raises(ConcurrentCommitError):
        # direct low-level attempt at the now-taken version
        final = _os.path.join(sales._log_path, f"{stale_next:011d}.json")
        assert _os.path.exists(final)
        tmp = final + ".tmp-race"
        with open(tmp, "w") as fh:
            _json.dump({}, fh)
        try:
            _os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentCommitError("version taken") from None
        finally:
            _os.unlink(tmp)
    # normal retry lands on the next free version
    c = sales._write_commit("TEST B", {}, [], [])
    assert c.version == stale_next + 1


def test_checkpointing_matches_full_replay(spark, sales):
    """After >10 commits a checkpoint exists, and checkpoint-based
    snapshots are identical to a from-scratch replay at every version."""
    for i in range(12):
        sales.set_properties({"k": str(i)})
    cps = sales._checkpoint_versions()
    assert cps and cps[-1] >= 10

    for v in (0, 5, 10, sales.latest_version()):
        with_cp = sales.snapshot(version=v)
        scratch = sales._replay(v, from_version=None)
        assert [f.path for f in with_cp.files] == [f.path for f in scratch.files]
        assert with_cp.properties == scratch.properties
        assert with_cp.schema_json == scratch.schema_json
    # reads still work and see all data
    assert sales.load().count() == sales.load(version=0).count()


def test_update_copy_on_write(spark, sales):
    from delta_lake_optimizations_spark.table import update

    n0 = sales.load().count()
    total0 = sales.load().agg(F.round(F.sum("l_extendedprice"), 2)).collect()[0][0]
    commit = update(
        sales, {"l_quantity": "l_quantity + 100"}, predicate="l_returnflag = 'R'"
    )
    assert commit.operation_parameters["numRewrittenFiles"] >= 1
    after = sales.load()
    assert after.count() == n0
    # only matching rows changed; other columns untouched
    assert after.filter("l_returnflag = 'R' AND l_quantity <= 100").count() == 0
    assert (
        after.agg(F.round(F.sum("l_extendedprice"), 2)).collect()[0][0] == total0
    )
    # no-match predicate rewrites nothing
    c2 = update(sales, {"l_quantity": "0"}, predicate="l_returnflag = 'ZZZ'")
    assert c2.operation_parameters["numRewrittenFiles"] == 0


def test_optimize_single_partition_only(spark, tmp_path):
    """Delta's OPTIMIZE ... WHERE: compact one partition's files; other
    partitions' files carry over byte-identical."""
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .withColumn("o_year", F.year("o_orderdate"))
        .repartition(4)
    )
    t = GraftTable(spark, str(tmp_path / "part_opt"))
    t.write(df, partition_by=["o_year"])
    snap0 = t.snapshot()
    years = sorted({f.partition_values["o_year"] for f in snap0.files})
    target_year = years[0]
    n_target = sum(1 for f in snap0.files if f.partition_values["o_year"] == target_year)
    others_before = {f.path for f in snap0.files
                     if f.partition_values["o_year"] != target_year}
    n_total = t.load().count()

    commit = optimize(t, target_files=1, where={"o_year": target_year})

    snap1 = t.snapshot()
    # untouched partitions identical
    others_after = {f.path for f in snap1.files
                    if f.partition_values["o_year"] != target_year}
    assert others_after == others_before
    # target partition compacted
    now_target = [f for f in snap1.files if f.partition_values["o_year"] == target_year]
    assert len(now_target) < n_target or n_target == 1
    assert len(commit.remove) == n_target
    # data unchanged
    assert t.load().count() == n_total
    with pytest.raises(ValueError, match="partition columns only"):
        optimize(t, where={"o_orderkey": "1"})


def test_schema_evolution_null_fills_old_files(spark, sales):
    """Append with an added column (overwrite_schema): old files lack the
    column and must read as NULL; new rows carry values."""
    evolved = sales.load().limit(10).withColumn("quality", F.lit(0.9))
    n0 = sales.load().count()
    sales.write(evolved, mode="append", overwrite_schema=True)
    cur = sales.load()
    assert "quality" in cur.columns
    assert cur.count() == n0 + 10
    assert cur.filter(F.col("quality").isNull()).count() == n0
    assert cur.filter(F.col("quality") == 0.9).count() == 10


def test_auto_compact_triggers_after_small_appends(spark, tmp_path):
    from delta_lake_optimizations_spark.table import GraftTable

    t = GraftTable(spark, str(tmp_path / "t"))
    one_file = lambda n: spark.range(n).withColumnRenamed("id", "k").repartition(1)
    t.write(
        one_file(100).repartition(2),
        properties={
            "delta.autoOptimize.autoCompact": "true",
            "delta.autoOptimize.minNumFiles": "4",
        },
    )
    t.write(one_file(100), mode="append")  # 3 files < 4: no compaction yet
    assert [c.operation for c in t.commits()].count("OPTIMIZE") == 0
    t.write(one_file(100), mode="append")  # 4 files: compaction fires

    ops = [c.operation for c in t.commits()]
    assert ops.count("OPTIMIZE") == 1, ops
    snap = t.snapshot()
    assert len(snap.files) < 4
    assert t.load().count() == 300
    # compaction stops once the table is packed: another single-file append
    # (2 active files < 4) must not optimize again
    t.write(one_file(10), mode="append")
    ops2 = [c.operation for c in t.commits()]
    assert ops2.count("OPTIMIZE") == 1, ops2
    assert t.load().count() == 310


def test_stale_snapshot_commit_conflicts(spark, sales):
    """A writer holding a STALE snapshot (read v5 while another writer
    landed v6) must fail any snapshot-DEPENDENT commit (one that removes
    files), not silently land at v7 with add/remove lists computed
    against v5 — e.g. an OPTIMIZE that would resurrect rows a concurrent
    DELETE removed. (Blind appends instead auto-rebase — see
    test_blind_append_rebases_past_concurrent_commits.)"""
    from delta_lake_optimizations_spark.table.graft_table import (
        ConcurrentCommitError,
    )

    stale_version = sales.latest_version()
    doomed = sales.snapshot().files[0].path
    # another writer commits first
    sales._write_commit("TEST OTHER", {}, [], [], base_version=stale_version)
    # the stale writer's commit REMOVES a file it chose from its stale
    # snapshot — must abort, never rebase
    with pytest.raises(ConcurrentCommitError):
        sales._write_commit(
            "TEST STALE", {}, [], [doomed], base_version=stale_version
        )
    # retry after reload lands cleanly (no-op commit, fresh base)
    c = sales._write_commit(
        "TEST RETRY", {}, [], [], base_version=sales.latest_version()
    )
    assert c.version == stale_version + 2


def test_blind_append_rebases_past_concurrent_commits(spark, sales):
    """Delta-parity optimistic concurrency: a blind append whose base
    snapshot went stale because ANOTHER append landed must auto-rebase
    onto the new head (ingest jobs never fail each other); if the
    intervening commit changed table METADATA (schema/properties), the
    append must abort instead — its schema validation read stale state."""
    from unittest.mock import patch

    from delta_lake_optimizations_spark.table.graft_table import (
        ConcurrentCommitError,
        GraftTable,
    )

    n0 = sales.load().count()
    batch = sales.load().limit(7)
    n_batch = batch.count()

    real_snapshot = GraftTable.snapshot
    state = {"mode": None, "injected": False}

    def delayed_snapshot(self, *a, **kw):
        snap = real_snapshot(self, *a, **kw)
        if not state["injected"] and not a and not kw:
            state["injected"] = True
            other = GraftTable(spark, self.path)
            if state["mode"] == "append":
                other.write(other.load().limit(3), mode="append")
            else:
                other.set_properties({"race": "metadata"})
        return snap

    # concurrent APPEND: both appends' rows land, no error
    state.update(mode="append", injected=False)
    with patch.object(GraftTable, "snapshot", delayed_snapshot):
        sales.write(batch, mode="append")
    assert sales.load().count() == n0 + 3 + n_batch

    # concurrent METADATA change: the blind append must abort
    state.update(mode="meta", injected=False)
    with patch.object(GraftTable, "snapshot", delayed_snapshot):
        with pytest.raises(ConcurrentCommitError, match="metadata"):
            sales.write(batch, mode="append")


def test_plain_append_commits_without_metadata(spark, sales):
    """An append that changes no table state must not re-declare
    metadata in its commit (keeps the log lean and the append blind/
    rebaseable); schema visible to readers is unchanged."""
    schema_before = sales.snapshot().schema_json
    sales.write(sales.load().limit(2), mode="append")
    c = sales._read_commit(sales.latest_version())
    assert c.operation == "WRITE" and c.metadata is None
    assert sales.snapshot().schema_json == schema_before


def test_stale_optimize_vs_delete_conflicts(spark, sales):
    """End-to-end stale-writer scenario: OPTIMIZE reads its snapshot, a
    DELETE lands in between, the OPTIMIZE commit must abort (it would
    re-add files containing the deleted rows)."""
    from unittest.mock import patch

    from delta_lake_optimizations_spark.table.graft_table import (
        ConcurrentCommitError,
    )

    real_snapshot = type(sales).snapshot
    state = {"injected": False}

    def delayed_snapshot(self, *a, **kw):
        snap = real_snapshot(self, *a, **kw)
        if not state["injected"] and not a and not kw:
            state["injected"] = True
            # a concurrent DELETE commits AFTER optimize read its snapshot
            delete(self, "l_quantity < 10")
        return snap

    with patch.object(type(sales), "snapshot", delayed_snapshot):
        with pytest.raises(ConcurrentCommitError):
            optimize(sales)
    # the delete survived; a fresh optimize works and preserves it
    assert sales.load().filter(F.col("l_quantity") < 10).count() == 0
    optimize(sales)
    assert sales.load().filter(F.col("l_quantity") < 10).count() == 0


def test_overwrite_preserves_table_properties(spark, sales):
    """Plain mode=overwrite replaces data, not table metadata: properties
    (constraints, autoCompact, stats flags) persist like Delta's."""
    sales.set_properties({"delta.autoOptimize.autoCompact": "false", "team": "ml"})
    sales.add_constraint("qty_nonneg", "l_quantity >= 0")
    df = sales.load().limit(50)
    sales.write(df, mode="overwrite")
    props = sales.snapshot().properties
    assert props["team"] == "ml"
    assert props["constraint.qty_nonneg"] == "l_quantity >= 0"
    # and the preserved constraint still enforces on the NEXT write
    from delta_lake_optimizations_spark.table.graft_table import (
        ConstraintViolationError,
    )

    bad = df.withColumn("l_quantity", F.lit(-1.0))
    with pytest.raises(ConstraintViolationError):
        sales.write(bad, mode="append")
    # explicit property overrides still win over carried-over values
    sales.write(df, mode="overwrite", properties={"team": "infra"})
    assert sales.snapshot().properties["team"] == "infra"


def test_append_rejects_type_change(spark, sales):
    """Same column names, different type: must be rejected on append —
    committing the new schemaJson would corrupt reads of historical
    parquet files."""
    bad = sales.load().withColumn(
        "l_quantity", F.col("l_quantity").cast("string")
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        sales.write(bad, mode="append")
    # the explicit evolution path still allows it
    sales.write(bad, mode="append", overwrite_schema=True)


def test_compression_property_controls_codec(spark, tmp_path):
    import pyarrow.parquet as pq

    df = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    t = GraftTable(spark, str(tmp_path / "z"))
    t.write(df, properties={"graft.parquet.compression": "zstd"})

    def codecs(table):
        out = set()
        for f in table.snapshot().files:
            md = pq.ParquetFile(f"{table.path}/{f.path}").metadata
            out.add(md.row_group(0).column(0).compression)
        return out

    assert codecs(t) == {"ZSTD"}
    # maintenance rewrites honor the property too
    optimize(t, target_files=1)
    assert codecs(t) == {"ZSTD"}
    # and reads stay correct
    assert t.load().count() == df.count()


def test_stats_columns_cap_property(spark, tmp_path):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    t = GraftTable(spark, str(tmp_path / "cap"))
    t.write(df, properties={"graft.dataSkippingNumIndexedCols": "2"})
    for f in t.snapshot().files:
        assert len(f.stats.get("minValues", {})) <= 2
    # uncapped table indexes more columns
    t2 = GraftTable(spark, str(tmp_path / "nocap"))
    t2.write(df)
    assert any(len(f.stats.get("minValues", {})) > 2 for f in t2.snapshot().files)


def test_vacuum_removes_orphans_from_crashed_writes(spark, tmp_path):
    """Data written without a commit (a crashed writer) is unreachable
    debris: VACUUM must list and delete it; committed files survive."""
    df = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    t = GraftTable(spark, str(tmp_path / "t"))
    t.write(df)

    # simulate a crashed write: data lands, commit JSON never does
    stray_rel = t._new_data_dir(99)
    df.limit(5).write.mode("overwrite").parquet(os.path.join(t.path, stray_rel))

    dry = vacuum(t, retain_hours=0, dry_run=True)
    assert any(p.startswith(stray_rel) for p in dry), dry
    assert all(os.path.exists(os.path.join(t.path, p)) for p in dry)

    removed = vacuum(t, retain_hours=0)
    assert any(p.startswith(stray_rel) for p in removed)
    for p in removed:
        assert not os.path.exists(os.path.join(t.path, p))
    # committed data untouched and readable
    assert t.load().count() == df.count()
    # a second vacuum finds nothing new
    assert vacuum(t, retain_hours=0, dry_run=True) == []


def test_generated_columns_computed_validated_and_prunable(spark, tmp_path):
    """Delta GENERATED ALWAYS AS parity via graft.generated.<col>:
    a missing generated column is computed at write time (including on
    append, before schema validation), a supplied-but-wrong one rejects
    the write, and a generated PARTITION column gives partition pruning
    for free."""
    from delta_lake_optimizations_spark.table.graft_table import (
        ConstraintViolationError,
        GraftTable,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-03 10:00:00"), (2, "2024-01-04 11:30:00"), (3, "2024-01-04 23:59:00")],
        "id bigint, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    t = GraftTable(spark, str(tmp_path / "t"))
    t.write(
        df,
        partition_by=["day"],
        properties={"graft.generated.day": "CAST(to_date(ts) AS STRING)"},
    )
    assert set(t.load().columns) == {"id", "ts", "day"}
    assert t.load().filter(F.col("day") == "2024-01-04").count() == 2

    # append WITHOUT the generated column: computed automatically, and the
    # append-mode schema check passes because it runs after generation
    more = spark.createDataFrame(
        [(4, "2024-01-05 01:00:00")], "id bigint, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.write(more, mode="append")
    assert t.load().filter(F.col("day") == "2024-01-05").count() == 1

    # generated partition column drives file pruning
    assert t.files_scanned(skip_where=[("day", "=", "2024-01-05")]) == 1

    # append WITH a diverging value: rejected atomically
    wrong = spark.createDataFrame(
        [(5, "2024-01-06 01:00:00", "1999-12-31")], "id bigint, ts string, day string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    n_before = t.load().count()
    with pytest.raises(ConstraintViolationError, match="generated-column"):
        t.write(wrong, mode="append")
    assert t.load().count() == n_before


def test_partition_range_pruning_typed(spark, tmp_path):
    """Range predicates on partition columns must prune files with TYPED
    comparison (lexicographic '9' < '10' would be wrong for ints)."""
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .withColumn("o_year", F.year("o_orderdate"))
    )
    t = GraftTable(spark, str(tmp_path / "op"))
    t.write(df, partition_by=["o_year"])
    years = sorted(
        int(f.partition_values["o_year"]) for f in t.snapshot().files
    )
    n_files = len(t.snapshot().files)
    lo = years[0]
    # strictly-greater-than the minimum year must drop at least one file
    pruned = t.files_scanned(skip_where=[("o_year", ">", lo)])
    assert pruned < n_files
    got = t.load(skip_where=[("o_year", ">", lo)])
    want = df.filter(F.col("o_year") > lo)
    assert got.count() == want.count()
    # range below everything scans nothing
    assert t.files_scanned(skip_where=[("o_year", "<", lo)]) == 0


def test_optimize_write_one_file_per_partition(spark, tmp_path):
    """graft.optimizeWrite: a many-task write into a partitioned table
    produces one file per hive partition, not tasks x partitions."""
    from delta_lake_optimizations_spark.table import GraftTable

    df = (
        spark.range(1000)
        .select(F.col("id").alias("k"), (F.col("id") % 4).alias("bucket"))
        .repartition(16)
    )
    plain = GraftTable(spark, os.path.join(tmp_path, "plain"))
    plain.write(df, partition_by=["bucket"])
    opt = GraftTable(spark, os.path.join(tmp_path, "opt"))
    opt.write(df, partition_by=["bucket"], properties={"graft.optimizeWrite": "true"})
    assert len(plain.snapshot().files) > 4, "without optimizeWrite: small files"
    assert len(opt.snapshot().files) == 4, "with optimizeWrite: 1 file/partition"
    assert opt.load().count() == 1000


def test_null_predicate_file_skipping(spark, tmp_path):
    """IS NULL / IS NOT NULL skip files using nullCounts footer stats."""
    from delta_lake_optimizations_spark.table import GraftTable

    t = GraftTable(spark, os.path.join(tmp_path, "nulls"))
    no_nulls = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    all_nulls = spark.range(100, 150).select(
        F.col("id").alias("k"), F.lit(None).cast("string").alias("v")
    )
    t.write(no_nulls.coalesce(1))
    t.write(all_nulls.coalesce(1), mode="append")
    assert len(t.snapshot().files) == 2
    assert t.files_scanned(skip_where=[("v", "isnull", None)]) == 1
    assert t.files_scanned(skip_where=[("v", "notnull", None)]) == 1
    assert t.load(skip_where=[("v", "isnull", None)]).count() == 50
    assert t.load(skip_where=[("v", "notnull", None)]).count() == 100


def test_selective_optimize_leaves_right_sized_files(spark, tmp_path):
    """Plain bin-packing OPTIMIZE rewrites only under-sized files; files
    already at/above half the target carry over by reference (recompaction
    cost follows the small files, not the table)."""
    from delta_lake_optimizations_spark.table import GraftTable, optimize

    t = GraftTable(spark, os.path.join(tmp_path, "sel"))
    # one "big" file (~ >0.5 MB) + many tiny appended files
    big = spark.range(200_000).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    )
    t.write(big.coalesce(1))
    big_paths = {f.path for f in t.snapshot().files}
    small = spark.range(100).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    )
    t.write(small.repartition(6), mode="append")
    assert len(t.snapshot().files) == 7
    optimize(t, target_file_mb=1)
    snap = t.snapshot()
    assert big_paths <= {f.path for f in snap.files}, "right-sized file untouched"
    assert len(snap.files) == 2, "six small files packed into one"
    assert t.load().count() == 200_100
    # second run: nothing under-sized left -> no-op commit, zero rewrites
    before = {f.path for f in snap.files}
    optimize(t, target_file_mb=1)
    assert {f.path for f in t.snapshot().files} == before


def test_count_rows_metadata_only(spark, tmp_path):
    """COUNT(*) from the log: matches a real scan across append, DV
    delete, and time travel — zero Spark jobs."""
    from delta_lake_optimizations_spark.table import GraftTable, delete

    t = GraftTable(spark, os.path.join(tmp_path, "cnt"))
    t.write(spark.range(100).select(F.col("id").alias("k")).repartition(4))
    t.write(spark.range(100, 130).select(F.col("id").alias("k")), mode="append")
    v_before = t.latest_version()
    delete(t, "k < 10", deletion_vectors=True)
    assert t.count_rows() == t.load().count() == 120
    assert t.count_rows(version=v_before) == 130


def test_cluster_by_sorts_appends_for_skipping(spark, tmp_path):
    """graft.cluster.by sorts each write task's output so fresh appends
    get selective min/max stats without waiting for OPTIMIZE."""
    from delta_lake_optimizations_spark.table import GraftTable

    df = spark.range(10_000).select(
        (F.xxhash64("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    t = GraftTable(spark, os.path.join(tmp_path, "clw"))
    t.write(df.repartition(1), properties={"graft.cluster.by": "k"})
    # a single sorted file: every point lookup is provable via min/max
    t.write(df.repartition(4), mode="append")
    snap = t.snapshot()
    # every file's stats must be a tight sorted range: min <= max recorded
    for f in snap.files:
        assert f.stats["minValues"]["k"] is not None
    # correctness unchanged
    assert t.load().count() == 20_000


def test_max_records_per_file_property(spark, tmp_path):
    from delta_lake_optimizations_spark.table import GraftTable

    t = GraftTable(spark, os.path.join(tmp_path, "mrpf"))
    t.write(
        spark.range(1000).selectExpr("id AS k").coalesce(1),
        properties={"graft.maxRecordsPerFile": "250"},
    )
    snap = t.snapshot()
    assert len(snap.files) == 4
    assert all(f.num_records == 250 for f in snap.files)
    assert t.load().count() == 1000


def test_append_only_table_refuses_row_dropping_verbs(spark, tmp_path):
    """delta.appendOnly=true: appends fine; overwrite, replaceWhere,
    DELETE, UPDATE, MERGE all refused."""
    import pytest as _pytest

    from delta_lake_optimizations_spark.table import GraftTable, delete, merge, update
    from delta_lake_optimizations_spark.table.graft_table import (
        ConstraintViolationError,
    )

    t = GraftTable(spark, os.path.join(tmp_path, "ao"))
    df = spark.range(10).selectExpr("id AS k")
    t.write(df, properties={"delta.appendOnly": "true"})
    t.write(df, mode="append")  # fine
    assert t.load().count() == 20
    with _pytest.raises(ConstraintViolationError, match="appendOnly"):
        t.write(df, mode="overwrite")
    with _pytest.raises(ConstraintViolationError, match="appendOnly"):
        t.write(df, replace_where=[("k", "=", 1)])
    with _pytest.raises(ValueError, match="appendOnly"):
        delete(t, "k = 1")
    with _pytest.raises(ValueError, match="appendOnly"):
        update(t, {"k": "k + 1"}, "k = 1")
    with _pytest.raises(ValueError, match="appendOnly"):
        merge(t, df, on=["k"])


def test_vacuum_log_retention(spark, tmp_path):
    """Commit-log retention: commits below the checkpoint floor are
    deleted, latest reads and floor-and-above time travel still work,
    below-floor time travel raises."""
    import pytest as _pytest

    from delta_lake_optimizations_spark.table import GraftTable
    from delta_lake_optimizations_spark.table.maintenance import vacuum_log

    t = GraftTable(spark, os.path.join(tmp_path, "vl"))
    t.write(spark.range(5).selectExpr("id AS k"))
    for i in range(24):  # versions 1..24 — checkpoints at 10 and 20
        t.write(spark.range(1).selectExpr(f"id + {100 + i} AS k"), mode="append")
    assert t.latest_version() == 24
    rep = vacuum_log(t, keep_versions=5)
    assert rep["floor"] == 10
    assert rep["removed_commits"] == 10, "v0..v9 deleted"
    assert t._versions()[0] == 10
    assert t.load().count() == 29, "latest snapshot intact"
    assert t.load(version=10).count() == 15, "floor version readable"
    assert t.load(version=15).count() == 20, "above-floor replay works"
    with _pytest.raises(ValueError, match="not in log"):
        t.load(version=3)
    # idempotent second pass removes nothing new
    assert vacuum_log(t, keep_versions=5)["removed_commits"] == 0


def test_checkpoint_and_vacuum_survive_vacuum_log(spark, tmp_path):
    """Regression (ADVICE r03, high): after vacuum_log purges commits below
    the checkpoint floor, (a) the NEXT checkpoint must not be rebuilt from
    scratch — it would silently drop every file recorded only in purged
    commits — and (b) vacuum must not classify still-live pre-floor data
    files as never-referenced orphans and physically delete them."""
    from delta_lake_optimizations_spark.table import GraftTable
    from delta_lake_optimizations_spark.table.maintenance import vacuum, vacuum_log

    t = GraftTable(spark, os.path.join(tmp_path, "vlcp"))
    t.write(spark.range(5).selectExpr("id AS k"))
    for i in range(24):  # versions 1..24 — checkpoints at 10 and 20
        t.write(spark.range(1).selectExpr(f"id + {100 + i} AS k"), mode="append")
    rep = vacuum_log(t, keep_versions=5)
    assert rep["floor"] == 10

    # (b) vacuum past retention right after vacuum_log: pre-floor live
    # files are only recorded in purged commits + the checkpoint.
    deleted = vacuum(t, retain_hours=0.0, dry_run=False)
    assert t.load().count() == 29, f"vacuum deleted live data: {deleted}"

    # (a) write past the next checkpoint interval (v30) and re-read.
    for i in range(6):  # versions through >= 31
        t.write(spark.range(1).selectExpr(f"id + {200 + i} AS k"), mode="append")
    assert t.latest_version() >= 30
    assert 30 in t._checkpoint_versions()
    assert t.load().count() == 35, "post-vacuum_log checkpoint dropped files"
    # a fresh handle (no cached state) must see the same table
    t2 = GraftTable(spark, os.path.join(tmp_path, "vlcp"))
    assert t2.load().count() == 35
    # and vacuum again after the new checkpoint: still nothing live deleted
    vacuum(t2, retain_hours=0.0, dry_run=False)
    assert t2.load().count() == 35


def test_stale_optimize_vs_append_conflicts_and_append_rebases(spark, sales):
    """VERDICT r03 #8 interleavings, both orders of OPTIMIZE vs append:

    (a) OPTIMIZE reads its snapshot, an APPEND lands in between -> the
        OPTIMIZE commit must abort (its add/remove was computed from the
        stale snapshot; landing it could drop the appended files from the
        compacted view), and the appended rows must survive a retried
        OPTIMIZE.
    (b) An APPEND whose base went stale because an OPTIMIZE landed must
        auto-rebase (a compaction that touched none of its files cannot
        invalidate a blind add) — ingest never fails behind maintenance.
    """
    from unittest.mock import patch

    from delta_lake_optimizations_spark.table.graft_table import (
        ConcurrentCommitError,
    )

    n0 = sales.load().count()
    batch = sales.load().limit(5)

    # (a) optimize loses to a concurrent append
    real_snapshot = type(sales).snapshot
    state = {"injected": False}

    def snapshot_then_append(self, *a, **kw):
        snap = real_snapshot(self, *a, **kw)
        if not state["injected"] and not a and not kw:
            state["injected"] = True
            other = GraftTable(spark, self.path)
            other.write(batch, mode="append")
        return snap

    with patch.object(type(sales), "snapshot", snapshot_then_append):
        with pytest.raises(ConcurrentCommitError):
            optimize(sales)
    assert sales.load().count() == n0 + 5, "appended rows survived the abort"
    optimize(sales)  # fresh snapshot -> clean compaction
    assert sales.load().count() == n0 + 5

    # (b) append rebases past a landed optimize
    state2 = {"injected": False}

    def snapshot_then_optimize(self, *a, **kw):
        snap = real_snapshot(self, *a, **kw)
        if not state2["injected"] and not a and not kw:
            state2["injected"] = True
            optimize(GraftTable(spark, self.path))
        return snap

    with patch.object(type(sales), "snapshot", snapshot_then_optimize):
        sales.write(batch, mode="append")  # must NOT raise
    assert sales.load().count() == n0 + 10


def test_stale_delete_vs_append_conflicts_and_append_rebases(spark, sales):
    """Same two interleavings for DELETE vs append: a DELETE whose
    snapshot went stale behind an append must abort (its rewrite set was
    computed without the new files — landing it would silently exempt
    them); an append behind a landed DELETE must rebase."""
    from unittest.mock import patch

    from delta_lake_optimizations_spark.table.graft_table import (
        ConcurrentCommitError,
    )

    n0 = sales.load().count()
    batch = sales.load().filter(F.col("l_quantity") >= 20).limit(5)
    n_low0 = sales.load().filter(F.col("l_quantity") < 10).count()
    assert n_low0 > 0

    real_read_files = type(sales)._read_files
    # land the append on the first read delete() makes: the scan its
    # add/remove lists are computed from, over a snapshot that now lags
    state = {"injected": False}

    def read_then_append(self, *a, **kw):
        if not state["injected"]:
            state["injected"] = True
            GraftTable(spark, self.path).write(batch, mode="append")
        return real_read_files(self, *a, **kw)

    with patch.object(type(sales), "_read_files", read_then_append):
        with pytest.raises(ConcurrentCommitError):
            delete(sales, "l_quantity < 10")
    assert state["injected"]
    assert sales.load().count() == n0 + 5, "append survived the aborted delete"
    delete(sales, "l_quantity < 10")  # retry on a fresh snapshot
    assert sales.load().filter(F.col("l_quantity") < 10).count() == 0

    real_snapshot = type(sales).snapshot
    state2 = {"injected": False}

    def snapshot_then_delete(self, *a, **kw):
        snap = real_snapshot(self, *a, **kw)
        if not state2["injected"] and not a and not kw:
            state2["injected"] = True
            delete(GraftTable(spark, self.path), "l_quantity >= 40")
        return snap

    n_before = sales.load().count()
    n_killed = sales.load().filter(F.col("l_quantity") >= 40).count()
    with patch.object(type(sales), "snapshot", snapshot_then_delete):
        sales.write(batch, mode="append")  # must NOT raise
    assert sales.load().count() == n_before - n_killed + 5
