"""Table-maintenance verbs over GraftTable (SURVEY.md §2.4 — the heart of
the reference: OPTIMIZE M1, V-Order M2, Z-Order M3, VACUUM M4/M5, DELETE
M9, RESTORE M10).

Every verb is copy-on-write: data files are immutable; a verb writes new
files plus one commit with add/remove actions, so history and time travel
keep working (reference docs/02-lab-optimizations.md:203-287).
"""

from __future__ import annotations

import os
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.temporal import epoch_seconds

from delta_lake_optimizations_spark.table.graft_table import (
    DEFAULT_RETENTION_HOURS,
    AddFile,
    Commit,
    GraftTable,
    _refuse_if_append_only,
    dv_file_key,
    dv_file_key_col,
    expand_removes,
)

DEFAULT_TARGET_FILE_MB = 128  # low end of the reference's 128-512 MB guidance

#: table property naming the persistent clustering key (comma-separated
#: columns); OPTIMIZE without an explicit zorder_by re-clusters on it
CLUSTER_BY_PROP = "graft.cluster.by"
                              # (docs/02-lab-optimizations.md:346)



# ---------------------------------------------------------------------------
# OPTIMIZE (M1) + V-Order approximation (M2) + Z-Order (M3)
# ---------------------------------------------------------------------------


def optimize(
    table: GraftTable,
    target_file_mb: int = DEFAULT_TARGET_FILE_MB,
    zorder_by: list[str] | None = None,
    vorder: bool = False,
    vorder_sort_by: list[str] | None = None,
    target_files: int | None = None,
    where: dict[str, str] | None = None,
) -> Commit:
    """Bin-packing compaction: rewrite the active file set into
    ``ceil(total_bytes / target)`` files (reference M1: "many small files
    into fewer, larger files", README.md:33-36). Data is bit-identical;
    old files stay on disk for time travel.

    ``zorder_by``: cluster rows by an interleaved-bit (Morton) key over the
    given columns before writing, so per-file min/max stats become
    selective on every listed column (M3, docs/02-lab-optimizations.md:
    144-147,161).

    ``vorder``: public-knowledge approximation of the Fabric-proprietary
    V-Order (M2, docs/02-lab-optimizations.md:120,162): within-file sort
    on ``vorder_sort_by`` (default: all zorder/first columns) to improve
    run-length/dictionary compression, plus the ``vorder.enabled`` table
    property that DESCRIBE EXTENDED surfaces (mirrors ``:150``).

    ``where``: partition-column equality map (``{"country": "US"}``) —
    Delta's ``OPTIMIZE t WHERE ...``: compact ONLY the matching
    partitions' files; everything else carries over untouched. At 100 TB
    you compact the fragmented partitions, never the whole table.

    When ``zorder_by`` is omitted, the ``graft.cluster.by`` table
    property supplies it (Delta liquid-clustering shape: declare the
    clustering key once on the table; every OPTIMIZE — including
    auto-compaction — re-clusters without the caller restating it).
    """
    snap = table.snapshot()
    if zorder_by is None:
        prop = snap.properties.get(CLUSTER_BY_PROP, "")
        if prop:
            zorder_by = [c.strip() for c in prop.split(",") if c.strip()]
    if where:
        bad = [k for k in where if k not in snap.partition_columns]
        if bad:
            raise ValueError(
                f"optimize where supports partition columns only; {bad} not in "
                f"{snap.partition_columns}"
            )
        # partition_values are keyed by PHYSICAL names — translate the
        # caller's logical keys through the column mapping
        from delta_lake_optimizations_spark.table.graft_table import _colmap

        cmap = _colmap(snap.properties)
        targets = [
            f for f in snap.files
            if all(
                f.partition_values.get(cmap.get(k, k)) == str(v)
                for k, v in where.items()
            )
        ]
        df = table._read_files(snap, targets)
    else:
        targets = list(snap.files)
        df = None
    # Selective compaction (Delta's minFileSize semantics): a plain
    # bin-packing OPTIMIZE only rewrites files under half the target size
    # — right-sized files carry over by reference, so recompaction cost is
    # ∝ small files, not table size (a steady-append table with
    # auto-compact no longer rewrites its big files every cycle). Z-order
    # and explicit target_files still rewrite everything: re-clustering /
    # exact-count requests are whole-layout operations by definition.
    if zorder_by is None and target_files is None:
        cutoff = target_file_mb * 1024 * 1024 // 2
        small = [f for f in targets if f.size < cutoff]
        if len(small) < 2:
            return table._write_commit(
                "OPTIMIZE",
                {"targetFileMb": target_file_mb, "numFilesBefore": len(targets),
                 "numFilesCompacted": 0},
                [], [], None, base_version=snap.version,
            )
        targets = small
        df = table._read_files(snap, targets)
    elif df is None:
        df = table.load()
    total_bytes = sum(f.size for f in targets)
    if target_files is not None:
        n_files = target_files
    else:
        n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))

    params: dict[str, Any] = {"targetFileMb": target_file_mb, "numFilesBefore": len(targets)}
    if where:
        params["where"] = dict(where)
    if zorder_by:
        params["zOrderBy"] = list(zorder_by)
        df = _zorder_layout(df, zorder_by, n_files)
    else:
        df = df.repartition(int(n_files))

    if vorder:
        sort_cols = vorder_sort_by or zorder_by or [df.columns[0]]
        params["vOrder"] = True
        df = df.sortWithinPartitions(*sort_cols)

    rel_dir = table._new_data_dir(snap.version + 1)
    table._write_data(df, rel_dir, snap.partition_columns or None, snap.properties)
    adds = table._scan_written_files(rel_dir, snap.properties)

    metadata = None
    if vorder:
        props = dict(snap.properties)
        props["vorder.enabled"] = "true"
        metadata = {
            "schemaJson": snap.schema_json,
            "partitionColumns": snap.partition_columns,
            "properties": props,
        }
    return table._write_commit(
        "OPTIMIZE", params, adds, expand_removes(snap, [f.path for f in targets], adds),
        metadata,
        base_version=snap.version,
    )


def _zorder_layout(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """Range-partition + sort by a Morton (Z-curve) key.

    Scale-safe rank normalization: per-column quantile boundaries come from
    ``approxQuantile`` (driver-side, one sketch pass — NOT a global-window
    ``percent_rank``, which would funnel every row through a single
    partition). Each value maps to its quantile bucket (fixed-width int,
    which also solves the string-column problem from SURVEY §7 risk 2) via
    a binary-search CASE chain; bucket bits are interleaved into the Morton
    key; ``repartitionByRange`` on the key gives each output file a compact
    Z-curve segment, so per-file min/max stay tight on every z-column.
    """
    if len(cols) == 1:
        # Single-column clustering needs no curve at all: a pure range
        # layout is strictly better than bucketed interleaving (no
        # quantile-resolution loss), and — unlike the hash-bucket path
        # below — it works for STRINGS, keeping per-file min/max tight so
        # equality, range, and LIKE-prefix probes all prune files.
        return df.repartitionByRange(int(n_files), F.col(cols[0])).sortWithinPartitions(
            cols[0]
        )

    bits = 6  # 64 quantile buckets per column — keeps the CASE chain codegen-friendly
    nq = 1 << bits
    work = df
    rank_cols: list[str] = []
    for c in cols:
        dtype = dict(df.dtypes)[c]
        rc = f"__zrank_{c}"
        if dtype in ("date", "timestamp", "timestamp_ntz"):
            # temporal: preserve range locality by bucketing on the epoch value
            probe = (
                epoch_seconds(F.col(c))
                if dtype != "date"
                else F.unix_date(F.col(c)).cast("double")
            )
            src: Column = probe
            qdf = df.select(probe.alias("__q"))
            qs = qdf.stat.approxQuantile("__q", [i / nq for i in range(1, nq)], 0.001)
        elif dtype in ("string", "boolean", "binary"):
            # unorderable-by-quantile: hash to a uniform bucket (loses range
            # locality but keeps equality clustering, which skipping needs)
            work = work.withColumn(rc, F.pmod(F.xxhash64(F.col(c)), F.lit(nq)))
            rank_cols.append(rc)
            continue
        else:
            src = F.col(c)
            qs = df.stat.approxQuantile(c, [i / nq for i in range(1, nq)], 0.001)
        bounds = sorted(set(qs))
        expr = F.lit(len(bounds))
        for i in range(len(bounds) - 1, -1, -1):
            expr = F.when(src <= F.lit(bounds[i]), F.lit(i)).otherwise(expr)
        work = work.withColumn(rc, F.coalesce(expr, F.lit(0)).cast("long"))
        rank_cols.append(rc)

    zkey: Column = F.lit(0).cast("long")
    for b in range(bits):
        for i, rc in enumerate(rank_cols):
            bit = F.shiftright(F.col(rc), b).bitwiseAND(F.lit(1))
            zkey = zkey.bitwiseOR(F.shiftleft(bit, b * len(rank_cols) + i))
    work = work.withColumn("__zkey", zkey)
    out = (
        work.repartitionByRange(int(n_files), F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey", *rank_cols)
    )
    return out


# ---------------------------------------------------------------------------
# DELETE (M9) — copy-on-write
# ---------------------------------------------------------------------------


def _strip_file_uri(p: str) -> str:
    """'file:///a/b' or 'file:/a/b' -> '/a/b' (input_file_name URI form)."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


def _hit_files(table: GraftTable, snap, provenance_rows) -> list:
    """Map ``input_file_name()`` provenance back to snapshot AddFiles by
    absolute path (AddFile paths may be table-relative OR absolute — the
    latter for shallow clones)."""
    by_abs = {
        os.path.abspath(os.path.join(table.path, f.path)): f for f in snap.files
    }
    out = []
    for r in provenance_rows:
        f = by_abs.get(os.path.abspath(_strip_file_uri(r["__f"])))
        if f is not None:
            out.append(f)
    return out


def delete(
    table: GraftTable, predicate: str, deletion_vectors: bool = False
) -> Commit:
    """``DELETE FROM t WHERE predicate`` (reference M9,
    docs/02-lab-optimizations.md:223). Old versions still see the deleted
    rows (time travel, ``:239``).

    ``deletion_vectors=False`` (copy-on-write): rewrite only the files
    that contain matching rows; untouched files carry over.

    ``deletion_vectors=True`` (merge-on-read, Delta DV semantics): no
    data file is rewritten — the commit writes one small parquet
    directory of (file_path, row_index) tombstones and re-adds the hit
    AddFiles pointing at it; scans anti-join the positions out. At
    100 TB this turns a DELETE touching every file from a full-table
    rewrite into an O(deleted-rows) write; run OPTIMIZE later to fold
    DVs into clean files (any rewrite clears them naturally).
    """
    _refuse_if_append_only(table.snapshot().properties, "DELETE")
    snap = table.snapshot()
    df = table._read_files(snap, snap.files, with_provenance=True)
    pred = F.expr(predicate)

    # Which files contain matches? One aggregation over the scan-bound
    # provenance column (join-safe, unlike input_file_name()).
    hit_rows = (
        df.filter(pred)
        .select(F.col("__prov_file").alias("__f"))
        .distinct()
        .collect()
    )
    hit_files = _hit_files(table, snap, hit_rows)
    if not hit_files:
        return table._write_commit(
            "DELETE", {"predicate": predicate, "numRemovedFiles": 0}, [], [],
            base_version=snap.version,
        )

    if deletion_vectors:
        return _delete_with_dv(table, snap, pred, predicate, hit_files)

    keep_df = table._read_files(snap, hit_files).filter(~pred)
    rel_dir = table._new_data_dir(snap.version + 1)
    table._write_data(keep_df, rel_dir, snap.partition_columns or None, snap.properties)
    adds = table._scan_written_files(rel_dir, snap.properties)
    return table._write_commit(
        "DELETE",
        {"predicate": predicate, "numRemovedFiles": len(hit_files)},
        adds,
        expand_removes(snap, [f.path for f in hit_files], adds),
        base_version=snap.version,
    )


def _delete_with_dv(
    table: GraftTable, snap, pred: Column, predicate: str, hit_files: list
) -> Commit:
    """Write the (file_path, row_index) tombstone set for this DELETE and
    re-add the hit files with updated DV pointers. New positions are
    unioned with the hit files' existing DV rows (the provenance scan
    already excluded previously-deleted rows, so the union is disjoint)."""
    import dataclasses
    import uuid

    prov = table._read_files(snap, hit_files, with_provenance=True)
    rel = table._rel_path_expr(F.col("__prov_file"))
    new_rows = prov.filter(pred).select(
        rel.alias("file_path"), F.col("__prov_idx").alias("row_index")
    )
    dv_rows = new_rows
    # All file_path matching below uses the last-two-components suffix
    # (commit-dir/filename, unique via per-write UUIDs) — the same key the
    # read-side DV anti-join uses — so it survives absolute paths from
    # shallow clones and table-root moves.
    hit_suffixes = [dv_file_key(f.path) for f in hit_files]
    old_dv_dirs = sorted({f.dv_path for f in hit_files if f.dv_path})
    if old_dv_dirs:
        old_rows = (
            table.spark.read.parquet(
                *[os.path.join(table.path, d) for d in old_dv_dirs]
            )
            .filter(dv_file_key_col(F.col("file_path")).isin(hit_suffixes))
            .select("file_path", "row_index")
        )
        dv_rows = dv_rows.unionByName(old_rows)

    rel_dv_dir = os.path.join(
        "_dv", f"dv-v{snap.version + 1:011d}-{uuid.uuid4().hex[:8]}"
    )
    abs_dv_dir = os.path.join(table.path, rel_dv_dir)
    # DV volume is O(deleted rows); a single output file keeps the scan
    # side to one tiny extra input. Deletes big enough to need more files
    # should be copy-on-write (or OPTIMIZE right after) anyway.
    dv_rows.coalesce(1).write.mode("overwrite").parquet(abs_dv_dir)

    counts = {
        dv_file_key(r["file_path"]): r["cnt"]
        for r in table.spark.read.parquet(abs_dv_dir)
        .groupBy("file_path")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    adds = [
        dataclasses.replace(
            f,
            partition_values=dict(f.partition_values),
            stats=dict(f.stats),
            dv_path=rel_dv_dir,
            dv_count=int(counts.get(dv_file_key(f.path), f.dv_count)),
        )
        for f in hit_files
    ]
    return table._write_commit(
        "DELETE",
        {
            "predicate": predicate,
            "numRemovedFiles": 0,
            "numDeletionVectorsAdded": len(adds),
        },
        adds,
        expand_removes(snap, [f.path for f in hit_files], adds),
        base_version=snap.version,
    )


# ---------------------------------------------------------------------------
# UPDATE — copy-on-write (Delta's fourth DML verb; beyond the reference's
# taught surface but required for completeness)
# ---------------------------------------------------------------------------


def update(
    table: GraftTable, set: dict[str, Any], predicate: str | None = None
) -> Commit:
    """``UPDATE t SET c = expr [WHERE p]``: rewrite only the files that
    contain matching rows; each is rewritten with
    ``CASE WHEN p THEN expr ELSE c END`` per updated column. ``set`` maps
    column name -> SQL expression string or Column."""
    _refuse_if_append_only(table.snapshot().properties, "UPDATE")
    snap = table.snapshot()
    df = table._read_files(snap, snap.files, with_provenance=True)
    pred = F.expr(predicate) if predicate is not None else F.lit(True)

    if predicate is not None:
        hit_rows = (
            df.filter(pred)
            .select(F.col("__prov_file").alias("__f"))
            .distinct()
            .collect()
        )
        hit_files = _hit_files(table, snap, hit_rows)
    else:
        hit_files = list(snap.files)
    if not hit_files:
        return table._write_commit(
            "UPDATE", {"predicate": predicate, "numRewrittenFiles": 0}, [], [],
            base_version=snap.version,
        )

    touched = table._read_files(snap, hit_files)
    exprs = []
    for c in touched.columns:
        if c in set:
            new_val = set[c] if isinstance(set[c], Column) else F.expr(str(set[c]))
            exprs.append(
                F.when(pred, new_val.cast(touched.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            exprs.append(F.col(c))
    rewritten = touched.select(*exprs)

    rel_dir = table._new_data_dir(snap.version + 1)
    table._write_data(rewritten, rel_dir, snap.partition_columns or None, snap.properties)
    adds = table._scan_written_files(rel_dir, snap.properties)
    return table._write_commit(
        "UPDATE",
        {"predicate": predicate, "numRewrittenFiles": len(hit_files)},
        adds,
        expand_removes(snap, [f.path for f in hit_files], adds),
        base_version=snap.version,
    )


# ---------------------------------------------------------------------------
# RESTORE (M10)
# ---------------------------------------------------------------------------


def restore(table: GraftTable, version: int) -> Commit:
    """Roll the table back to ``version`` as a NEW commit (reference M10:
    restore after delete produces v4, docs/02-lab-optimizations.md:268-287).
    No data is copied — the old snapshot's files are re-added."""
    old = table.snapshot(version=version)
    cur = table.snapshot()
    metadata = {
        "schemaJson": old.schema_json,
        "partitionColumns": old.partition_columns,
        "properties": old.properties,
    }
    return table._write_commit(
        "RESTORE",
        {"version": version},
        old.files,
        expand_removes(
            cur,
            [f.path for f in cur.files if f.path not in {o.path for o in old.files}],
            old.files,
        ),
        metadata,
        base_version=cur.version,
    )


# ---------------------------------------------------------------------------
# VACUUM (M4 dry run / M5)
# ---------------------------------------------------------------------------


def vacuum(
    table: GraftTable,
    retain_hours: float = DEFAULT_RETENTION_HOURS,
    dry_run: bool = False,
) -> list[str]:
    """Delete (or list, with ``dry_run`` — M4) data files that are no
    longer referenced by any snapshot at or after the retention horizon.

    Semantics follow the reference: default retention 7 days
    (README.md:63); vacuuming limits time travel to vacuumed versions but
    current reads keep working (docs/02-lab-optimizations.md:295-309).
    """
    import time as _time

    horizon_ms = int(_time.time() * 1000) - int(retain_hours * 3600 * 1000)
    commits = table.commits()

    # Delta semantics: a file is deletable iff it is tombstoned (absent from
    # the CURRENT snapshot) and its removal happened at/before the horizon.
    # Recent tombstones are kept so time travel within retention still works;
    # vacuuming past retention breaks travel to those versions (reference
    # docs/02-lab-optimizations.md:295-309).
    cur = table.snapshot()
    live = {f.path for f in cur.files}
    live |= {f.dv_path for f in cur.files if f.dv_path}
    removed_at: dict[str, int] = {}
    for c in commits:
        for r in c.remove:
            removed_at[r] = c.timestamp_ms  # latest removal wins
    candidates = sorted(
        p for p, ts in removed_at.items() if p not in live and ts <= horizon_ms
    )

    # Shallow-clone safety: files referenced by absolute path OUTSIDE this
    # table's root belong to the clone source — never delete them (their
    # lifecycle is the source's vacuum, same caveat Delta documents).
    root = os.path.abspath(table.path) + os.sep
    candidates = [
        p for p in candidates
        if os.path.abspath(os.path.join(table.path, p)).startswith(root)
    ]

    # Orphans: data files never referenced by ANY commit — the debris of
    # crashed writes (data lands before the commit JSON; a writer that
    # dies in between leaves an unreachable directory). Same Delta
    # caveat applies: retention must exceed the longest in-flight write,
    # or vacuum can delete a concurrent writer's pre-commit files.
    candidates = sorted(set(candidates) | set(_orphan_candidates(table, commits, horizon_ms)))

    if not dry_run:
        for rel in candidates:
            abs_f = os.path.join(table.path, rel)
            if os.path.isdir(abs_f):  # deletion-vector directories
                import shutil

                shutil.rmtree(abs_f, ignore_errors=True)
            elif os.path.exists(abs_f):
                os.remove(abs_f)
        _prune_bloom_sidecars(table, set(candidates))
        table._write_commit(
            "VACUUM END",
            {"retainHours": retain_hours, "numDeletedFiles": len(candidates)},
            [],
            [],
        )
    return candidates


def _orphan_candidates(
    table: GraftTable, commits: list, horizon_ms: int
) -> list[str]:
    """Data files on disk that no commit has ever referenced (added OR
    tombstoned), older than the horizon. Spark's ``_SUCCESS``/``.crc``
    markers are skipped — they legitimately never appear in the log."""
    from delta_lake_optimizations_spark.table.graft_table import _DATA_DIR

    referenced: set[str] = set()
    for c in commits:
        for a in c.add:
            referenced.add(a.path)
            if a.dv_path:
                referenced.add(a.dv_path)
        referenced.update(c.remove)

    # After vacuum_log purges commit JSONs below the checkpoint floor, the
    # only record of pre-floor adds that are still live is a checkpoint —
    # union those checkpoints' file lists so such files are never
    # misclassified as never-referenced orphans. Only checkpoints AT OR
    # BELOW the oldest surviving commit can reference files missing from
    # the surviving commits (a file live at a later checkpoint and added
    # before the floor was necessarily live at — and captured by — the
    # floor checkpoint), so newer checkpoints are skipped: keeps this
    # O(pre-floor checkpoints), not O(all checkpoints), per vacuum.
    floor = min((c.version for c in commits), default=None)
    for cp in table._checkpoint_versions():
        if floor is not None and cp > floor:
            continue
        snap = table._load_checkpoint(cp)
        for f in snap.files:
            referenced.add(f.path)
            if f.dv_path:
                referenced.add(f.dv_path)

    def covered(rel: str) -> bool:
        p = rel
        while p and p != ".":  # a referenced ancestor dir (e.g. a DV dir) covers it
            if p in referenced:
                return True
            p = os.path.dirname(p)
        return False

    data_root = os.path.join(table.path, _DATA_DIR)
    out: list[str] = []
    for dirpath, _dirnames, filenames in os.walk(data_root):
        for fn in filenames:
            if fn.startswith(("_", ".")):
                continue
            abs_f = os.path.join(dirpath, fn)
            rel = os.path.relpath(abs_f, table.path)
            if covered(rel):
                continue
            try:
                mtime = os.path.getmtime(abs_f)
            except OSError:
                # vanished between walk and stat (racing vacuum / a writer
                # cleaning its own temp dir) — nothing to delete, move on
                continue
            if mtime * 1000 <= horizon_ms:
                out.append(rel)
    return sorted(out)


def _prune_bloom_sidecars(table: GraftTable, deleted: set[str]) -> None:
    """Drop Bloom-sidecar entries for permanently vacuumed data files.
    Stale entries are never probed (the file left every snapshot), but
    at 100 TB the sidecar dir would otherwise grow without bound —
    vacuum is the natural hygiene point. Empty sidecars are removed."""
    import json as _json

    from delta_lake_optimizations_spark.table.bloom import _bloom_dir

    d = _bloom_dir(table)
    if not deleted or not os.path.isdir(d):
        return
    for fname in os.listdir(d):
        if not fname.endswith(".json"):
            continue
        path = os.path.join(d, fname)
        with open(path) as fh:
            sc = _json.load(fh)
        kept = {p: b for p, b in sc["files"].items() if p not in deleted}
        if len(kept) == len(sc["files"]):
            continue
        if not kept:
            os.remove(path)
            continue
        sc["files"] = kept
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(sc, fh)
        os.replace(tmp, path)


def reorg_purge(table: GraftTable) -> Commit:
    """``REORG TABLE ... APPLY (PURGE)`` (Delta parity): materialize
    soft-deletes by rewriting ONLY the files that carry deletion vectors,
    dropping their tombstoned rows; every DV-free file carries over by
    reference. After the commit the snapshot references no deletion
    vectors, so scans stop paying the anti-join and VACUUM can reclaim
    the DV directories. Cost ∝ DV-carrying files, not table size."""
    snap = table.snapshot()
    targets = [f for f in snap.files if f.dv_path]
    if not targets:
        return table._write_commit(
            "REORG", {"applyPurge": True, "numFilesPurged": 0}, [], [],
            base_version=snap.version,
        )
    clean = table._read_files(snap, targets)  # DVs applied at read
    rel_dir = table._new_data_dir(snap.version + 1)
    table._write_data(clean, rel_dir, snap.partition_columns or None, snap.properties)
    adds = table._scan_written_files(rel_dir, snap.properties)
    return table._write_commit(
        "REORG",
        {"applyPurge": True, "numFilesPurged": len(targets)},
        adds,
        expand_removes(snap, [f.path for f in targets], adds),
        base_version=snap.version,
    )


def fsck_repair(table: GraftTable, dry_run: bool = False) -> dict[str, Any]:
    """``FSCK REPAIR TABLE`` (Delta parity): drop snapshot references to
    data files that no longer exist on disk (lost to manual deletion or
    storage failure), so scans stop failing on missing inputs. Driver-side
    existence checks only — no data I/O. Returns the report; with
    ``dry_run=False`` commits the removal (history still records the lost
    paths; time travel to versions needing them will fail, as in Delta)."""
    snap = table.snapshot()
    missing = [
        f.path for f in snap.files
        if not os.path.isfile(os.path.join(table.path, f.path))
    ]
    report = {"missing_files": sorted(missing), "dry_run": dry_run}
    if missing and not dry_run:
        commit = table._write_commit(
            "FSCK", {"numRemovedFiles": len(missing)}, [], list(missing),
            base_version=snap.version,
        )
        report["version"] = commit.version
    return report


def vacuum_log(table: GraftTable, keep_versions: int = 100) -> dict[str, Any]:
    """Commit-log retention (Delta's logRetentionDuration shape, counted in
    versions): delete commit JSONs already folded into a checkpoint and
    older than ``latest - keep_versions``, plus superseded checkpoints.
    At one commit per micro-batch a 100 TB ingest table accrues log files
    without bound; replay cost is already O(checkpoint interval), this
    caps the FILE COUNT too.

    Safety: the newest checkpoint at/under the cutoff becomes the history
    floor — the checkpoint's own commit file is retained so
    ``snapshot(version=floor)`` still works; time travel BELOW the floor
    raises (same contract as Delta after log cleanup). Latest-snapshot
    reads, replay, and incremental consumers above the floor are
    unaffected.
    """
    versions = table._versions()
    if not versions:
        return {"removed_commits": 0, "removed_checkpoints": 0, "floor": None}
    cutoff = versions[-1] - keep_versions
    floor = None
    for cp in table._checkpoint_versions():
        if cp <= cutoff:
            floor = cp
    if floor is None:
        return {"removed_commits": 0, "removed_checkpoints": 0, "floor": None}
    removed_c = 0
    for v in versions:
        if v < floor:
            try:
                os.remove(os.path.join(table._log_path, f"{v:011d}.json"))
                removed_c += 1
            except OSError:
                pass
    removed_cp = 0
    for cp in table._checkpoint_versions():
        if cp < floor:
            removed_any = False
            for path in (table._checkpoint_path(cp),
                         table._checkpoint_path_pq(cp)):
                try:
                    os.remove(path)
                    removed_any = True
                except OSError:
                    pass
            removed_cp += int(removed_any)
    return {
        "removed_commits": removed_c,
        "removed_checkpoints": removed_cp,
        "floor": floor,
    }


def generate_manifest(table: GraftTable) -> dict[str, Any]:
    """``GENERATE symlink_format_manifest`` parity (the public Delta
    interop feature): write text manifests listing the ABSOLUTE paths of
    the current snapshot's active data files, so engines that only
    understand file listings (Presto/Trino/Athena's symlink input
    format) can query the table without reading our commit log.

    Layout mirrors Delta: ``_symlink_format_manifest/manifest`` for an
    unpartitioned table, ``_symlink_format_manifest/<k>=<v>/.../manifest``
    per partition otherwise. Stale entries from previous generations are
    removed (a partition that lost all its files must not keep serving an
    old manifest). Driver-side metadata work only — no Spark job.

    Refused when any active file carries a deletion vector: a symlink
    reader has no DV machinery and would resurrect deleted rows (same
    restriction as Delta; run ``reorg_purge`` first).
    """
    import shutil

    snap = table.snapshot()
    if any(f.dv_count for f in snap.files):
        raise ValueError(
            "generate_manifest: table has deletion vectors; external "
            "symlink readers would see deleted rows — run reorg_purge "
            "first (Delta imposes the same restriction)"
        )
    root = os.path.join(table.path, "_symlink_format_manifest")
    shutil.rmtree(root, ignore_errors=True)
    groups: dict[str, list[str]] = {}
    for f in snap.files:
        rel = ""
        if snap.partition_columns:
            rel = os.path.join(
                *(f"{c}={f.partition_values.get(c, '')}" for c in snap.partition_columns)
            )
        groups.setdefault(rel, []).append(os.path.join(table.path, f.path))
    for rel, paths in groups.items():
        d = os.path.join(root, rel) if rel else root
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, ".manifest.tmp")
        with open(tmp, "w") as fh:
            for p in sorted(paths):
                fh.write(f"file:{p}\n")
        os.replace(tmp, os.path.join(d, "manifest"))
    return {
        "manifest_root": root,
        "n_manifests": len(groups),
        "n_files": len(snap.files),
    }
