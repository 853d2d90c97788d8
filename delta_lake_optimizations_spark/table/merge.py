"""MERGE INTO (upsert) over GraftTable — copy-on-write, file-granular.

The reference workshop stops at DELETE/RESTORE, but MERGE is the fourth
verb of the Delta maintenance vocabulary its audience uses daily; any
"switch to this engine" story needs it (north-star completeness).

Semantics (Delta-style):
- ``when_matched_update``: matched target rows get the given column
  expressions (evaluated over target columns ``t.*`` and source columns
  exposed as ``s_<col>``); ``"*"`` means take all source columns.
- ``when_not_matched_insert``: unmatched source rows are appended
  (``"*"`` or an explicit column->expression map).
- ``when_matched_delete=True``: matched target rows are removed instead
  of updated.

Scale design: like DELETE (M9), only the files that CONTAIN matches are
rewritten — the touched-file set comes from one semi-join aggregation
over file provenance (``input_file_name``); untouched files carry over in
the commit unchanged. The source is joined once; join strategy is left to
AQE by default (runtime broadcast iff the source is actually small), with
``broadcast_source=True`` as an explicit dimension-table override.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.table.graft_table import (
    Commit,
    GraftTable,
    _refuse_if_append_only,
    expand_removes,
)
from delta_lake_optimizations_spark.table.maintenance import _hit_files


def merge(
    table: GraftTable,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, Any] | str | None = None,
    when_not_matched_insert: dict[str, Any] | str | None = "*",
    when_matched_delete: bool = False,
    broadcast_source: bool | None = None,
    extra_parameters: dict[str, Any] | None = None,
    null_safe_keys: bool = False,
) -> Commit:
    """Upsert ``source`` into ``table`` keyed on ``on`` columns.

    Source keys must be unique (Delta's own precondition): duplicate
    source keys would multiply matched target rows through the join.

    ``null_safe_keys=True`` compares keys with ``<=>`` (eqNullSafe), so a
    NULL key matches a NULL key — needed by callers whose key domain
    legitimately contains NULL (e.g. matviews over a nullable GROUP BY
    column); plain ``=`` would silently treat such rows as unmatched.

    ``broadcast_source``: None (default) lets AQE pick the join strategy —
    it broadcasts at runtime when the source's actual size is under
    ``spark.sql.autoBroadcastJoinThreshold``. Force with True only when
    you KNOW the source is dimension-sized; an unconditional broadcast of
    a large source (the 100 TB CDC story) would OOM the driver.
    """
    snap = table.snapshot()
    _refuse_if_append_only(snap.properties, "MERGE")
    if when_matched_delete and when_matched_update:
        raise ValueError("choose update OR delete for matched rows")

    target_cols = [f.name for f in snap.schema.fields] if snap.schema else None
    df = table._read_files(snap, snap.files, with_provenance=True)
    if target_cols is None:
        target_cols = [c for c in df.columns if c not in ("__prov_file", "__prov_idx")]

    src = source
    for c in on:
        if c not in src.columns:
            raise ValueError(f"merge key {c!r} missing from source")
    # prefix source columns so expressions can reference both sides;
    # __s_matched marks source presence robustly even when key columns
    # are NULL (s_<key> IS NOT NULL breaks under null-safe joins)
    src_pref = src.select(
        *[F.col(c).alias(f"s_{c}") for c in src.columns],
        F.lit(True).alias("__s_matched"),
    )
    if broadcast_source is True:
        src_pref = F.broadcast(src_pref)

    def _key_eq(a: str, b: str):
        return F.col(a).eqNullSafe(F.col(b)) if null_safe_keys else F.col(a) == F.col(b)

    join_cond = [_key_eq(c, f"s_{c}") for c in on]

    # 1. which target files contain matches? (file-granular copy-on-write)
    hits = (
        df.withColumnRenamed("__prov_file", "__f")
        .join(src_pref, join_cond, "left_semi")
        .select("__f")
        .distinct()
        .collect()
    )
    hit_files = _hit_files(table, snap, hits)

    out_parts: list[DataFrame] = []

    if hit_files:
        touched = table._read_files(snap, hit_files)
        joined = touched.join(src_pref, join_cond, "left")
        is_matched = F.col("__s_matched").isNotNull()

        if when_matched_delete:
            kept = joined.filter(~is_matched).select(*target_cols)
        else:
            upd = when_matched_update
            if upd == "*":
                upd = {c: F.col(f"s_{c}") for c in target_cols if c in src.columns}
            elif upd is None:
                upd = {}
            exprs = []
            for c in target_cols:
                if c in upd:
                    new_val = upd[c] if not isinstance(upd[c], str) else F.expr(upd[c])
                    exprs.append(F.when(is_matched, new_val).otherwise(F.col(c)).alias(c))
                else:
                    exprs.append(F.col(c))
            kept = joined.select(*exprs)
        out_parts.append(kept)

    # 2. unmatched source rows -> inserts
    inserts = None
    if when_not_matched_insert is not None:
        anti = src_pref.join(
            df.select(*[F.col(c) for c in on]),
            [_key_eq(f"s_{c}", c) for c in on],
            "left_anti",
        )
        ins = when_not_matched_insert
        if ins == "*":
            ins = {c: F.col(f"s_{c}") for c in target_cols if c in src.columns}
        cols = []
        for c in target_cols:
            if c in ins:
                v = ins[c] if not isinstance(ins[c], str) else F.expr(ins[c])
                cols.append(v.cast(df.schema[c].dataType).alias(c))
            else:
                cols.append(F.lit(None).cast(df.schema[c].dataType).alias(c))
        inserts = anti.select(*cols)
        out_parts.append(inserts)

    if not out_parts:
        return table._write_commit(
            "MERGE",
            {"numSourceRows": src.count(), **(extra_parameters or {})},
            [],
            [],
            base_version=snap.version,
        )

    new_data = out_parts[0]
    for p in out_parts[1:]:
        new_data = new_data.unionByName(p)

    rel_dir = table._new_data_dir(snap.version + 1)
    table._write_data(new_data, rel_dir, snap.partition_columns or None, snap.properties)
    adds = table._scan_written_files(rel_dir, snap.properties)

    return table._write_commit(
        "MERGE",
        {
            "mergeKeys": list(on),
            "numTargetFilesRewritten": len(hit_files),
            "matchedAction": "delete" if when_matched_delete else "update",
            **(extra_parameters or {}),
        },
        adds,
        expand_removes(snap, [f.path for f in hit_files], adds),
        base_version=snap.version,
    )
