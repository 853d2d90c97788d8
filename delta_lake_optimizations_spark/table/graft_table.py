"""GraftTable: a versioned Parquet table with a JSON commit log.

The native re-implementation of the reference's single data abstraction —
"a collection of Parquet files plus a transaction-log folder with JSON
commit files" (reference ``docs/00-overview.md:10``) — built directly on
vanilla PySpark + Parquet, since delta-spark is unavailable by design
(SURVEY.md §0).

Layout::

    <table_root>/
        _log/00000000000.json     # one JSON document per commit
        _log/00000000001.json
        data/v00000000000-<uuid>/part-*.parquet   # files of commit 0
        data/v00000000002-<uuid>/country=US/part-*.parquet  # partitioned

Commit document shape (same action vocabulary the Delta log uses —
add / remove / metadata — expressed as one JSON object per version)::

    {
      "version": 3,
      "timestamp_ms": 1755000000000,
      "operation": "OPTIMIZE",
      "operationParameters": {...},
      "metadata": {"schemaJson": ..., "partitionColumns": [...],
                    "properties": {...}},      # only when changed
      "add":    [{"path": "data/.../f.parquet", "size": 1234,
                   "numRecords": 100, "partitionValues": {...},
                   "stats": {"minValues": {...}, "maxValues": {...},
                              "nullCounts": {...}}}],
      "remove": ["data/.../old.parquet", ...]
    }

Concurrency: optimistic, exactly-one-winner-per-version. The atomic
publish primitive is pluggable (``table/logstore.py``): ``link(2)`` on
POSIX filesystems, conditional-put semantics for object stores (selected
via ``GRAFT_LOGSTORE``) — the same seam public Delta's LogStore provides,
because a 100 TB deployment's storage has no hard links. Log I/O
is driver-side, data I/O is Spark jobs; per-file stats come from parquet
footers (pyarrow, driver-side, no data scan), capped to the first 32
columns (the reference's own cap, docs/02-lab-optimizations.md:591).
"""

from __future__ import annotations

import bisect
import json
import math
import os
import time
import uuid
from dataclasses import dataclass, field
from datetime import date, datetime, timezone
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_optimizations_spark.table.bloom import BLOOM_COLUMNS_PROP
from delta_lake_optimizations_spark.table.logstore import log_store

_LOG_DIR = "_log"
_DATA_DIR = "data"
STATS_MAX_COLUMNS = 32  # reference docs/02-lab-optimizations.md:591

#: table property: parquet codec for every data write (snappy default)
COMPRESSION_PROP = "graft.parquet.compression"
#: table property capping how many leading columns get min/max footer
#: stats harvested into the log (Delta's delta.dataSkippingNumIndexedCols)
STATS_COLS_PROP = "graft.dataSkippingNumIndexedCols"
DEFAULT_RETENTION_HOURS = 168  # 7 days — reference README.md:63


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same version first (optimistic
    concurrency conflict)."""


CHECKPOINT_INTERVAL = 10  # write a full-snapshot checkpoint every N commits
                          # (Delta's own default cadence) so replay cost is
                          # O(interval), not O(total commits)

_CONSTRAINT_PREFIX = "constraint."
#: DLT-style expectations: ``graft.expect.<action>.<name> = <sql expr>``
#: with action in warn (keep rows, record violation count in the commit),
#: drop (filter violating rows out of the batch, record count), fail
#: (reject the write). Enforced per incoming batch at write time; unlike
#: CHECK constraints, existing data is never validated retroactively.
_EXPECT_PREFIX = "graft.expect."
_GENERATED_PREFIX = "graft.generated."
#: Identity columns (Delta's GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY):
#: ``graft.identity.<col> = "start=1,step=1,always=true"`` declares the
#: column; ``graft.identity.next.<col>`` is the transactional high-water
#: mark (the next value to allocate), updated by every allocating commit.
_IDENTITY_PREFIX = "graft.identity."
_IDENTITY_NEXT_PREFIX = "graft.identity.next."
#: Column DEFAULT values (Delta's ``allowColumnDefaults`` parity):
#: ``graft.default.<col> = <sql expr>`` — an append that OMITS the column
#: materializes the default at write time; an explicitly supplied NULL
#: stays NULL (SQL DEFAULT covers omitted columns, never value rewrites).
_DEFAULT_PREFIX = "graft.default."
#: Column mapping (Delta's columnMapping.mode=name parity): JSON dict
#: ``{logical_name: physical_name}`` holding only RENAMED columns. The
#: physical name — the name at column creation — is what parquet files and
#: footer stats carry forever; renames and drops are metadata-only commits,
#: never data rewrites (the 100 TB contract: ALTER TABLE is O(1)).
COLMAP_PROP = "graft.columnMapping"


def _colmap(props: dict[str, str]) -> dict[str, str]:
    raw = props.get(COLMAP_PROP, "")
    return json.loads(raw) if raw else {}


def _physical_schema(schema: T.StructType, colmap: dict[str, str]) -> T.StructType:
    """The on-disk schema: logical field names replaced by their physical
    (creation-time) names."""
    if not colmap:
        return schema
    return T.StructType(
        [
            T.StructField(colmap.get(f.name, f.name), f.dataType, f.nullable, f.metadata)
            for f in schema.fields
        ]
    )


def _identity_specs(props: dict[str, str]) -> dict[str, dict[str, Any]]:
    """Parse ``graft.identity.<col>`` declarations (excluding the
    ``graft.identity.next.`` high-water-mark subspace)."""
    out: dict[str, dict[str, Any]] = {}
    for k, v in props.items():
        if not k.startswith(_IDENTITY_PREFIX) or k.startswith(_IDENTITY_NEXT_PREFIX):
            continue
        col = k[len(_IDENTITY_PREFIX):]
        spec: dict[str, Any] = {"start": 1, "step": 1, "always": True}
        for item in str(v).split(","):
            kk, _, vv = item.strip().partition("=")
            if kk in ("start", "step"):
                spec[kk] = int(vv)
            elif kk == "always":
                spec["always"] = vv.strip().lower() != "false"
        if spec["step"] == 0:
            raise ValueError(f"identity column {col!r}: step must be nonzero")
        out[col] = spec
    return out


class ConstraintViolationError(ValueError):
    """A write contained rows violating a CHECK constraint."""


def _refuse_if_append_only(props: dict[str, str], verb: str) -> None:
    """delta.appendOnly parity: on a table marked append-only, every verb
    that could drop rows (overwrite, replaceWhere, DELETE, UPDATE, MERGE)
    is refused; plain appends pass."""
    if props.get("delta.appendOnly", "").lower() == "true":
        raise ConstraintViolationError(
            f"table is delta.appendOnly=true: {verb} refused"
        )


# ---------------------------------------------------------------------------
# Commit / snapshot model
# ---------------------------------------------------------------------------


@dataclass
class AddFile:
    path: str  # relative to table root
    size: int
    num_records: int  # physical rows in the parquet file
    partition_values: dict[str, str] = field(default_factory=dict)
    stats: dict[str, Any] = field(default_factory=dict)
    # Merge-on-read deletion vector (Delta DV semantics): ``dv_path`` is a
    # parquet directory of (file_path, row_index) rows marking this file's
    # deleted positions; ``dv_count`` is how many of num_records are dead.
    dv_path: str | None = None
    dv_count: int = 0

    @property
    def live_records(self) -> int:
        return self.num_records - self.dv_count

    def to_json(self) -> dict[str, Any]:
        doc = {
            "path": self.path,
            "size": self.size,
            "numRecords": self.num_records,
            "partitionValues": self.partition_values,
            "stats": self.stats,
        }
        if self.dv_path is not None:
            doc["deletionVector"] = {"path": self.dv_path, "count": self.dv_count}
        return doc

    @staticmethod
    def from_json(d: dict[str, Any]) -> "AddFile":
        dv = d.get("deletionVector")
        return AddFile(
            path=d["path"],
            size=d["size"],
            num_records=d["numRecords"],
            partition_values=d.get("partitionValues", {}),
            stats=d.get("stats", {}),
            dv_path=dv["path"] if dv else None,
            dv_count=dv["count"] if dv else 0,
        )


@dataclass
class Commit:
    version: int
    timestamp_ms: int
    operation: str
    operation_parameters: dict[str, Any]
    metadata: dict[str, Any] | None
    add: list[AddFile]
    remove: list[str]

    def to_json(self) -> dict[str, Any]:
        doc: dict[str, Any] = {
            "version": self.version,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "operationParameters": self.operation_parameters,
            "add": [a.to_json() for a in self.add],
            "remove": self.remove,
        }
        if self.metadata is not None:
            doc["metadata"] = self.metadata
        return doc

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Commit":
        return Commit(
            version=d["version"],
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            operation_parameters=d.get("operationParameters", {}),
            metadata=d.get("metadata"),
            add=[AddFile.from_json(a) for a in d.get("add", [])],
            remove=list(d.get("remove", [])),
        )


class Snapshot:
    """Table state at one version. Backed EITHER by a materialized
    ``list[AddFile]`` or by a pyarrow table (columnar checkpoints,
    ``table/checkpoint_arrow.py``) from which ``files`` materializes
    LAZILY — the 1M-file contract: metadata paths (count_rows, pruned
    load, files_scanned) never touch Python per file; only whole-table
    consumers (vacuum, optimize, describe) pay materialization."""

    def __init__(
        self,
        version: int,
        files: list[AddFile] | None = None,
        schema_json: str | None = None,
        partition_columns: list[str] | None = None,
        properties: dict[str, str] | None = None,
        files_arrow=None,
    ):
        if files is None and files_arrow is None:
            raise ValueError("Snapshot needs files or files_arrow")
        self.version = version
        self.schema_json = schema_json
        self.partition_columns = list(partition_columns or [])
        self.properties = dict(properties or {})
        self._files = files
        self._arrow = files_arrow

    @property
    def files(self) -> list[AddFile]:
        if self._files is None:
            from delta_lake_optimizations_spark.table import checkpoint_arrow

            self._files = checkpoint_arrow.addfiles_from_arrow(self._arrow)
        return self._files

    @property
    def files_arrow(self):
        """Columnar file list, or None when this snapshot was built
        row-wise (small tables / from-scratch replays)."""
        return self._arrow

    @property
    def num_files(self) -> int:
        if self._files is None:
            return self._arrow.num_rows
        return len(self._files)

    @property
    def schema(self) -> T.StructType | None:
        if self.schema_json is None:
            return None
        return T.StructType.fromJson(json.loads(self.schema_json))

    @property
    def size_bytes(self) -> int:
        if self._files is None:
            from delta_lake_optimizations_spark.table import checkpoint_arrow

            return checkpoint_arrow.sum_column(self._arrow, "size")
        return sum(f.size for f in self.files)

    @property
    def num_records(self) -> int:
        if self._files is None:
            from delta_lake_optimizations_spark.table import checkpoint_arrow

            return checkpoint_arrow.sum_column(
                self._arrow, "numRecords"
            ) - checkpoint_arrow.sum_column(self._arrow, "dvCount")
        return sum(f.live_records for f in self.files)


# ---------------------------------------------------------------------------
# Footer stats (driver-side, no Spark job)
# ---------------------------------------------------------------------------


def _json_safe(v: Any) -> Any:
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if isinstance(v, (datetime, date)):
        # date -> 'yyyy-MM-dd', datetime -> ISO; both sort lexicographically
        # consistently with their chronological order, so min/max skipping
        # keeps working on the string forms
        return v.isoformat()
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    return v


def collect_file_stats(
    abs_path: str, max_columns: int = STATS_MAX_COLUMNS
) -> tuple[int, dict[str, Any]]:
    """Read numRecords + per-column min/max/nullCount from the parquet footer.

    Footer-only I/O: O(KB) per file regardless of file size, so this scales
    to wide tables and huge files. Stats capped at ``max_columns`` (the
    reference's first-32-columns rule; per-table override via the
    ``graft.dataSkippingNumIndexedCols`` property).
    """
    md = pq.ParquetFile(abs_path).metadata
    num_records = md.num_rows
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    no_stats: set[str] = set()
    no_null_stats: set[str] = set()
    ncols = min(md.num_columns, max_columns)
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(ncols):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested/list leaf — not skippable
                continue
            st = col.statistics
            if st is None:
                no_stats.add(name)
                no_null_stats.add(name)
                continue
            # null counts are valid even for columns with no min/max (an
            # all-null column has a null_count but no min/max) — needed
            # for IS [NOT] NULL file skipping
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                no_null_stats.add(name)
            if not st.has_min_max:
                no_stats.add(name)
                continue
            try:
                mn, mx = _json_safe(st.min), _json_safe(st.max)
            except Exception:  # noqa: BLE001 — pyarrow can't decode min/max
                # for some physical types (e.g. DECIMAL in this build): the
                # column is simply not skippable, never a write failure
                no_stats.add(name)
                continue
            if mn is None or mx is None:
                no_stats.add(name)
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    for name in no_stats:  # any stats-less row group poisons the column
        mins[name] = None
        maxs[name] = None
    for name in no_null_stats:  # incomplete counts would claim false proofs
        nulls.pop(name, None)
    return num_records, {"minValues": mins, "maxValues": maxs, "nullCounts": nulls}


def dv_file_key(path: str) -> str:
    """The file identity deletion-vector rows are matched on: the last two
    path components (commit-dir/filename — globally unique thanks to the
    per-write UUIDs in both), so DVs keep matching when the table root
    moves or a shallow clone references the file absolutely."""
    return os.sep.join(path.rstrip(os.sep).split(os.sep)[-2:])


def dv_file_key_col(path: Column) -> Column:
    """``dv_file_key`` as a Column expression."""
    return F.substring_index(path, os.sep, -2)


# ---------------------------------------------------------------------------
# The table
# ---------------------------------------------------------------------------


class GraftTable:
    """Handle to a versioned table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        # single-slot snapshot cache keyed by resolved version: repeated
        # metadata ops on one handle (load + files_scanned + describe ...)
        # otherwise re-parse the newest checkpoint EVERY call — measured
        # 2.5 s per parse at a 100k-file head (bench metadata_scale).
        # One slot bounds memory; any new commit resolves to a new target
        # version and so misses the cache naturally. Snapshots are
        # treated as immutable by every caller (replays build fresh
        # lists) — do not mutate a cached snapshot's fields.
        self._snap_cache: tuple[int, Snapshot] | None = None

    # -- log primitives ----------------------------------------------------

    @property
    def _log_path(self) -> str:
        return os.path.join(self.path, _LOG_DIR)

    def exists(self) -> bool:
        return os.path.isdir(self._log_path) and bool(self._versions())

    def _versions(self) -> list[int]:
        if not os.path.isdir(self._log_path):
            return []
        out = []
        for f in os.listdir(self._log_path):
            if f.endswith(".json"):
                try:
                    out.append(int(f[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def _read_commit(self, version: int) -> Commit:
        text = log_store().read_text(
            os.path.join(self._log_path, f"{version:011d}.json")
        )
        return Commit.from_json(json.loads(text))

    def commits(self) -> list[Commit]:
        return [self._read_commit(v) for v in self._versions()]

    def latest_version(self) -> int:
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no GraftTable log at {self.path}")
        return versions[-1]

    def _write_commit(
        self,
        operation: str,
        parameters: dict[str, Any],
        add: list[AddFile],
        remove: list[str],
        metadata: dict[str, Any] | None = None,
        base_version: int | None = None,
        no_rebase: bool = False,
    ) -> Commit:
        """Append one commit to the log.

        ``base_version`` is the snapshot version the operation READ (-1 for
        a brand-new table). When given, the commit is attempted at exactly
        ``base_version + 1``, so a writer holding a stale snapshot (read v5
        while another writer landed v6) collides on the put-if-absent
        check (``table/logstore.py``).
        When omitted (None), falls back to latest+1 from a directory
        listing — that form only detects two writers racing the SAME
        version, so every snapshot-deriving caller should pass
        ``base_version``.

        On collision, Delta-style logical conflict resolution applies: a
        BLIND APPEND (no removed files, no metadata change — its add list
        is valid against ANY snapshot with the same schema) automatically
        REBASES onto the new head and retries, provided no intervening
        winner changed table metadata (schema/properties — the append's
        schema validation read those). Everything else (delete, merge,
        overwrite, optimize, restore, schema change) raises
        ``ConcurrentCommitError``: their add/remove lists were computed
        from the stale snapshot and must be re-derived. This is the
        many-writer 100 TB contract — ingest jobs appending to one table
        never fail each other, while conflicting rewrites stay exactly-one-
        winner.

        ``no_rebase=True`` opts a commit OUT of blind-append rebasing even
        when it would qualify: any concurrent winner raises
        ``ConcurrentCommitError`` so the caller can re-derive its add list
        against the new head. This is the hook for appends whose CONTENT
        depends on the snapshot they read even though their file list is
        mechanically rebase-safe — e.g. a dedup fingerprint store, where
        two concurrent batches could otherwise both admit the same new
        fingerprint (Delta's WriteSerializable -> Serializable distinction).
        """
        os.makedirs(self._log_path, exist_ok=True)
        if base_version is not None:
            version = base_version + 1
        else:
            versions = self._versions()
            version = (versions[-1] + 1) if versions else 0
        # a blind append's effect is independent of the snapshot it was
        # computed against (modulo metadata, checked per-winner below)
        rebaseable = (
            base_version is not None
            and not remove
            and metadata is None
            and not no_rebase
        )

        attempts = 0
        while True:
            commit = Commit(
                version=version,
                timestamp_ms=int(time.time() * 1000),
                operation=operation,
                operation_parameters=parameters,
                metadata=metadata,
                add=add,
                remove=remove,
            )
            final = os.path.join(self._log_path, f"{version:011d}.json")
            try:
                # put_if_absent raises FileExistsError if another writer
                # already committed this version — optimistic concurrency:
                # exactly one winner per version. The atomic primitive is
                # backend-pluggable (table/logstore.py): link(2) on POSIX,
                # conditional-put semantics for object stores.
                log_store().put_if_absent(final, json.dumps(commit.to_json()))
                break
            except FileExistsError:
                attempts += 1
                latest = self._versions()[-1]
                winners = [
                    self._read_commit(v) for v in range(version, latest + 1)
                ]
                conflicting = [
                    w for w in winners if w.metadata is not None
                ]
                if not rebaseable or conflicting or attempts > 20:
                    why = (
                        f"metadata changed by concurrent commit v{conflicting[0].version}"
                        if rebaseable and conflicting
                        else "operation depends on the snapshot it read"
                    )
                    raise ConcurrentCommitError(
                        f"version {version} already committed at {self.path} "
                        f"({why}) — reload the snapshot and retry"
                    ) from None
                version = latest + 1  # rebase the blind append and retry
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            self._write_checkpoint(version)
        return commit

    # -- checkpoints -------------------------------------------------------

    def _checkpoint_path(self, version: int) -> str:
        """Legacy (round<=10) JSON checkpoint path — still READ for
        tables written before the columnar format; never written."""
        return os.path.join(self._log_path, f"_checkpoint.{version:011d}.json")

    def _checkpoint_path_pq(self, version: int) -> str:
        """Columnar checkpoint (one parquet file = one snapshot,
        ``table/checkpoint_arrow.py``) — the only format written."""
        return os.path.join(
            self._log_path, f"_checkpoint.{version:011d}.parquet"
        )

    def _checkpoint_versions(self) -> list[int]:
        if not os.path.isdir(self._log_path):
            return []
        out = set()
        for f in os.listdir(self._log_path):
            for suffix in (".json", ".parquet"):
                if f.startswith("_checkpoint.") and f.endswith(suffix):
                    try:
                        out.add(int(f[len("_checkpoint."):-len(suffix)]))
                    except ValueError:
                        continue
        return sorted(out)

    def _write_checkpoint(self, version: int) -> None:
        """Persist the full snapshot state at ``version`` so later readers
        replay at most CHECKPOINT_INTERVAL commits.

        The replay is based on the newest existing checkpoint <= version
        (the same selection ``snapshot()`` makes), NOT from scratch: after
        ``vacuum_log`` purges commit JSONs below the checkpoint floor, a
        from-scratch replay would silently drop every file/schema recorded
        only in the purged commits and corrupt all later snapshots."""
        from delta_lake_optimizations_spark.table import checkpoint_arrow

        base = None
        for cp in self._checkpoint_versions():
            if cp <= version:
                base = cp
        snap = self._replay(version, from_version=base)
        # columnar-to-columnar is the steady state: the base arrow table
        # plus a vectorized tail — the one-time row-wise conversion
        # happens only when the base was a legacy JSON checkpoint (or
        # none existed yet)
        tbl = snap.files_arrow
        if tbl is None:
            tbl = checkpoint_arrow.arrow_from_addfiles(snap.files)
        final = self._checkpoint_path_pq(version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        checkpoint_arrow.write_checkpoint(
            tmp, version, tbl, snap.schema_json, snap.partition_columns,
            snap.properties,
        )
        os.replace(tmp, final)  # checkpoints are derived data: last wins

    def _load_checkpoint(self, version: int) -> Snapshot:
        pq_path = self._checkpoint_path_pq(version)
        if os.path.exists(pq_path):
            from delta_lake_optimizations_spark.table import checkpoint_arrow

            tbl, meta = checkpoint_arrow.read_checkpoint(pq_path)
            return Snapshot(
                version=meta["version"],
                files_arrow=tbl,
                schema_json=meta["schemaJson"],
                partition_columns=meta["partitionColumns"],
                properties=meta["properties"],
            )
        with open(self._checkpoint_path(version)) as fh:
            doc = json.load(fh)
        return Snapshot(
            version=doc["version"],
            files=[AddFile.from_json(f) for f in doc["files"]],
            schema_json=doc.get("schemaJson"),
            partition_columns=list(doc.get("partitionColumns", [])),
            properties=dict(doc.get("properties", {})),
        )

    # -- snapshot reconstruction ------------------------------------------

    def snapshot(self, version: int | None = None, timestamp: str | datetime | None = None) -> Snapshot:
        """Reconstruct the table state at the requested version (M7) or
        timestamp (M8): start from the newest checkpoint at/before the
        target, replay only the commits after it."""
        if timestamp is not None:
            version = self._version_at(timestamp)
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no GraftTable log at {self.path}")
        target = versions[-1] if version is None else version
        if target not in versions:
            raise ValueError(f"version {target} not in log (have {versions[0]}..{versions[-1]})")
        if self._snap_cache is not None and self._snap_cache[0] == target:
            return self._snap_cache[1]
        base = None
        for cp in self._checkpoint_versions():
            if cp <= target:
                base = cp
        snap = self._replay(target, from_version=base)
        self._snap_cache = (target, snap)
        return snap

    def _replay(self, target: int, from_version: int | None) -> Snapshot:
        """Replay commits ``(from_version, target]`` on top of the
        checkpoint at ``from_version`` (or from scratch when None).

        A columnar base (parquet checkpoint) stays columnar: the tail —
        at most CHECKPOINT_INTERVAL commits — is applied as one
        vectorized filter+concat (``checkpoint_arrow.apply_tail``), so
        replay cost never goes per-row over the head's file count."""
        base: Snapshot | None = None
        if from_version is not None:
            base = self._load_checkpoint(from_version)
            schema_json = base.schema_json
            partition_columns = list(base.partition_columns)
            properties = dict(base.properties)
            start = from_version + 1
        else:
            schema_json: str | None = None
            partition_columns: list[str] = []
            properties: dict[str, str] = {}
            start = 0
        tail: list[Commit] = []
        for v in self._versions():
            if v < start:
                continue
            if v > target:
                break
            c = self._read_commit(v)
            tail.append(c)
            if c.metadata:
                if "schemaJson" in c.metadata:
                    schema_json = c.metadata["schemaJson"]
                if "partitionColumns" in c.metadata:
                    partition_columns = list(c.metadata["partitionColumns"])
                if "properties" in c.metadata:
                    properties = dict(c.metadata["properties"])
        if base is not None and base.files_arrow is not None:
            from delta_lake_optimizations_spark.table import checkpoint_arrow

            tbl = base.files_arrow
            if tail:
                tbl = checkpoint_arrow.apply_tail(tbl, tail)
            return Snapshot(
                version=target,
                files_arrow=tbl,
                schema_json=schema_json,
                partition_columns=partition_columns,
                properties=properties,
            )
        files: dict[str, AddFile] = (
            {f.path: f for f in base.files} if base is not None else {}
        )
        for c in tail:
            for r in c.remove:
                files.pop(r, None)
            for a in c.add:
                files[a.path] = a
        return Snapshot(
            version=target,
            files=sorted(files.values(), key=lambda a: a.path),
            schema_json=schema_json,
            partition_columns=partition_columns,
            properties=properties,
        )

    def _version_at(self, timestamp: str | datetime) -> int:
        if isinstance(timestamp, str):
            ts = datetime.fromisoformat(timestamp)
        else:
            ts = timestamp
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        ts_ms = int(ts.timestamp() * 1000)
        best = None
        for c in self.commits():
            if c.timestamp_ms <= ts_ms:
                best = c.version
        if best is None:
            raise ValueError(f"no version at or before {timestamp}")
        return best

    # -- write paths -------------------------------------------------------

    def _new_data_dir(self, version_hint: int) -> str:
        rel = os.path.join(_DATA_DIR, f"v{version_hint:011d}-{uuid.uuid4().hex[:8]}")
        os.makedirs(os.path.join(self.path, rel), exist_ok=True)
        return rel

    def _write_data(
        self,
        df: DataFrame,
        rel_dir: str,
        partition_by: list[str] | None,
        props: dict[str, str] | None,
    ) -> None:
        """Parquet write honoring the table-level codec property
        (``graft.parquet.compression``, e.g. 'zstd' for colder, denser
        tables; parquet records the codec per file, so a codec change
        never requires rewriting history).

        Single write-side column-mapping choke point: every caller hands a
        LOGICAL-named frame; renamed columns are written under their
        PHYSICAL names so all files of all commits agree on disk.

        ``graft.optimizeWrite`` (Delta's optimized-write parity, on
        partitioned tables): shuffle by the partition columns before the
        write, so each hive partition is produced by one task — one file
        per partition per write instead of (tasks x partitions) small
        files. One extra shuffle at write time buys every later scan a
        compact layout; the small-file problem the reference lab
        demonstrates (docs/02-lab-optimizations.md:70) never forms."""
        if (
            partition_by
            and (props or {}).get("graft.optimizeWrite", "").lower() == "true"
        ):
            df = df.repartition(*partition_by)
        cmap = _colmap(props or {})
        if cmap:
            df = df.select(
                *[F.col(c).alias(cmap.get(c, c)) for c in df.columns]
            )
            if partition_by:
                partition_by = [cmap.get(c, c) for c in partition_by]
        writer = df.write.mode("overwrite")
        codec = (props or {}).get(COMPRESSION_PROP)
        if codec:
            writer = writer.option("compression", codec)
        # cap rows per output file (Spark splits a task's output into
        # multiple files) — bounds file size without a repartition
        mrpf = (props or {}).get("graft.maxRecordsPerFile")
        if mrpf:
            writer = writer.option("maxRecordsPerFile", int(mrpf))
        # parquet row-group size (bytes): small row groups + clustered data
        # give tight per-row-group min/max, so pushed IN/range predicates
        # prune at row-group granularity INSIDE files (the sharded LSH
        # index relies on this to keep file counts modest while probe IO
        # stays O(probed buckets))
        blk = (props or {}).get("graft.parquet.blockSize")
        if blk:
            writer = writer.option("parquet.block.size", int(blk))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.path, rel_dir))

    def _scan_written_files(
        self, rel_dir: str, props: dict[str, str] | None = None
    ) -> list[AddFile]:
        """Walk a freshly written data dir, harvesting footer stats and
        hive-style partition values from the path. ``props`` (or, when
        omitted, the current snapshot's properties) may cap the indexed
        column count via ``graft.dataSkippingNumIndexedCols``."""
        if props is None:
            props = self.snapshot().properties if self.exists() else {}
        max_cols = int(props.get(STATS_COLS_PROP, STATS_MAX_COLUMNS))
        adds: list[AddFile] = []
        root = os.path.join(self.path, rel_dir)
        for dirpath, _dirnames, filenames in os.walk(root):
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                abs_f = os.path.join(dirpath, fn)
                rel_f = os.path.relpath(abs_f, self.path)
                pvals: dict[str, str] = {}
                for part in os.path.relpath(dirpath, root).split(os.sep):
                    if "=" in part:
                        k, _, val = part.partition("=")
                        pvals[k] = val
                n, stats = collect_file_stats(abs_f, max_cols)
                adds.append(
                    AddFile(
                        path=rel_f,
                        size=os.path.getsize(abs_f),
                        num_records=n,
                        partition_values=pvals,
                        stats=stats,
                    )
                )
        return sorted(adds, key=lambda a: a.path)

    def _assign_identity(
        self, df: DataFrame, col: str, next_val: int, step: int
    ) -> tuple[DataFrame, int, DataFrame]:
        """Allocate identity values for ``col`` distributedly: unique,
        monotonically increasing within the write, gaps allowed (Delta's
        identity contract — contiguity is NOT promised across partitions).

        Two passes over a pinned (persisted) frame: a per-partition count
        job (driver collects one row per partition — metadata, not data),
        then value = next + step * (partition_prefix_offset + local_row_idx)
        where the local index is the low 33 bits of
        ``monotonically_increasing_id`` (documented: record number within
        the partition). The broadcast offset join is narrow, so partition
        contents — and hence local indices — match the counting pass.
        Returns (df_with_ids, new_next_value, pinned_frame_to_unpersist);
        the caller unpersists AFTER the data write consumes the frame.
        """
        tagged = df.select(F.spark_partition_id().alias("__gid_pid"), "*").persist()
        counts = sorted(
            (r["__gid_pid"], r["cnt"])
            for r in tagged.groupBy("__gid_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
        )
        total = sum(c for _, c in counts)
        offsets, acc = [], 0
        for p, c in counts:
            offsets.append((p, acc))
            acc += c
        off = self.spark.createDataFrame(
            offsets or [(0, 0)], schema="__gid_pid INT, __gid_off BIGINT"
        )
        local = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
        out = (
            tagged.join(F.broadcast(off), "__gid_pid")
            .withColumn(
                col,
                (F.lit(next_val) + F.lit(step) * (F.col("__gid_off") + local)).cast("long"),
            )
            .drop("__gid_pid", "__gid_off")
        )
        return out, next_val + step * total, tagged

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        overwrite_schema: bool = False,
        merge_schema: bool = False,
        extra_parameters: dict[str, Any] | None = None,
        replace_where: list[tuple[str, str, Any]] | None = None,
        serializable: bool = False,
        expected_version: int | None = None,
    ) -> Commit:
        """Write data as a new commit.

        ``serializable`` (appends only): opt out of blind-append rebasing —
        if ANY commit landed after the snapshot this write read, raise
        ``ConcurrentCommitError`` instead of rebasing, so the caller can
        re-derive the rows against the new head. Use when the written
        CONTENT was computed from the snapshot (e.g. an anti-join against
        the table itself); plain data appends should keep the default
        (Delta's WriteSerializable), which never fails ingest jobs against
        each other. Pair it with ``expected_version`` — the version the
        caller DERIVED its rows from: if the head has already moved past
        it by the time write() starts, the commit raises up front (the
        put-if-absent race inside ``_write_commit`` only guards the window after
        this method reads the snapshot, not the caller's earlier read).

        ``replace_where`` (with mode='overwrite'): Delta's ``replaceWhere``
        — atomically replace ONLY the rows matching the conjunctive
        predicates ``(col, op, value)`` with the incoming data; everything
        else is untouched. Files whose partition values prove every row
        matches are dropped whole (zero read amplification — the common
        partition-scoped case); files that MAY mix matching and
        non-matching rows are rewritten keeping their non-matching rows;
        provably-unaffected files carry over by reference. Incoming rows
        outside the predicate are rejected (Delta's default check).

        ``mode``: 'overwrite' (reference S2: new snapshot replaces all
        files; schema replacement mirrors ``overwriteSchema``,
        docs/02-lab-optimizations.md:73), 'append', or 'error'.

        ``merge_schema``: Delta's ``mergeSchema`` evolution — the committed
        schema becomes base-columns-then-new-columns; files written before
        a column existed null-fill it at read time (the parquet scan gets
        the snapshot schema, so this is read-side, no rewrite). Same-named
        columns with different types still error: type changes must go
        through ``overwrite_schema``, which has a defined replace policy.
        """
        existed = self.exists()
        base = self.snapshot() if existed else None
        if expected_version is not None and (
            base is None or base.version != expected_version
        ):
            raise ConcurrentCommitError(
                f"table at {self.path} moved past expected version "
                f"{expected_version} (head is "
                f"{base.version if base is not None else 'absent'}) — "
                "re-derive against the new head and retry"
            )
        if mode == "error" and existed:
            raise FileExistsError(f"table exists at {self.path}")
        if base is not None and (mode != "append" or replace_where is not None):
            _refuse_if_append_only(
                base.properties, mode if replace_where is None else "replaceWhere"
            )

        merged_props = dict(base.properties) if base is not None else {}
        if properties:
            merged_props.update(properties)

        # Generated columns (Delta GENERATED ALWAYS AS parity, property
        # ``graft.generated.<col> = <sql expr>``): a missing generated
        # column is COMPUTED from the expression at write time (the
        # common case: a ``to_date(ts)`` partition column the writer
        # shouldn't have to supply — computed BEFORE the append schema
        # check so such writes validate cleanly); a supplied one is
        # VALIDATED — any row where the supplied value <=> expr fails
        # rejects the whole write, so the column can never silently
        # diverge from its definition (which would poison partition
        # pruning on it).
        for key, gen_expr in sorted(merged_props.items()):
            if not key.startswith(_GENERATED_PREFIX):
                continue
            gcol = key[len(_GENERATED_PREFIX):]
            if gcol not in df.columns:
                df = df.withColumn(gcol, F.expr(gen_expr))
            else:
                bad = df.filter(~F.col(gcol).eqNullSafe(F.expr(gen_expr))).count()
                if bad:
                    raise ConstraintViolationError(
                        f"{bad} row(s) violate generated-column definition "
                        f"{gcol!r} = {gen_expr}"
                    )

        # Column DEFAULT values (Delta allowColumnDefaults parity): fill
        # columns the appending frame omitted from their declared default
        # expression, cast to the declared type — one narrow projection,
        # evaluated inside the write scan (no shuffle, no driver data).
        # Runs BEFORE the append schema check so such appends validate
        # cleanly, and only for columns in the base schema (a default on a
        # column that no longer exists is inert metadata).
        if mode == "append" and base is not None and base.schema is not None:
            base_types = {f.name: f.dataType for f in base.schema.fields}
            filled = False
            for key, dexpr in sorted(merged_props.items()):
                if not key.startswith(_DEFAULT_PREFIX):
                    continue
                dcol = key[len(_DEFAULT_PREFIX):]
                if dcol in df.columns or dcol not in base_types:
                    continue
                df = df.withColumn(dcol, F.expr(dexpr).cast(base_types[dcol]))
                filled = True
            if filled and {f.name for f in base.schema.fields} == set(df.columns):
                df = df.select(*[f.name for f in base.schema.fields])

        # Identity columns (Delta GENERATED AS IDENTITY parity): a missing
        # identity column is ALLOCATED distributedly from the transactional
        # high-water mark; a supplied one is rejected under ALWAYS and — under
        # BY DEFAULT — syncs the high-water mark from the written files'
        # footer stats (no extra scan). Allocation advances
        # ``graft.identity.next.<col>``, so identity appends always commit
        # metadata: concurrent allocators conflict instead of double-
        # allocating (the correct serialization for a monotonic counter).
        identity_specs = _identity_specs(merged_props)
        identity_updates: dict[str, str] = {}
        identity_supplied: list[tuple[str, dict[str, Any], int]] = []
        to_unpersist: list[DataFrame] = []
        for id_col, spec in sorted(identity_specs.items()):
            next_key = _IDENTITY_NEXT_PREFIX + id_col
            next_val = int(merged_props.get(next_key, spec["start"]))
            if id_col in df.columns:
                if spec["always"]:
                    # an EMPTY frame supplies no values — a table-creation
                    # write (CREATE TABLE ... GENERATED ALWAYS AS IDENTITY)
                    # is a pure schema declaration, and an empty overwrite
                    # of an existing table (TRUNCATE TABLE) must also pass
                    if df.isEmpty():
                        continue
                    raise ConstraintViolationError(
                        f"column {id_col!r} is GENERATED ALWAYS AS IDENTITY — "
                        "values may not be supplied (declare always=false for "
                        "BY DEFAULT semantics)"
                    )
                identity_supplied.append((id_col, spec, next_val))
            else:
                df, new_next, pinned = self._assign_identity(
                    df, id_col, next_val, spec["step"]
                )
                to_unpersist.append(pinned)
                identity_updates[next_key] = str(new_next)
                # keep append signatures stable: place columns in the base
                # schema's order when the names already agree
                if (
                    base is not None
                    and base.schema is not None
                    and {f.name for f in base.schema.fields} == set(df.columns)
                ):
                    df = df.select(*[f.name for f in base.schema.fields])
        if identity_updates:
            merged_props.update(identity_updates)

        # Everything from here through the data write can raise (append
        # schema mismatch, CHECK constraint, replaceWhere rejection, the
        # write itself) — the finally releases the identity allocation's
        # pinned frames on every path, not just success (ADVICE r03).
        try:
            if merge_schema and base is not None and base.schema is not None:
                # Align the batch to the evolved types: a column the batch
                # carries NARROWER than the table upcasts here (safe, no
                # schema change); widened columns already match the batch.
                # The commit step evolves the committed schema the same way.
                evolved_schema = _merge_schemas(
                    base.schema, df.schema, widen=_type_widening(merged_props)
                )
                evolved_types = {f.name: f.dataType for f in evolved_schema.fields}
                for f in df.schema.fields:
                    if f.name in evolved_types and f.dataType != evolved_types[f.name]:
                        df = df.withColumn(
                            f.name, F.col(f.name).cast(evolved_types[f.name])
                        )
            if base is not None and (mode == "append" or replace_where is not None):
                if partition_by is None:
                    partition_by = base.partition_columns
                if base.schema is not None and not overwrite_schema and not merge_schema:
                    # type changes must go through the explicit
                    # overwrite_schema path
                    mismatch = _signature_mismatch(base.schema, df.schema)
                    if mismatch:
                        verb = "append" if replace_where is None else "replaceWhere write"
                        raise ValueError(
                            f"schema mismatch on {verb} (pass merge_schema=True to add "
                            "columns or overwrite_schema=True to replace the schema): "
                            + mismatch
                        )

            # CHECK-constraint enforcement (schema-on-write ACID guarantee,
            # Delta's ALTER TABLE ADD CONSTRAINT semantics) + DLT-style
            # expectations (warn/drop/fail, ``add_expectation``). ALL rules
            # are counted in ONE aggregate pass over the batch — rule count
            # never multiplies the number of scans (at 100 TB a per-rule
            # ``.count()`` would re-read the batch N times). NULL semantics
            # differ by rule kind: a CHECK whose expression is NULL passes
            # (SQL CHECK), an expectation whose expression is NULL fails
            # (DLT — a quality gate that can't prove the row is good
            # shouldn't pass it).
            rules: list[tuple[str, str, str]] = []  # (kind, name, expr)
            for key, expr_text in sorted(merged_props.items()):
                if key.startswith(_CONSTRAINT_PREFIX):
                    rules.append(
                        ("constraint", key[len(_CONSTRAINT_PREFIX):], expr_text)
                    )
                elif key.startswith(_EXPECT_PREFIX):
                    action, _, ename = key[len(_EXPECT_PREFIX):].partition(".")
                    rules.append((action, ename, expr_text))
            expectation_metrics: dict[str, dict[str, Any]] = {}
            if rules:
                aggs = []
                for i, (kind, _name, expr_text) in enumerate(rules):
                    passes = F.expr(expr_text)
                    viol = (
                        F.coalesce(~passes, F.lit(False))
                        if kind == "constraint"
                        else ~F.coalesce(passes, F.lit(False))
                    )
                    aggs.append(F.sum(viol.cast("long")).alias(f"_r{i}"))
                counts = df.agg(*aggs).first()
                for i, (kind, name, expr_text) in enumerate(rules):
                    bad = int(counts[f"_r{i}"] or 0)
                    if kind == "constraint":
                        if bad:
                            raise ConstraintViolationError(
                                f"{bad} row(s) violate CHECK constraint "
                                f"{name!r}: {expr_text}"
                            )
                    elif kind == "fail":
                        if bad:
                            raise ConstraintViolationError(
                                f"{bad} row(s) violate expectation {name!r} "
                                f"(expect_or_fail): {expr_text}"
                            )
                    else:
                        expectation_metrics[name] = {
                            "action": kind, "violations": bad,
                        }
                        if kind == "drop" and bad:
                            df = df.filter(
                                F.coalesce(F.expr(expr_text), F.lit(False))
                            )

            rw_targets: list[AddFile] = []
            if replace_where is not None:
                if mode != "overwrite":
                    raise ValueError("replace_where requires mode='overwrite'")
                cond = None
                for c, op_, v in replace_where:
                    e = _op_expr(c, op_, v)
                    cond = e if cond is None else (cond & e)
                # NULL-safe: a row where the predicate evaluates to NULL (e.g.
                # NULL in the predicate column) is NOT inside the predicate —
                # plain ~cond would be NULL and let it slip past rejection.
                bad = df.filter(~F.coalesce(cond, F.lit(False))).count()
                if bad:
                    raise ConstraintViolationError(
                        f"{bad} incoming row(s) fall outside the replaceWhere "
                        f"predicate {replace_where}"
                    )
                if base is not None:
                    cmap = _colmap(merged_props)
                    phys_preds = [(cmap.get(c, c), o, v) for c, o, v in replace_where]
                    phys_parts = [cmap.get(c, c) for c in base.partition_columns]
                    rw_targets = [
                        f for f in base.files if _file_may_match(f, phys_preds, phys_parts)
                    ]
                    # whole-file drop is only claimed when partition values
                    # PROVE every row matches (the partition-aligned case);
                    # ambiguous files are rewritten keeping non-matching rows
                    full_paths = {
                        f.path
                        for f in rw_targets
                        if all(
                            c in phys_parts and f.partition_values.get(c) == str(v)
                            for c, o, v in phys_preds
                            if o == "="
                        )
                        and all(o == "=" and c in phys_parts for c, o, v in phys_preds)
                    }
                    partial = [f for f in rw_targets if f.path not in full_paths]
                    if partial:
                        # Keep every row the predicate does NOT match, including
                        # NULL-predicate rows (Delta preserves them; plain ~cond
                        # is NULL for them and would silently drop data).
                        survivors = self._read_files(base, partial).filter(
                            ~F.coalesce(cond, F.lit(False))
                        )
                        df = df.unionByName(survivors)

            # Write-time clustering (liquid-clustering-on-write shape): when the
            # table declares a clustering key, sort each task's output by it
            # before writing — map-side only, no shuffle — so min/max footer
            # stats are selective on fresh appends even before the next
            # OPTIMIZE re-clusters globally. Maintenance rewrites don't pass
            # through here (they call _write_data directly), so a Z-order
            # layout is never accidentally re-sorted.
            cluster_prop = merged_props.get("graft.cluster.by", "")
            if cluster_prop:
                ccols = [c.strip() for c in cluster_prop.split(",") if c.strip()]
                if ccols and all(c in df.columns for c in ccols):
                    df = df.sortWithinPartitions(*ccols)

            version_hint = (base.version + 1) if base is not None else 0
            rel_dir = self._new_data_dir(version_hint)
            self._write_data(df, rel_dir, partition_by, merged_props)
            adds = self._scan_written_files(rel_dir, merged_props)
        finally:
            for pinned in to_unpersist:
                pinned.unpersist()
        # BY DEFAULT identity with caller-supplied values: advance the
        # high-water mark past the written max (footer stats — no scan), so
        # later allocations can never collide with explicit values.
        for id_col, spec, next_val in identity_supplied:
            observed: list[int] = []
            for a in adds:
                key = "maxValues" if spec["step"] > 0 else "minValues"
                v = (a.stats or {}).get(key, {}).get(id_col)
                if v is not None:
                    observed.append(int(v))
            if not observed and adds:
                # stats cap may exclude the column on wide tables — fall
                # back to one aggregate job over the incoming frame
                agg = F.max(id_col) if spec["step"] > 0 else F.min(id_col)
                v = df.agg(agg).first()[0]
                if v is not None:
                    observed.append(int(v))
            if observed:
                edge = max(observed) if spec["step"] > 0 else min(observed)
                candidate = edge + spec["step"]
                new_next = (
                    max(next_val, candidate) if spec["step"] > 0 else min(next_val, candidate)
                )
                if new_next != next_val:
                    identity_updates[_IDENTITY_NEXT_PREFIX + id_col] = str(new_next)
                    merged_props[_IDENTITY_NEXT_PREFIX + id_col] = str(new_next)

        params: dict[str, Any] = {}
        if replace_where is not None and base is not None:
            params["replaceWhere"] = [[c, o, _json_safe(v)] for c, o, v in replace_where]
        params.update(extra_parameters or {})
        if expectation_metrics:
            # DLT-parity observability: per-expectation violation counts
            # land in the commit's operationParameters — DESCRIBE HISTORY
            # is the quality dashboard, no side channel to query
            params["expectations"] = expectation_metrics
        commit = self._commit_write(
            base,
            adds,
            df.schema,
            mode,
            partition_by,
            {**(properties or {}), **identity_updates},
            params,
            merge_schema=merge_schema,
            overwrite_schema=overwrite_schema,
            replaced=rw_targets if replace_where is not None else None,
            serializable=serializable,
        )
        # T1 parity: "statistics collected automatically at write time"
        # (reference docs/02-lab-optimizations.md:591-596). Precedence
        # mirrors the lab exactly: the per-table property (:617-628,
        # "It overrides session configs") wins when SET — either way —
        # else the session conf (:605-610) decides, else off.
        if self._extended_stats_enabled(
            merged_props, "delta.stats.extended.collect",
            "spark.microsoft.delta.stats.collect.extended",
        ):
            from delta_lake_optimizations_spark.stats import StatisticsStore

            StatisticsStore(self).collect()
        # Bloom sidecar auto-build (graft.bloom.columns property): index
        # the freshly written files for point-lookup file skipping. The
        # build is incremental — already-indexed files are untouched.
        bloom_cols = merged_props.get(BLOOM_COLUMNS_PROP, "")
        if bloom_cols:
            from delta_lake_optimizations_spark.table.bloom import bloom_build

            bloom_build(self, [c.strip() for c in bloom_cols.split(",") if c.strip()])
        # Auto-compaction (Delta's delta.autoOptimize.autoCompact): after a
        # write lands, if the table has accumulated enough small files,
        # immediately bin-pack them. The OPTIMIZE is its own commit, so the
        # write above is already durable; a steady stream of small appends
        # (e.g. the streaming sink) self-heals instead of degrading scans.
        if merged_props.get("delta.autoOptimize.autoCompact") == "true":
            self._maybe_auto_compact(merged_props)
        return commit

    def _commit_write(
        self,
        base: Snapshot | None,
        adds: list[AddFile],
        schema: T.StructType,
        mode: str,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        parameters: dict[str, Any] | None = None,
        merge_schema: bool = False,
        overwrite_schema: bool = False,
        replaced: list[AddFile] | None = None,
        serializable: bool = False,
    ) -> Commit:
        """Commit written files: the one step that turns a write into a
        table commit, shared by ``write`` and the ``graft`` data source's
        writer. Spark-free — it reads only the log and the AddFiles.

        ``base`` is the snapshot the write read (None for a new table),
        ``schema`` the written schema, ``mode`` 'append' or an overwrite;
        ``replaced`` narrows an overwrite to the files a replaceWhere
        replaces (default: every base file). ``properties`` are property
        updates and ``parameters`` extra operationParameters.

        Table properties carry over from ``base`` (Delta preserves
        constraints, autoCompact and stats flags across a plain
        overwrite — only data and schema are replaced). A plain append
        that changes NO table state (same name/type signature, same
        partitioning, same properties) commits metadata=None: replay
        carries the previous declaration forward, and the commit is a
        BLIND append that rebases past concurrent non-metadata commits
        (``_write_commit``) unless ``serializable``."""
        props = dict(base.properties) if base is not None else {}
        props.update(properties or {})
        if merge_schema and base is not None and base.schema is not None:
            schema = _merge_schemas(base.schema, schema, widen=_type_widening(props))
        if base is None:
            remove: list[str] = []
            operation, params = "CREATE TABLE AS SELECT", {"mode": "ErrorIfExists"}
        elif mode == "append":
            remove = []
            operation, params = "WRITE", {"mode": "Append"}
        else:
            gone = base.files if replaced is None else replaced
            remove = expand_removes(base, [f.path for f in gone], adds)
            operation, params = "WRITE", {"mode": "Overwrite"}
        params.update(parameters or {})
        metadata: dict[str, Any] | None = {
            "schemaJson": json.dumps(schema.jsonValue()),
            "partitionColumns": partition_by or [],
            "properties": props,
        }
        if (
            mode == "append"
            and base is not None
            and base.schema is not None
            and not overwrite_schema
            and not merge_schema
            and _signature_mismatch(base.schema, schema) is None
            and (partition_by or []) == list(base.partition_columns)
            and props == base.properties
        ):
            metadata = None
        return self._write_commit(
            operation, params, adds, remove, metadata,
            base_version=base.version if base is not None else -1,
            no_rebase=serializable,
        )

    def _extended_stats_enabled(
        self, props: dict[str, str], table_prop: str, session_conf: str
    ) -> bool:
        """Extended-stats opt-in with the reference's precedence: table
        property (SET either way) > session conf > off
        (docs/02-lab-optimizations.md:605-628)."""
        prop = props.get(table_prop)
        if prop is not None:
            return prop.strip().lower() == "true"
        return (
            self.spark.conf.get(session_conf, "false") or "false"
        ).strip().lower() == "true"

    def _maybe_auto_compact(self, props: dict[str, str]) -> None:
        from delta_lake_optimizations_spark.table.maintenance import (
            DEFAULT_TARGET_FILE_MB,
            optimize,
        )

        min_files = int(props.get("delta.autoOptimize.minNumFiles", "10"))
        small_cutoff = DEFAULT_TARGET_FILE_MB * 1024 * 1024 // 4
        snap = self.snapshot()
        small = [f for f in snap.files if f.size < small_cutoff]
        if len(small) >= min_files:
            optimize(self)

    # -- read paths --------------------------------------------------------

    def _rel_path_expr(self, file_path_col):
        """Table-relative path from a ``_metadata.file_path`` URI (scheme
        and root prefix stripped; \\Q..\\E quotes regex metacharacters)."""
        root = os.path.abspath(self.path)
        return F.regexp_replace(file_path_col, "^.*\\Q" + root + os.sep + "\\E", "")

    def _apply_deletion_vectors(
        self, df: DataFrame, files: list[AddFile], with_provenance: bool
    ) -> DataFrame:
        """Anti-join out DV-marked row positions. ``df`` must carry the
        scan-bound ``__prov_file``/``__prov_idx`` columns (selected at the
        file scan, BEFORE any join, where ``_metadata`` is resolvable)."""
        dv_dirs = sorted({f.dv_path for f in files if f.dv_path})
        if dv_dirs:
            dv = self.spark.read.parquet(
                *[os.path.join(self.path, d) for d in dv_dirs]
            ).select(
                F.col("file_path").alias("__dv_file"),
                F.col("row_index").alias("__dv_idx"),
            )
            key = dv_file_key_col
            df = df.join(
                dv,
                (key(F.col("__prov_file")) == key(F.col("__dv_file")))
                & (F.col("__prov_idx") == F.col("__dv_idx")),
                "left_anti",
            )
        if not with_provenance:
            df = df.drop("__prov_file", "__prov_idx")
        return df

    def _read_files(
        self,
        snap: Snapshot,
        files: list[AddFile],
        with_provenance: bool = False,
        apply_dvs: bool = True,
    ) -> DataFrame:
        """DataFrame over ``files``, deletion vectors applied (merge-on-
        read). ``with_provenance=True`` keeps two scan-bound columns
        ``__prov_file`` (absolute file path/URI) and ``__prov_idx`` (row
        position in file) — DML verbs use these for file-granular
        copy-on-write and DV construction; they are join-safe, unlike
        ``input_file_name()``, because they are selected at the scan.

        ``apply_dvs=False`` reads the RAW file contents, ignoring deletion
        vectors — used by index builds (Bloom sidecars) that must cover
        every row that is visible at ANY version the immutable file can
        serve (a DV-filtered index would under-represent rows for
        time-travel/RESTORE reads — false-negative pruning)."""
        need_meta = with_provenance or (apply_dvs and any(f.dv_path for f in files))

        # Read-side column-mapping choke point: scan under PHYSICAL names
        # (what the parquet files carry), hand every caller LOGICAL names.
        cmap = _colmap(snap.properties)
        phys_to_logical = {p: l for l, p in cmap.items()}

        def to_logical(df: DataFrame) -> DataFrame:
            if not phys_to_logical:
                return df
            return df.select(
                *[F.col(c).alias(phys_to_logical.get(c, c)) for c in df.columns]
            )

        def attach_meta(raw: DataFrame) -> DataFrame:
            if not need_meta:
                return raw
            return raw.select(
                F.col("_metadata.file_path").alias("__prov_file"),
                F.col("_metadata.row_index").alias("__prov_idx"),
                "*",
            )

        if not files:
            schema = snap.schema
            if schema is None:
                raise ValueError("empty table with no schema")
            df = self.spark.createDataFrame([], schema)
            if with_provenance:
                df = df.select(
                    F.lit(None).cast("string").alias("__prov_file"),
                    F.lit(None).cast("long").alias("__prov_idx"),
                    "*",
                )
            return df
        if not snap.partition_columns:
            reader = self.spark.read
            if snap.schema is not None:
                reader = reader.schema(_physical_schema(snap.schema, cmap))
            df = attach_meta(
                reader.parquet(*[os.path.join(self.path, f.path) for f in files])
            )
            if not apply_dvs:
                return to_logical(df)
            return to_logical(
                self._apply_deletion_vectors(df, files, with_provenance)
            )

        # Partitioned: hive partition values live in directory names UNDER
        # each commit dir (data/vNNN-uuid/country=US/...). Partition
        # discovery needs one basePath per commit dir — a snapshot can mix
        # files from several commits (e.g. after a partition-scoped
        # OPTIMIZE), so group by commit dir, scan each group with its own
        # basePath, and union. Group count is bounded by commit history
        # between compactions, not by data size.
        groups: dict[str, list[str]] = {}
        for f in files:
            abs_f = os.path.join(self.path, f.path)  # passthrough if absolute
            # basePath = ancestor above the hive partition dirs: strip the
            # filename, then every trailing `k=v` path component
            base = os.path.dirname(abs_f)
            while "=" in os.path.basename(base):
                base = os.path.dirname(base)
            groups.setdefault(base, []).append(abs_f)
        out: DataFrame | None = None
        for base in sorted(groups):
            reader = self.spark.read.option("basePath", base)
            if snap.schema is not None:
                # The full snapshot schema (partition columns included) so
                # commits that predate a merge_schema evolution null-fill
                # the newer columns instead of failing the group union.
                reader = reader.schema(_physical_schema(snap.schema, cmap))
            part_df = attach_meta(reader.parquet(*groups[base]))
            out = part_df if out is None else out.unionByName(part_df)
        if not apply_dvs:
            return to_logical(out)
        return to_logical(self._apply_deletion_vectors(out, files, with_provenance))

    def load(
        self,
        version: int | None = None,
        timestamp: str | datetime | None = None,
        skip_where: list[tuple[str, str, Any]] | None = None,
    ) -> DataFrame:
        """DataFrame over a snapshot (latest, VERSION AS OF, TIMESTAMP AS OF).

        ``skip_where``: conjunctive simple predicates ``(col, op, value)``
        (op in =, <, <=, >, >=) used for file-level skipping against the
        per-file min/max stats BEFORE Spark sees the file list — the
        engine's Delta-style data-skipping (SURVEY §4). The same predicate
        is re-applied as a DataFrame filter for exactness.
        """
        snap = self.snapshot(version=version, timestamp=timestamp)
        files = self._skip_files(snap, skip_where) if skip_where else snap.files
        df = self._read_files(snap, files)
        if skip_where:
            for col, op, value in skip_where:
                df = df.filter(_op_expr(col, op, value))
        return df

    def _stats_prune(
        self,
        snap: Snapshot,
        phys_preds: list[tuple[str, str, Any]],
        phys_parts: list[str],
    ) -> list[AddFile]:
        """Min/max + partition-value file skipping. On a columnar
        snapshot the predicates evaluate as vectorized arrow masks and
        only SURVIVING rows materialize into AddFile objects — the
        1M-file path never loops Python over the full head."""
        if snap.files_arrow is not None:
            from delta_lake_optimizations_spark.table import checkpoint_arrow

            pruned = checkpoint_arrow.prune_arrow(
                snap.files_arrow, phys_preds, phys_parts
            )
            return checkpoint_arrow.addfiles_from_arrow(pruned)
        return [
            f for f in snap.files if _file_may_match(f, phys_preds, phys_parts)
        ]

    def _skip_files(
        self, snap: Snapshot, skip_where: list[tuple[str, str, Any]]
    ) -> list[AddFile]:
        """The files of ``snap`` a scan with ``skip_where`` must read:
        min/max + partition-value skipping (``_stats_prune``), then
        Bloom-sidecar skipping for ``=`` predicates (table/bloom.py), which
        prunes what min/max can't: point lookups on high-cardinality
        columns with no clustered layout. Exactness is preserved because
        ``load`` re-applies the predicate as a DataFrame filter (false
        positives scan harmlessly; the sidecar has no false negatives)."""
        from delta_lake_optimizations_spark.table import bloom

        # footer stats / hive partition values are keyed by PHYSICAL
        # names; bloom sidecars and the exactness re-filter by LOGICAL
        cmap = _colmap(snap.properties)
        phys_preds = [(cmap.get(c, c), op, v) for c, op, v in skip_where]
        phys_parts = [cmap.get(c, c) for c in snap.partition_columns]
        files = self._stats_prune(snap, phys_preds, phys_parts)
        return bloom.bloom_prune(self, files, skip_where)

    def count_rows(
        self, version: int | None = None, timestamp: str | datetime | None = None
    ) -> int:
        """O(1) COUNT(*) from the commit log alone — sum of per-file live
        record counts (footer numRecords minus deletion-vector rows), no
        Spark job and no data I/O. The same metadata-only answer Delta
        serves for un-filtered counts."""
        snap = self.snapshot(version=version, timestamp=timestamp)
        return snap.num_records

    def files_scanned(self, skip_where: list[tuple[str, str, Any]] | None = None) -> int:
        """How many files a scan with the given predicate would read
        (the §5.3 layout-effect metric: assert on files read, not seconds)."""
        snap = self.snapshot()
        if skip_where:
            return len(self._skip_files(snap, skip_where))
        return snap.num_files

    # -- inspection (M6, M11, M12) ----------------------------------------

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY: one row per commit, newest first (M6)."""
        rows = [
            (
                c.version,
                datetime.fromtimestamp(c.timestamp_ms / 1000, tz=timezone.utc).replace(tzinfo=None),
                c.operation,
                json.dumps(c.operation_parameters),
                len(c.add),
                len(c.remove),
                sum(a.num_records for a in c.add),
                sum(a.size for a in c.add),
            )
            for c in reversed(self.commits())
        ]
        schema = T.StructType(
            [
                T.StructField("version", T.LongType()),
                T.StructField("timestamp", T.TimestampType()),
                T.StructField("operation", T.StringType()),
                T.StructField("operationParameters", T.StringType()),
                T.StructField("numAddedFiles", T.IntegerType()),
                T.StructField("numRemovedFiles", T.IntegerType()),
                # Delta operationMetrics parity: written rows/bytes per
                # commit, from the log alone (no data scan)
                T.StructField("numOutputRows", T.LongType()),
                T.StructField("numOutputBytes", T.LongType()),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def detail(self) -> DataFrame:
        """DESCRIBE DETAIL: numFiles, sizeInBytes, partitionColumns,... (M12)."""
        snap = self.snapshot()
        schema = T.StructType(
            [
                T.StructField("format", T.StringType()),
                T.StructField("location", T.StringType()),
                T.StructField("numFiles", T.LongType()),
                T.StructField("sizeInBytes", T.LongType()),
                T.StructField("numRecords", T.LongType()),
                T.StructField("partitionColumns", T.ArrayType(T.StringType())),
                T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
                T.StructField("version", T.LongType()),
            ]
        )
        row = (
            "graft-parquet",
            self.path,
            len(snap.files),
            snap.size_bytes,
            snap.num_records,
            snap.partition_columns,
            snap.properties,
            snap.version,
        )
        return self.spark.createDataFrame([row], schema)

    def describe_extended(self) -> DataFrame:
        """DESCRIBE EXTENDED: schema rows + table-property rows (M11)."""
        snap = self.snapshot()
        rows: list[tuple[str, str, str]] = []
        schema = snap.schema
        if schema is not None:
            for f_ in schema.fields:
                rows.append((f_.name, f_.dataType.simpleString(), ""))
        rows.append(("", "", ""))
        rows.append(("# Detailed Table Information", "", ""))
        rows.append(("Location", self.path, ""))
        rows.append(("PartitionColumns", ",".join(snap.partition_columns), ""))
        for k, v in sorted(snap.properties.items()):
            rows.append((f"prop:{k}", v, ""))
        out_schema = T.StructType(
            [
                T.StructField("col_name", T.StringType()),
                T.StructField("data_type", T.StringType()),
                T.StructField("comment", T.StringType()),
            ]
        )
        return self.spark.createDataFrame(rows, out_schema)

    def _column_referenced_by_props(self, props: dict[str, str], col: str) -> str | None:
        """First property that textually references ``col`` as an
        identifier — expressions can't be rewritten reliably, so schema
        changes on referenced columns are refused instead of silently
        breaking the referencing feature."""
        import re as _re

        word = _re.compile(rf"\b{_re.escape(col)}\b")
        for k, v in props.items():
            if k.startswith(
                (_CONSTRAINT_PREFIX, _GENERATED_PREFIX, _EXPECT_PREFIX)
            ) and word.search(v):
                return k
            if k.startswith(_GENERATED_PREFIX) and k[len(_GENERATED_PREFIX):] == col:
                return k
            if k.startswith(_IDENTITY_PREFIX) and k.split(".")[-1] == col:
                return k
            if k.startswith(_DEFAULT_PREFIX) and k[len(_DEFAULT_PREFIX):] == col:
                return k
        return None

    def set_column_default(self, col: str, sql_expr: str) -> Commit:
        """ALTER TABLE ... ALTER COLUMN ... SET DEFAULT (Delta
        ``allowColumnDefaults`` parity) — metadata-only commit recording
        ``graft.default.<col>``. Future appends that omit the column get
        the default computed at write time; rows already on disk are
        untouched (they null-fill at read, exactly Delta's semantics:
        defaults are never retroactive). The expression must be
        constant-foldable — it is validated here against a zero-column
        row, so it can neither reference columns nor fail later at an
        arbitrary writer's commit. Generated/identity columns have their
        own fill rules and are refused.
        """
        snap = self.snapshot()
        schema = snap.schema
        if schema is None or col not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {col!r}")
        props = dict(snap.properties)
        for pfx in (_GENERATED_PREFIX, _IDENTITY_PREFIX):
            if (pfx + col) in props:
                raise ValueError(
                    f"column {col!r} is generated/identity — it already has "
                    "a write-time fill rule; a DEFAULT cannot also apply"
                )
        dtype = next(f.dataType for f in schema.fields if f.name == col)
        try:  # constant-foldability gate: must evaluate with no input columns
            self.spark.range(1).drop("id").select(F.expr(sql_expr).cast(dtype)).collect()
        except Exception as exc:  # noqa: BLE001 — surface as a clear ValueError
            raise ValueError(
                f"DEFAULT for {col!r} must be a constant-foldable expression "
                f"castable to {dtype.simpleString()}: {sql_expr!r} ({exc})"
            ) from None
        props[_DEFAULT_PREFIX + col] = sql_expr
        metadata = {
            "schemaJson": json.dumps(schema.jsonValue()),
            "partitionColumns": snap.partition_columns,
            "properties": props,
        }
        return self._write_commit(
            "SET DEFAULT", {"column": col, "expression": sql_expr}, [], [], metadata,
            base_version=snap.version,
        )

    def drop_column_default(self, col: str) -> Commit:
        """ALTER TABLE ... ALTER COLUMN ... DROP DEFAULT — metadata-only;
        future appends that omit the column go back to null-filling."""
        snap = self.snapshot()
        props = dict(snap.properties)
        if props.pop(_DEFAULT_PREFIX + col, None) is None:
            raise ValueError(f"column {col!r} has no DEFAULT")
        metadata = {
            "schemaJson": json.dumps(snap.schema.jsonValue()),
            "partitionColumns": snap.partition_columns,
            "properties": props,
        }
        return self._write_commit(
            "DROP DEFAULT", {"column": col}, [], [], metadata,
            base_version=snap.version,
        )

    def widen_column_type(self, col: str, new_type: str | T.DataType) -> Commit:
        """ALTER TABLE ... ALTER COLUMN ... TYPE (Delta type widening,
        ``delta.enableTypeWidening`` gated) — metadata-only commit that
        promotes the column in the committed schema. No file is rewritten:
        historical parquet stays narrow on disk and the scan itself
        upcasts, which is why only the scan-native promotions in
        ``_is_widening`` (int upcasts, float->double, date->timestamp_ntz,
        lossless decimal growth) are admissible. Time travel reads old
        versions under the old (narrow) schema. Partition columns are
        refused: their values live as strings in directory names and the
        skipping comparators key on the declared type.
        """
        snap = self.snapshot()
        schema = snap.schema
        if schema is None or col not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {col!r}")
        if str(snap.properties.get("delta.enableTypeWidening", "")).lower() != "true":
            raise ValueError(
                "type widening requires TBLPROPERTIES "
                "('delta.enableTypeWidening'='true')"
            )
        if col in snap.partition_columns:
            raise ValueError(f"cannot widen partition column {col!r}")
        if isinstance(new_type, str):
            new_type = self.spark.range(1).select(
                F.lit(None).cast(new_type).alias("x")
            ).schema[0].dataType
        old_type = next(f.dataType for f in schema.fields if f.name == col)
        if new_type == old_type:
            raise ValueError(f"column {col!r} is already {old_type.simpleString()}")
        if not _is_widening(old_type, new_type):
            raise ValueError(
                f"not a widening promotion: {old_type.simpleString()} -> "
                f"{new_type.simpleString()} (scan-native matrix: byte<short<"
                "int<long, int/float->double, date->timestamp_ntz, lossless "
                "decimal growth)"
            )
        new_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    new_type if f.name == col else f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in schema.fields
            ]
        )
        metadata = {
            "schemaJson": json.dumps(new_schema.jsonValue()),
            "partitionColumns": snap.partition_columns,
            "properties": dict(snap.properties),
        }
        return self._write_commit(
            "ALTER COLUMN TYPE",
            {"column": col, "from": old_type.simpleString(),
             "to": new_type.simpleString()},
            [], [], metadata,
            base_version=snap.version,
        )

    def add_column(self, name: str, dtype: str | T.DataType) -> Commit:
        """ALTER TABLE ADD COLUMN — metadata-only: the field joins the
        logical schema (nullable); historical files simply null-fill it at
        read time (the parquet scan gets the snapshot schema), so no data
        is rewritten. The write-side append check then expects the column
        from future writers."""
        snap = self.snapshot()
        schema = snap.schema
        if schema is None:
            raise ValueError("table has no schema")
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"column already exists: {name!r}")
        dt = (
            dtype
            if isinstance(dtype, T.DataType)
            else T._parse_datatype_string(dtype)
        )
        new_fields = [*schema.fields, T.StructField(name, dt, True)]
        metadata = {
            "schemaJson": json.dumps(T.StructType(new_fields).jsonValue()),
            "partitionColumns": snap.partition_columns,
            "properties": dict(snap.properties),
        }
        return self._write_commit(
            "ADD COLUMNS",
            {"name": name, "type": dt.simpleString()},
            [], [], metadata,
            base_version=snap.version,
        )

    def rename_column(self, old: str, new: str) -> Commit:
        """ALTER TABLE RENAME COLUMN — metadata-only (Delta columnMapping
        parity): the logical name changes, the PHYSICAL name (creation-time
        name, recorded in ``graft.columnMapping``) stays on disk forever, so
        no data file is rewritten. Columns referenced by constraints /
        generated-column / identity definitions must drop those first.
        Bloom sidecars keyed by the old name are orphaned (pruning on the
        new name resumes at the next build — conservative, never wrong).
        Comma-list properties (cluster-by, bloom columns) are rewritten."""
        snap = self.snapshot()
        schema = snap.schema
        if schema is None or old not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {old!r}")
        if new in [f.name for f in schema.fields]:
            raise ValueError(f"column already exists: {new!r}")
        props = dict(snap.properties)
        ref = self._column_referenced_by_props(props, old)
        if ref:
            raise ValueError(
                f"cannot rename {old!r}: referenced by property {ref!r} — "
                "drop the constraint/definition first"
            )
        cmap = _colmap(props)
        physical = cmap.pop(old, old)
        if physical != new:
            cmap[new] = physical
        props[COLMAP_PROP] = json.dumps(cmap)
        # rewrite comma-list column properties that carry logical names
        from delta_lake_optimizations_spark.table.maintenance import CLUSTER_BY_PROP

        for list_prop in (CLUSTER_BY_PROP, BLOOM_COLUMNS_PROP):
            if props.get(list_prop):
                cols = [c.strip() for c in props[list_prop].split(",") if c.strip()]
                props[list_prop] = ",".join(new if c == old else c for c in cols)
        new_fields = [
            T.StructField(new if f.name == old else f.name, f.dataType, f.nullable, f.metadata)
            for f in schema.fields
        ]
        metadata = {
            "schemaJson": json.dumps(T.StructType(new_fields).jsonValue()),
            "partitionColumns": [new if c == old else c for c in snap.partition_columns],
            "properties": props,
        }
        return self._write_commit(
            "RENAME COLUMN", {"oldName": old, "newName": new}, [], [], metadata,
            base_version=snap.version,
        )

    def drop_column(self, col: str) -> Commit:
        """ALTER TABLE DROP COLUMN — metadata-only: the field leaves the
        logical schema (scans prune it; zero bytes of it are read), the
        physical column stays in existing files untouched. Partition
        columns and columns referenced by constraints/definitions are
        refused."""
        snap = self.snapshot()
        schema = snap.schema
        if schema is None or col not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {col!r}")
        if col in snap.partition_columns:
            raise ValueError(f"cannot drop partition column {col!r}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the last column")
        props = dict(snap.properties)
        ref = self._column_referenced_by_props(props, col)
        if ref:
            raise ValueError(
                f"cannot drop {col!r}: referenced by property {ref!r} — "
                "drop the constraint/definition first"
            )
        cmap = _colmap(props)
        cmap.pop(col, None)
        props[COLMAP_PROP] = json.dumps(cmap)
        from delta_lake_optimizations_spark.table.maintenance import CLUSTER_BY_PROP

        for list_prop in (CLUSTER_BY_PROP, BLOOM_COLUMNS_PROP):
            if props.get(list_prop):
                cols = [c.strip() for c in props[list_prop].split(",") if c.strip()]
                props[list_prop] = ",".join(c for c in cols if c != col)
        new_fields = [f for f in schema.fields if f.name != col]
        metadata = {
            "schemaJson": json.dumps(T.StructType(new_fields).jsonValue()),
            "partitionColumns": snap.partition_columns,
            "properties": props,
        }
        return self._write_commit(
            "DROP COLUMN", {"name": col}, [], [], metadata,
            base_version=snap.version,
        )

    def add_constraint(self, name: str, expression: str) -> Commit:
        """ALTER TABLE ADD CONSTRAINT (CHECK): existing data must already
        satisfy it (Delta semantics); future writes are rejected on
        violation."""
        bad = self.load().filter(~F.expr(expression)).count()
        if bad:
            raise ConstraintViolationError(
                f"cannot add constraint {name!r}: {bad} existing row(s) violate "
                f"{expression}"
            )
        return self.set_properties({_CONSTRAINT_PREFIX + name: expression})

    def add_expectation(
        self, name: str, expression: str, action: str = "warn"
    ) -> Commit:
        """DLT-style data-quality expectation (``@dlt.expect`` /
        ``expect_or_drop`` / ``expect_or_fail`` parity). Actions:

        - ``warn``: every write records the batch's violation count in
          the commit's operationParameters; all rows land.
        - ``drop``: violating rows are filtered out of the batch before
          the write; the dropped count is recorded.
        - ``fail``: any violation rejects the whole write (a CHECK
          constraint, but with expectation NULL semantics).

        Unlike CHECK constraints, existing data is NOT validated — an
        expectation is an ingest-time quality gate, not a table
        invariant. A NULL expression result counts as a violation (a
        gate that can't prove the row is good doesn't pass it). One name
        holds one rule: re-adding under a different action replaces it.
        """
        if action not in ("warn", "drop", "fail"):
            raise ValueError(
                f"action must be warn|drop|fail, got {action!r}"
            )
        snap = self.snapshot()
        if snap.schema is not None:
            # analysis-time validation against the current schema, so a
            # typo'd column fails HERE, not at an arbitrary writer's commit
            self.spark.createDataFrame([], snap.schema).filter(F.expr(expression))
        props = dict(snap.properties)
        for a in ("warn", "drop", "fail"):
            props.pop(f"{_EXPECT_PREFIX}{a}.{name}", None)
        props[f"{_EXPECT_PREFIX}{action}.{name}"] = expression
        metadata = {
            "schemaJson": snap.schema_json,
            "partitionColumns": snap.partition_columns,
            "properties": props,
        }
        return self._write_commit(
            "ADD EXPECTATION",
            {"name": name, "action": action, "expression": expression},
            [], [], metadata,
            base_version=snap.version,
        )

    def drop_expectation(self, name: str) -> Commit:
        snap = self.snapshot()
        props = dict(snap.properties)
        hit = [
            k for k in props
            if k.startswith(_EXPECT_PREFIX)
            and k[len(_EXPECT_PREFIX):].partition(".")[2] == name
        ]
        if not hit:
            raise ValueError(f"no expectation named {name!r}")
        for k in hit:
            props.pop(k)
        metadata = {
            "schemaJson": snap.schema_json,
            "partitionColumns": snap.partition_columns,
            "properties": props,
        }
        return self._write_commit(
            "DROP EXPECTATION", {"name": name}, [], [], metadata,
            base_version=snap.version,
        )

    def drop_constraint(self, name: str) -> Commit:
        snap = self.snapshot()
        props = dict(snap.properties)
        props.pop(_CONSTRAINT_PREFIX + name, None)
        metadata = {
            "schemaJson": snap.schema_json,
            "partitionColumns": snap.partition_columns,
            "properties": props,
        }
        return self._write_commit(
            "DROP CONSTRAINT", {"name": name}, [], [], metadata,
            base_version=snap.version,
        )

    def set_properties(self, properties: dict[str, str]) -> Commit:
        """ALTER TABLE ... SET TBLPROPERTIES (M13)."""
        snap = self.snapshot()
        props = dict(snap.properties)
        props.update(properties)
        metadata = {
            "schemaJson": snap.schema_json,
            "partitionColumns": snap.partition_columns,
            "properties": props,
        }
        return self._write_commit(
            "SET TBLPROPERTIES", {"properties": json.dumps(properties)}, [], [], metadata,
            base_version=snap.version,
        )

    def register(self, name: str, version: int | None = None) -> None:
        """Register the current (or historical) snapshot as a temp view (S4)."""
        self.load(version=version).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# File-skipping predicate evaluation (driver-side)
# ---------------------------------------------------------------------------


def expand_removes(
    snap: Snapshot,
    removed_paths: list[str],
    new_adds: list[AddFile] | None = None,
) -> list[str]:
    """Extend a commit's remove list with deletion-vector directories that
    become unreferenced once ``removed_paths`` leave the snapshot and
    ``new_adds`` enter it. DV dirs can be shared by several files (one DV
    write per DELETE commit), so a DV is tombstoned only when NO surviving
    or incoming AddFile still points at it — tombstoning is what makes
    VACUUM eventually reclaim it."""
    removed = set(removed_paths)
    candidate_dvs = {
        f.dv_path for f in snap.files if f.path in removed and f.dv_path
    }
    if not candidate_dvs:
        return list(removed_paths)
    still_referenced = {
        f.dv_path
        for f in snap.files
        if f.path not in removed and f.dv_path
    }
    for a in new_adds or []:
        if a.dv_path:
            still_referenced.add(a.dv_path)
    return list(removed_paths) + sorted(candidate_dvs - still_referenced)


def _is_widening(src: T.DataType, dst: T.DataType) -> bool:
    """Delta type-widening matrix, restricted to promotions Spark 4's
    parquet readers perform natively when handed the wider read schema
    (verified in ``tests/test_schema_evolution.py``): integer upcasts,
    ``float -> double``, ``int -> double``, ``date -> timestamp_ntz``,
    and decimal precision/scale growth that loses no digits. Historical
    files stay narrow on disk; ONLY promotions the scan itself widens
    are admissible, otherwise old files would fail or corrupt at read."""
    ints = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if isinstance(src, ints) and isinstance(dst, ints):
        return ints.index(type(src)) < ints.index(type(dst))
    if isinstance(src, (T.ByteType, T.ShortType, T.IntegerType, T.FloatType)):
        if isinstance(dst, T.DoubleType):
            return True
    if isinstance(src, T.DateType) and isinstance(dst, T.TimestampNTZType):
        return True
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
            and (dst.precision, dst.scale) != (src.precision, src.scale)
        )
    return False


def _signature_mismatch(base: T.StructType, schema: T.StructType) -> str | None:
    """None when ``schema`` has ``base``'s column names AND types, in order;
    else both signatures, for an error message. Nullability is excluded:
    Spark flips it freely across transformations. A same-named column with
    a different type must never reach a commit — the new schemaJson would
    be applied to historical parquet files, corrupting old data."""
    base_sig = [(f.name, f.dataType) for f in base.fields]
    new_sig = [(f.name, f.dataType) for f in schema.fields]
    if base_sig == new_sig:
        return None
    return (
        f"{[(n, t.simpleString()) for n, t in base_sig]} vs "
        f"{[(n, t.simpleString()) for n, t in new_sig]}"
    )


def _type_widening(props: dict[str, str]) -> bool:
    """The ``delta.enableTypeWidening`` gate of ``_merge_schemas``."""
    return str(props.get("delta.enableTypeWidening", "")).lower() == "true"


def _merge_schemas(
    base: T.StructType, incoming: T.StructType, widen: bool = False
) -> T.StructType:
    """Delta ``mergeSchema`` union: base columns in base order, then new
    columns in incoming order (nullable — historical files lack them).

    Same-named columns: an identical type is kept; an incoming NARROWER
    type keeps the base type (the write path upcasts the batch — the
    table schema never narrows); an incoming WIDER type evolves the
    column iff ``widen`` (the ``delta.enableTypeWidening`` gate) and the
    promotion is in the scan-native matrix (``_is_widening``). Anything
    else is rejected — it has no safe read path for already-written
    files without a rewrite."""
    base_types = {f.name: f.dataType for f in base.fields}
    widened: dict[str, T.DataType] = {}
    for f in incoming.fields:
        if f.name not in base_types or f.dataType == base_types[f.name]:
            continue
        if _is_widening(f.dataType, base_types[f.name]):
            continue  # narrower batch: upcast at write, schema unchanged
        if widen and _is_widening(base_types[f.name], f.dataType):
            widened[f.name] = f.dataType
            continue
        raise ValueError(
            f"merge_schema cannot change column {f.name!r} from "
            f"{base_types[f.name].simpleString()} to {f.dataType.simpleString()}"
            + (
                "; use overwrite_schema=True"
                if widen
                else " (set TBLPROPERTIES delta.enableTypeWidening=true for "
                "widening promotions, or overwrite_schema=True)"
            )
        )
    kept = [
        T.StructField(f.name, widened.get(f.name, f.dataType), f.nullable, f.metadata)
        for f in base.fields
    ]
    new_fields = [
        T.StructField(f.name, f.dataType, True, f.metadata)
        for f in incoming.fields
        if f.name not in base_types
    ]
    return T.StructType(kept + new_fields)


def _prefix_succ(p: str) -> str | None:
    """Smallest string strictly greater than EVERY string with prefix
    ``p`` (increment the last non-maximal code point, dropping the tail);
    None when no finite successor exists. Used to turn a LIKE-prefix
    probe into a [p, succ(p)) range over file min/max stats."""
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c < 0x10FFFF:
            return p[:i] + chr(c + 1)
    return None


def _op_expr(col: str, op: str, value: Any):
    c = F.col(col)
    if op == "in":
        return c.isin(*list(value))
    if op == "isnull":
        return c.isNull()
    if op == "notnull":
        return c.isNotNull()
    if op == "like_prefix":
        return c.startswith(value)
    return {
        "=": c == value,
        "<": c < value,
        "<=": c <= value,
        ">": c > value,
        ">=": c >= value,
    }[op]


def _partition_kill(pv: str, op: str, value: Any) -> bool:
    """True iff the hive-encoded partition value PROVES no row matches.

    Typed comparison: coerce the hive string to the probe value's type
    so range predicates prune partitions too ('9' < '10'
    lexicographically is wrong for ints). Shared scalar source of truth
    for the per-file loop below AND the vectorized per-distinct-value
    prune (``checkpoint_arrow._kill_mask_partition``)."""
    typed: Any = pv
    try:
        if isinstance(value, bool):
            typed = pv.lower() == "true"
        elif isinstance(value, int):
            typed = int(pv)
        elif isinstance(value, float):
            typed = float(pv)
        elif isinstance(value, (datetime, date)):
            typed, value = pv, value.isoformat()
    except ValueError:
        # un-coercible partition value — fall back to equality on
        # strings only; ranges must scan
        return op == "=" and pv != str(value)
    if op == "=" and typed != value:
        return True
    if op == "<" and typed >= value:
        return True
    if op == "<=" and typed > value:
        return True
    if op == ">" and typed <= value:
        return True
    if op == ">=" and typed < value:
        return True
    return False


def _file_may_match(
    f: AddFile, preds: list[tuple[str, str, Any]], partition_columns: list[str]
) -> bool:
    """Conservative min/max + partition-value check: False only when the
    file provably contains no matching row. ``in`` treats the value as an
    iterable: the file survives if ANY listed value could match."""
    for col, op, value in preds:
        if op == "in":
            # Fast path for stats-only probes (e.g. an LSH bucket list of
            # 100+ values against thousands of index files): read the
            # file's min/max ONCE and bisect the sorted value list —
            # O(log n) per file instead of n full recursive checks.
            if not (col in partition_columns and f.partition_values.get(col) is not None):
                mn = f.stats.get("minValues", {}).get(col)
                mx = f.stats.get("maxValues", {}).get(col)
                if mn is None or mx is None:
                    continue  # no stats — must scan
                try:
                    vals = list(value)
                    svals = (
                        vals
                        if all(vals[i] <= vals[i + 1] for i in range(len(vals) - 1))
                        else sorted(vals)
                    )
                    i = bisect.bisect_left(svals, mn)
                    if i >= len(svals) or svals[i] > mx:
                        return False
                    continue
                except TypeError:
                    pass  # incomparable types — generic per-value path
            if not any(
                _file_may_match(f, [(col, "=", v)], partition_columns)
                for v in value
            ):
                return False
            continue
        if op == "like_prefix":
            # LIKE 'p%' as the range [p, succ(p)): a file whose max sorts
            # before p, or whose min sorts at/after the prefix successor,
            # provably holds no matching string. Works on truncated
            # parquet footer stats too — min stays a lower bound and max
            # an upper bound, so the check only gets more conservative.
            if col in partition_columns and f.partition_values.get(col) is not None:
                if not str(f.partition_values[col]).startswith(value):
                    return False
                continue
            mn = f.stats.get("minValues", {}).get(col)
            mx = f.stats.get("maxValues", {}).get(col)
            if mn is None or mx is None:
                continue  # no stats — must scan
            if not isinstance(mn, str) or not isinstance(mx, str):
                continue
            if mx < value:
                return False
            succ = _prefix_succ(value)
            if succ is not None and mn >= succ:
                return False
            continue
        if op in ("isnull", "notnull"):
            # nullCounts-based pruning: a file with zero nulls can't serve
            # IS NULL; a file that is ALL nulls can't serve IS NOT NULL
            nc = f.stats.get("nullCounts", {}).get(col)
            if nc is None:
                continue
            if op == "isnull" and int(nc) == 0:
                return False
            if op == "notnull" and int(nc) == f.num_records:
                return False
            continue
        if col in partition_columns:
            pv = f.partition_values.get(col)
            if pv is not None:
                if _partition_kill(pv, op, value):
                    return False
                continue
        mins = f.stats.get("minValues", {})
        maxs = f.stats.get("maxValues", {})
        mn, mx = mins.get(col), maxs.get(col)
        if mn is None or mx is None:
            continue  # no stats — must scan
        if isinstance(value, (datetime, date)):
            value = value.isoformat()
        try:
            if op == "=" and (value < mn or value > mx):
                return False
            if op in ("<", "<=") and mn > value:
                return False
            if op in (">", ">=") and mx < value:
                return False
            if op == "<" and mn == value and mx == value:
                return False
        except TypeError:
            continue  # incomparable types — must scan
    return True
