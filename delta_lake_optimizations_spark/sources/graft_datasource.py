"""A PySpark Python Data Source (SPARK-44076, PySpark >= 4.0) exposing
GraftTable as a first-class Spark connector::

    register_graft_source(spark)
    df = spark.read.format("graft").option("path", tbl).load()        # batch
    df = spark.read.format("graft").option("versionAsOf", 3).load(tbl)
    st = spark.readStream.format("graft").load(tbl)                   # stream
    df.write.format("graft").mode("append").save(tbl)                 # write

Why a connector and not just ``GraftTable.load``: the connector gives the
table an *executor-side* scan path with file-granular input partitions —
on a 1000-executor cluster each add-file is read by pyarrow directly on
the executor that owns the split, with no driver fan-out of file lists
beyond the partition plan, and Arrow RecordBatches flow zero-copy into
Tungsten rows. It also unlocks Structured Streaming over the commit log:
each microbatch serves exactly the add-files of newly landed commits
(offset = committed version), which is how Delta's own streaming source
works (reference teaches the table-as-stream idea implicitly via its
append/history lessons, docs/02-lab-optimizations.md "Table History").

Column mapping is honoured on both sides, as in ``GraftTable``: files
carry the PHYSICAL (creation-time) names of renamed columns. Every input
partition carries the logical -> physical map to the executor, so batch,
stream and change-feed reads return logical names; the writer writes
renamed columns under their physical names.

Writes commit through ``GraftTable._commit_write``, the one step that
also commits ``GraftTable.write``: schema evolution, the overwrite's
remove list (deletion-vector directories included), the metadata and the
log append. A plain append commits no metadata, so a blind append that
loses a commit race rebases onto the new head inside the log append, like
every other blind append. Spark does not pass ``partitionBy`` to Python data sources,
so the writer is unpartitioned only: an append into a partitioned table
is refused on the driver, before any task writes a file.

Scale notes (100 TB):
- ``partitions()`` is O(#files in the delta of versions), driver-side
  metadata only; row data never touches the driver.
- ``read()`` streams one parquet file per input partition in bounded
  Arrow batches (64k rows) — executor memory is independent of file
  count and table size.
- The commit log is tiny JSON; replay cost is bounded by the checkpoint
  interval (graft_table._write_checkpoint), not by table age.

Streaming change-commit policy mirrors Delta's options:
- default: a commit that removes files (OPTIMIZE/DELETE/UPDATE/overwrite)
  fails the stream — appends-only is the only exactly-once-safe default;
- ``skipChangeCommits=true``: such commits are skipped entirely;
- ``ignoreChanges=true``: their *added* files are emitted (may duplicate
  rows rewritten by OPTIMIZE — documented Delta semantics).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema

from delta_lake_optimizations_spark.table.graft_table import (
    _CONSTRAINT_PREFIX,
    STATS_COLS_PROP,
    STATS_MAX_COLUMNS,
    AddFile,
    ConstraintViolationError,
    GraftTable,
    _colmap,
    _refuse_if_append_only,
    _signature_mismatch,
    collect_file_stats,
    dv_file_key,
)


@dataclass
class GraftFilePartition(InputPartition):
    """One input split == one add-file. Picklable; carries everything the
    executor needs so ``read()`` never re-opens the commit log."""

    abs_path: str
    partition_values: tuple[tuple[str, str], ...]  # hive col -> string value
    logical_path: str = ""  # AddFile.path — DV rows are keyed against it
    dv_abs_path: str | None = None  # deletion-vector parquet dir, if any
    # logical -> physical name of every renamed column (column mapping)
    colmap: tuple[tuple[str, str], ...] = ()
    # change-feed extensions (readChangeFeed=true): what kind of change
    # this partition emits, tagged with the commit that produced it.
    # mode "data" serves the file's rows; mode "dv_diff" serves ONLY the
    # rows newly tombstoned by this commit's DV (new minus previous DV).
    change_type: str = "insert"
    commit_version: int = -1
    mode: str = "data"
    prev_dv_abs_path: str | None = None


def _file_partition(
    root: str, f: AddFile, colmap: dict[str, str], **change
) -> GraftFilePartition:
    return GraftFilePartition(
        abs_path=os.path.join(root, f.path),
        partition_values=tuple(sorted(f.partition_values.items())),
        logical_path=f.path,
        dv_abs_path=os.path.join(root, f.dv_path) if f.dv_path else None,
        colmap=tuple(sorted(colmap.items())),
        **change,
    )


def _snapshot(path: str, version: int | None = None, timestamp: str | None = None):
    """Driver-side log replay without a SparkSession: GraftTable's log
    primitives are pure-Python file IO (graft_table.py:_replay), so a
    metadata-only handle with spark=None is safe."""
    tbl = GraftTable(None, path)  # type: ignore[arg-type]
    return tbl, tbl.snapshot(version=version, timestamp=timestamp)


def _parse_partition_value(raw: str, dtype: T.DataType):
    """Hive directory values are strings; cast to the schema's type."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dtype, T.BooleanType):
        return raw.lower() == "true"
    if isinstance(dtype, T.DateType):
        from datetime import date

        return date.fromisoformat(raw)
    return raw


def _dv_positions(dv_abs_path: str | None, logical_path: str) -> set[int]:
    if dv_abs_path is None:
        return set()
    dv = pq.read_table(dv_abs_path, columns=["file_path", "row_index"])
    want = dv_file_key(logical_path)
    return {
        idx
        for fp, idx in zip(
            dv.column("file_path").to_pylist(), dv.column("row_index").to_pylist()
        )
        if dv_file_key(fp) == want
    }


def _read_file_as_batches(
    p: GraftFilePartition,
    schema: T.StructType,
    take_positions: list[int] | None = None,
    batch_rows: int = 65536,
) -> Iterator[pa.RecordBatch]:
    """Executor-side scan of one parquet file, emitted as Arrow batches
    matching the table schema exactly (order, logical names, types).
    Renamed columns are read under their physical names. Partition
    columns absent from the file are materialized as constants from the
    hive directory values. Column pruning: only the schema's
    non-partition fields are read from disk. Without ``take_positions``
    the file's deletion vector, if any, filters its rows."""
    arrow_schema = to_arrow_schema(schema)
    pvals = dict(p.partition_values)
    cmap = dict(p.colmap)
    names = [cmap.get(f.name, f.name) for f in schema.fields]
    present = set(pq.read_schema(p.abs_path).names)
    # Only columns that exist in THIS file are read; columns added later
    # by merge_schema evolution null-fill (Delta read-side evolution).
    table = pq.read_table(
        p.abs_path, columns=[n for n in names if n not in pvals and n in present]
    )
    if take_positions is not None:
        table = table.take(pa.array(take_positions, type=pa.int64()))
    elif p.dv_abs_path is not None:
        dead = [
            i
            for i in _dv_positions(p.dv_abs_path, p.logical_path)
            if 0 <= i < table.num_rows
        ]
        if dead:
            keep = [True] * table.num_rows
            for i in dead:
                keep[i] = False
            table = table.filter(pa.array(keep))
    n = table.num_rows
    cols = []
    for name, field, arrow_field in zip(names, schema.fields, arrow_schema):
        if name in pvals:
            val = _parse_partition_value(pvals[name], field.dataType)
            cols.append(pa.array([val] * n, type=arrow_field.type))
        elif name not in present:
            cols.append(pa.nulls(n, type=arrow_field.type))
        else:
            col = table.column(name)
            if col.type != arrow_field.type:
                col = col.cast(arrow_field.type)
            cols.append(col.combine_chunks())
    out = pa.Table.from_arrays(cols, schema=arrow_schema)
    yield from out.to_batches(max_chunksize=batch_rows)


def _read_partition(
    p: GraftFilePartition, schema: T.StructType, cdf: bool
) -> Iterator[pa.RecordBatch]:
    """Executor side of every read (batch, stream, change feed): the
    partition's rows, plus the change-feed columns when ``cdf``."""
    take = None
    if p.mode == "dv_diff":
        # the rows THIS commit tombstoned: new DV minus previous DV
        new_pos = _dv_positions(p.dv_abs_path, p.logical_path)
        take = sorted(new_pos - _dv_positions(p.prev_dv_abs_path, p.logical_path))
        if not take:
            return
    for batch in _read_file_as_batches(p, schema, take):
        yield _append_cdf_columns(batch, p.change_type, p.commit_version) if cdf else batch


class GraftBatchReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self._options = options
        self._cdf = _bool_opt(options, "readchangefeed")
        self._data_schema = (
            T.StructType(schema.fields[:-2]) if self._cdf else schema
        )

    def partitions(self) -> list[InputPartition]:
        path = _required_path(self._options)
        if self._cdf:
            # batch change-feed read (Delta's CDF batch form): all changes
            # in startingVersion..endingVersion (default: latest)
            _, snap = _snapshot(path)
            return _commit_range_partitions(
                path,
                int(self._options.get("startingversion", 0)),
                int(self._options.get("endingversion", snap.version)),
                _colmap(snap.properties),
                cdf=True,
                skip_change=_bool_opt(self._options, "skipchangecommits"),
                ignore_changes=False,
            )
        version = self._options.get("versionasof")
        timestamp = self._options.get("timestampasof")
        _, snap = _snapshot(
            path,
            version=int(version) if version is not None else None,
            timestamp=timestamp,
        )
        cmap = _colmap(snap.properties)
        return [_file_partition(path, f, cmap) for f in snap.files]

    def read(self, partition: GraftFilePartition) -> Iterator[pa.RecordBatch]:
        return _read_partition(partition, self._data_schema, self._cdf)


_CDF_FIELDS = (
    T.StructField("_change_type", T.StringType()),
    T.StructField("_commit_version", T.LongType()),
)


def _append_cdf_columns(
    batch: pa.RecordBatch, change_type: str, version: int
) -> pa.RecordBatch:
    n = batch.num_rows
    arrays = list(batch.columns) + [
        pa.array([change_type] * n, type=pa.string()),
        pa.array([version] * n, type=pa.int64()),
    ]
    names = list(batch.schema.names) + ["_change_type", "_commit_version"]
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _commit_range_partitions(
    path: str,
    first_v: int,
    last_v: int,
    colmap: dict[str, str],
    cdf: bool,
    skip_change: bool,
    ignore_changes: bool,
) -> list[InputPartition]:
    """Input splits for the commits ``first_v..last_v`` (both inclusive):
    the shared engine behind streaming offsets AND batch change-feed
    reads. See :class:`GraftStreamReader` for the change-commit policy."""
    tbl = GraftTable(None, path)  # type: ignore[arg-type]
    out: list[InputPartition] = []
    for v in range(first_v, last_v + 1):
        commit = tbl._read_commit(v)
        if cdf and commit.remove:
            if commit.operation in ("OPTIMIZE", "REORG"):
                continue  # data-preserving rewrite: no logical change
            # DV DELETE: removes old entries, re-adds the same files with
            # a DV pointer — the change rows are exactly the new
            # tombstones, recoverable from the DV diff.
            prev = tbl.snapshot(version=v - 1)
            prev_dv = {f.path: f.dv_path for f in prev.files}
            removed_paths = set(commit.remove)
            dv_only = commit.add and all(
                f.dv_path and f.path in removed_paths for f in commit.add
            )
            if dv_only:
                out.extend(
                    _file_partition(
                        path,
                        f,
                        colmap,
                        change_type="delete",
                        commit_version=v,
                        mode="dv_diff",
                        prev_dv_abs_path=(
                            os.path.join(path, prev_dv[f.path])
                            if prev_dv.get(f.path)
                            else None
                        ),
                    )
                    for f in commit.add
                )
                continue
            if skip_change:
                continue
            raise ValueError(
                f"change feed hit rewriting commit v{v} ({commit.operation}) "
                "with no recorded change rows; set skipChangeCommits=true "
                "to skip it"
            )
        # Appends add files; metadata-only commits (TBLPROPERTIES,
        # constraints) touch nothing; anything that REMOVES files
        # (overwrite, OPTIMIZE, DELETE, UPDATE, MERGE, RESTORE) is a
        # change commit — serving its adds would duplicate or lose rows.
        if commit.remove:
            if skip_change:
                continue
            if not ignore_changes:
                raise ValueError(
                    f"graft stream hit non-append commit v{v} "
                    f"({commit.operation}); set skipChangeCommits=true to "
                    "skip rewrites or ignoreChanges=true to emit their "
                    "added files (may duplicate rewritten rows)"
                )
        out.extend(
            _file_partition(path, f, colmap, commit_version=v) for f in commit.add
        )
    return out


class GraftStreamReader(DataSourceStreamReader):
    """Offset = highest fully-committed table version served so far.

    ``readChangeFeed=true`` turns the stream into a row-level CHANGE FEED
    (Delta CDF parity): plain appends stream their rows tagged
    ``insert``; a deletion-vector DELETE commit streams exactly the rows
    it tombstoned (new-DV minus previous-DV positions) tagged ``delete``;
    data-preserving rewrites (OPTIMIZE, REORG) are skipped automatically
    — no logical change; any other rewriting commit (copy-on-write
    DELETE/UPDATE/MERGE, overwrite, RESTORE) has no recorded change rows
    and raises unless ``skipChangeCommits=true``. Every emitted row
    carries ``_change_type`` and ``_commit_version``."""

    def __init__(self, schema: T.StructType, options: dict):
        self._options = options
        self._path = _required_path(options)
        self._skip_change = _bool_opt(options, "skipchangecommits")
        self._ignore_changes = _bool_opt(options, "ignorechanges")
        self._cdf = _bool_opt(options, "readchangefeed")
        # the data columns (without the CDF metadata tail) drive file reads
        self._data_schema = (
            T.StructType(schema.fields[:-2]) if self._cdf else schema
        )
        # the column mapping of the snapshot the stream's schema came from
        self._colmap = _colmap(_snapshot(self._path)[1].properties)

    def initialOffset(self) -> dict:
        starting = self._options.get("startingversion")
        if starting is not None and str(starting).lower() == "latest":
            tbl, _ = _snapshot(self._path)
            return {"version": tbl.latest_version()}
        start = int(starting) if starting is not None else 0
        return {"version": start - 1}

    def latestOffset(self) -> dict:
        tbl, _ = _snapshot(self._path)
        return {"version": tbl.latest_version()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return _commit_range_partitions(
            self._path,
            int(start["version"]) + 1,
            int(end["version"]),
            self._colmap,
            cdf=self._cdf,
            skip_change=self._skip_change,
            ignore_changes=self._ignore_changes,
        )

    def read(self, partition: GraftFilePartition) -> Iterator[pa.RecordBatch]:
        return _read_partition(partition, self._data_schema, self._cdf)

    def commit(self, end: dict) -> None:  # offsets live in the query checkpoint
        pass


@dataclass
class GraftWriteMessage(WriterCommitMessage):
    """Per-task result shipped back to the driver for the log commit."""

    rel_path: str | None  # None when the task had no rows
    size: int = 0
    num_records: int = 0
    stats: dict | None = None


def _sql_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


class GraftBatchWriter(DataSourceArrowWriter):
    """Distributed write path for ``df.write.format("graft")``.

    On the driver, the writer reads the table's snapshot once and refuses,
    before any task writes a file: an overwrite of a
    ``delta.appendOnly=true`` table, an append into a partitioned table
    (Spark does not forward partitionBy to Python data sources — use
    GraftTable.write for hive-partitioned layouts), and an append whose
    column names and types differ from the table's without
    ``mergeSchema``.

    Executors stream their partition's Arrow batches straight into one
    parquet file each under a fresh data directory — renamed columns
    under their physical names, no driver collect, no shuffle — and ship
    back only footer metadata (path/size/numRecords/min-max stats, capped
    by ``graft.dataSkippingNumIndexedCols``).

    ``commit`` checks the table's CHECK constraints over the new files
    with DuckDB (the commit hook has no SparkSession; CHECK expressions
    are ANSI, and one DuckDB cannot evaluate fails the write), then makes
    ONE call to ``GraftTable._commit_write`` against the snapshot read on
    the driver — the step ``GraftTable.write`` commits through. A plain
    append commits no metadata and rebases past concurrent commits that
    changed none; any other write that loses a commit race fails, and
    Spark's abort removes its files.
    """

    def __init__(self, schema: T.StructType, options: dict, overwrite: bool):
        self._schema = schema
        self._overwrite = overwrite
        self._merge = _bool_opt(options, "mergeschema")
        self._path = _required_path(options)
        tbl = GraftTable(None, self._path)  # type: ignore[arg-type]
        base = tbl.snapshot() if tbl.exists() else None
        self._base_version = base.version if base is not None else None
        props = base.properties if base is not None else {}
        if base is not None and overwrite:
            _refuse_if_append_only(props, "overwrite")
        elif base is not None:
            if base.partition_columns:
                raise ValueError(
                    "graft source appends are unpartitioned only (Spark does "
                    "not pass partitionBy to Python data sources); table is "
                    f"partitioned by {base.partition_columns} — use "
                    "GraftTable.write"
                )
            if not self._merge and base.schema is not None:
                mismatch = _signature_mismatch(base.schema, schema)
                if mismatch:
                    raise ValueError(
                        "schema mismatch on graft append (set "
                        ".option('mergeSchema','true') to add columns): " + mismatch
                    )
        cmap = _colmap(props)
        self._colmap = {f.name: cmap[f.name] for f in schema.fields if f.name in cmap}
        self._constraints = {
            k[len(_CONSTRAINT_PREFIX):]: v
            for k, v in props.items()
            if k.startswith(_CONSTRAINT_PREFIX)
        }
        self._stats_cols = int(props.get(STATS_COLS_PROP, STATS_MAX_COLUMNS))
        # one shared data dir, minted driver-side so all tasks agree
        self._rel_dir = os.path.join("data", f"dsw-{uuid.uuid4().hex[:12]}")

    def write(self, iterator: Iterator[pa.RecordBatch]) -> GraftWriteMessage:
        out_dir = os.path.join(self._path, self._rel_dir)
        os.makedirs(out_dir, exist_ok=True)
        rel_file = os.path.join(self._rel_dir, f"part-{uuid.uuid4().hex}.parquet")
        abs_file = os.path.join(self._path, rel_file)
        writer: pq.ParquetWriter | None = None
        try:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                if self._colmap:
                    batch = batch.rename_columns(
                        [self._colmap.get(n, n) for n in batch.schema.names]
                    )
                if writer is None:
                    writer = pq.ParquetWriter(abs_file, batch.schema)
                writer.write_batch(batch)
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return GraftWriteMessage(rel_path=None)
        n, stats = collect_file_stats(abs_file, self._stats_cols)
        return GraftWriteMessage(
            rel_path=rel_file,
            size=os.path.getsize(abs_file),
            num_records=n,
            stats=stats,
        )

    def commit(self, messages) -> None:
        adds = [
            AddFile(
                path=m.rel_path,
                size=m.size,
                num_records=m.num_records,
                stats=m.stats or {},
            )
            for m in messages
            if m is not None and m.rel_path is not None
        ]
        if self._constraints and adds:
            self._check_constraints(adds)
        tbl = GraftTable(None, self._path)  # type: ignore[arg-type]
        base = (
            tbl.snapshot(version=self._base_version)
            if self._base_version is not None
            else None
        )
        tbl._commit_write(
            base,
            adds,
            self._schema,
            "overwrite" if self._overwrite else "append",
            merge_schema=self._merge,
        )

    def _check_constraints(self, adds: list[AddFile]) -> None:
        """CHECK-constraint enforcement (schema-on-write) over the
        just-written files — footer metadata came back, the rows stayed on
        disk — BEFORE anything lands in the log."""
        import duckdb

        files = [os.path.join(self._path, a.path) for a in adds]
        cols = ", ".join(
            f"{_sql_ident(self._colmap.get(f.name, f.name))} AS {_sql_ident(f.name)}"
            for f in self._schema.fields
        )
        rows = f"(SELECT {cols} FROM read_parquet({files!r}))"
        for name, expr_text in self._constraints.items():
            try:
                bad = duckdb.sql(
                    f"SELECT count(*) FROM {rows} WHERE NOT ({expr_text})"
                ).fetchone()[0]
            except Exception as exc:
                raise ConstraintViolationError(
                    f"cannot evaluate CHECK constraint {name!r} "
                    f"({expr_text}) on the graft write path: {exc}"
                ) from exc
            if bad:
                raise ConstraintViolationError(
                    f"{bad} row(s) violate CHECK constraint {name!r}: {expr_text}"
                )

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self._path, self._rel_dir), ignore_errors=True)


class GraftDataSource(DataSource):
    """``spark.read.format("graft")`` / ``spark.readStream.format("graft")``."""

    @classmethod
    def name(cls) -> str:
        return "graft"

    def schema(self) -> T.StructType:
        path = _required_path(self.options)
        version = self.options.get("versionasof")
        timestamp = self.options.get("timestampasof")
        _, snap = _snapshot(
            path,
            version=int(version) if version is not None else None,
            timestamp=timestamp,
        )
        if snap.schema is None:
            raise ValueError(f"GraftTable at {path} has no schema in its log")
        # Parquet scans surface every column as nullable; mirror that so a
        # graft-source frame is schema-identical to GraftTable.load.
        fields = [
            T.StructField(f.name, f.dataType, True, f.metadata)
            for f in snap.schema.fields
        ]
        if _bool_opt(dict(self.options), "readchangefeed"):
            fields.extend(_CDF_FIELDS)
        return T.StructType(fields)

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return GraftBatchReader(schema, dict(self.options))

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        return GraftStreamReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> GraftBatchWriter:
        return GraftBatchWriter(schema, dict(self.options), overwrite)


def _required_path(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("graft source requires .option('path', ...) or .load(path)")
    return os.path.abspath(path)


def _bool_opt(options: dict, key: str) -> bool:
    return str(options.get(key, "false")).lower() == "true"


def register_graft_source(spark: SparkSession) -> None:
    """Idempotent per-session registration of the 'graft' format."""
    spark.dataSource.register(GraftDataSource)


__all__ = ["GraftDataSource", "register_graft_source"]
