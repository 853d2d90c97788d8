"""Table registry over the driver corpus parquet files.

The test corpus (TESTDATA.md) is one parquet file per table under an
``sf*/`` directory. ``register_tables`` creates temp views so both the
DataFrame and ``spark.sql`` entry styles work (reference entry styles 1-3,
SURVEY.md §3).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns stored as parquet TIMESTAMP(NANOS), which Spark 4 cannot map to a
# native type (PARQUET_TYPE_ILLEGAL). With nanosAsLong they arrive as BIGINT
# nanoseconds; we truncate to microseconds — exactly what DuckDB does when it
# reads the same file, so oracle comparisons agree.
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Driver-owned sessions may not pin a timezone; epoch arithmetic on
    # TIMESTAMP_NTZ columns (temporal.epoch_seconds) interprets the wall
    # clock in the session zone, so pin UTC to match DuckDB's epoch().
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            # Integral `div` — float division would lose precision on
            # ~1.7e18 nanosecond values (> 2^53).
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def corpus_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Content fingerprint of a corpus table's parquet (sizes + mtimes of
    every data file): folded into artifact cache keys so a corpus
    regenerated in place gets a REBUILT artifact instead of a stale one."""
    target = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    parts: list[str] = []
    if os.path.isdir(target):
        for dirpath, _dn, filenames in os.walk(target):
            for fn in sorted(filenames):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                parts.append(f"{os.path.relpath(p, target)}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(target):
        st = os.stat(target)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def cached_table(
    spark: SparkSession, sf_dir: str, tag: str, build: Callable, subdir: str
):
    """Build-once-per-corpus GraftTable under ``<tempdir>/<subdir>/<key>``,
    ``key`` a hash of the corpus path, the config ``tag`` and the
    embeddings' ``corpus_fingerprint`` (a regenerated corpus changes the
    key and triggers a rebuild). ``build(path)`` writes the table at
    ``path`` and returns it; later calls reuse the committed table."""
    from delta_lake_optimizations_spark.table import GraftTable

    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|{tag}|{corpus_fingerprint(sf_dir)}".encode()
    ).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), subdir, key)
    t = GraftTable(spark, path)
    return t if t.exists() else build(path)


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each corpus table as a temp view; return name -> DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
