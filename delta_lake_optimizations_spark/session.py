"""SparkSession factory with scale-minded defaults.

Local testing runs on ``local[N]`` but every knob here is chosen to also be
right on a large cluster: AQE for runtime re-planning (skew joins, partition
coalescing), UTC session time zone (required for DuckDB-oracle comparison —
DuckDB timestamps are UTC-naive), Arrow for the Python<->JVM boundary, and a
generated-code cache that keeps repeated plans' compiled whole-stage-codegen
classes (large enough to hold them, keyed without stage ids) instead of
recompiling them. PySpark's DataFrame debugging is off: building a
Column no longer captures its Python call site, which cost ~10 extra py4j
round trips per Column function or operator.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """~1 GB per local task thread, FLOORED ON THE WORKLOAD (24g), bounded
    by half of physical RAM.

    r12 (VERDICT r11 #1): the floor used to be 8g, which sized the heap to
    the CORE COUNT — but the bench workload (broadcast relations, hash
    aggregates) does not shrink when the driver re-runs it at fewer cores,
    and the 8-core scaling run died in BroadcastExchange ("Not enough
    memory to build and broadcast the table") inside an 8 GB JVM that the
    same data barely fits at 32 GB. The heap must scale with the DATA the
    session processes, not with parallelism: floor at 24g — measured, not
    guessed: a FRESH 16g/8-core session runs the heaviest single block
    (the sf5 pair-enumerating minhash reference) fine, but a full
    end-to-end 8-core bench session accumulates broadcast/cache churn
    across ~5000 stages and still died in BroadcastExchange at 16g; 24g
    carries the whole run. Add 1 GB/thread above 24 threads, cap at half
    the machine's RAM so the JVM still starts on small hosts.
    SPARK_GRAFT_DRIVER_MEM overrides for either direction."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    half_ram_gb = None
    try:
        page = os.sysconf("SC_PAGE_SIZE")
        phys = os.sysconf("SC_PHYS_PAGES")
        half_ram_gb = max(1, (page * phys) // (2 * 1024**3))
    except (ValueError, OSError, AttributeError):
        pass
    gb = max(24, cores)
    if half_ram_gb is not None:
        gb = max(2, min(gb, half_ram_gb))
    return f"{gb}g"


def get_spark(
    app_name: str = "delta_lake_optimizations_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``shuffle_partitions`` defaults to the local core count — the
    published guidance is ~cores for local mode, 2-3x total cores on a
    cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Spark's generated-class cache holds 100 classes by default; a warm
        # llm_curation cycle compiles ~213 classes (~140 distinct sources)
        # and a pass of the 50-query oracle window ~920 at sf0.001, so at
        # 100 every warm pass recompiles (curation: ~0.8 s per cycle). 4096
        # holds the largest measured working set about four times over.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # the cache is keyed by the generated source; with the stage id in
        # the class name, one pipeline that AQE numbers differently from
        # run to run (stage ids follow the order query stages get planned)
        # is a new source each time and compiles again
        .config("spark.sql.codegen.useIdInClassName", "false")
        # with DataFrame debugging on, every Column function and operator
        # captures a Python stack and sends ~10 more py4j round trips (active
        # session, conf read, call-site set/clear): ``F.col("_h") * F.lit(3)``
        # took 27 round trips (1.8 ms) instead of 7 (0.9 ms), and building
        # the MinHash LSH pair plan 2.2x the commands. The cost: a runtime
        # error's DataFrame context names the JVM function instead of the
        # Python file:line that built the Column
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # push large IN lists to parquet as-is instead of collapsing them
        # to a min/max range: on tc-clustered index tables the per-row-group
        # dictionary/stats check prunes row groups a range filter cannot
        # (the sharded ANN probe issues ~100-value IN lists)
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
        .config("spark.ui.enabled", "false")
        # local mode runs every task thread inside the driver JVM, so the
        # driver heap IS the executor memory: size it ~1 GB/core (the sf5
        # rehearsal OOMed 32 threads sharing the old 8g default), but cap
        # at roughly half the machine's physical RAM so the JVM can still
        # start on small hosts — a fixed 32g default would fail outright
        # on a 16 GB laptop. SPARK_GRAFT_DRIVER_MEM overrides.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, milliseconds spent compiling) by Janino in this
    session's JVM since it started: ``CodegenMetrics``' compile count and
    ``CodeGenerator.compileTime``. Both are driver-side counters, so
    reading them runs no Spark job; diff two readings to cost a span."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6
