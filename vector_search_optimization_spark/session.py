"""SparkSession factory.

The reference runs single-process pandas (SURVEY §4.1); this engine targets a
multi-executor cluster. Defaults below are sized for the local[N] test harness
but every knob is overridable so the same entry points run on a 1000-executor
cluster: AQE handles runtime re-planning (skew joins, partition coalescing),
Arrow is enabled for the pandas-UDF slow path, and the session timezone is
pinned to UTC so results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else a quarter of physical memory
    clamped to [4g, 32g] — the heap must leave room for the Python
    workers and the OS on a small machine."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    quarter_gb = min(32, max(4, total // 4 // 2**30))
    return os.environ.get("SPARK_DRIVER_MEMORY") or f"{quarter_gb}g"


def get_spark(
    app_name: str = "vector_search_optimization_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    On a real cluster, pass ``master=None`` with external submit configs;
    locally we run ``local[default_cpus()]`` with a
    ``default_driver_memory()`` heap. Shuffle partitions default to the core
    count locally — on a cluster AQE coalesces from a higher initial number,
    so callers should raise it (rule of thumb: 2-3x total cores).
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's events.parquet carries TIMESTAMP(NANOS) — read as
        # long, converted to timestamp in sources.readers (micros, like duckdb)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_caches(df: DataFrame) -> None:
    """Free everything persisted in ``df``'s session.

    Queries and operators persist intermediates freely and never
    unpersist what their lazy result still reads; this one call frees
    them all. It clears the CacheManager, then unpersists every
    persistent RDD still registered (``localCheckpoint`` blocks, which
    the CacheManager does not track). Call it only between queries,
    once the result has been consumed (written / collected): it also
    frees whatever any other frame of the session had persisted."""
    spark = df.sparkSession
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    # iterating a Py4J map costs ~10 ms even when it is empty, the usual
    # case once clearCache has run
    if not rdds.isEmpty():
        for rdd in rdds.values():
            rdd.unpersist(True)


def bounded_collect(df: DataFrame, n: int) -> list:
    """The first ``n`` rows of ``df``, collected to the driver.

    Not ``df.limit(n).collect()``: Spark runs a bare limit-collect as a
    series of jobs over 1, 4, 16, ... partitions, each re-running the
    uncached upstream plan. Here the limited frame is persisted and
    counted (materialized once), collected from the cache, and
    unpersisted before returning."""
    bounded = df.limit(n).persist()
    try:
        bounded.count()
        return bounded.collect()
    finally:
        bounded.unpersist()
