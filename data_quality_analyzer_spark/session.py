"""SparkSession factory.

One place that encodes the execution-model decisions the whole engine relies
on (reference: the rebuild of data_quality_analyzer's single-threaded asyncio
driver, ``main.py:17-54`` — here parallelism, spill, and planning are
delegated to Spark instead of mongod):

* Arrow on — every pandas UDF crosses the JVM/Python boundary in columnar
  batches, never row-at-a-time.
* AQE on — runtime coalescing of shuffle partitions + skew-join splitting,
  so the same plan survives sf0.001 fixtures and 100 TB tables.
* UTC session timezone — required for bit-parity with the DuckDB oracle.
* shuffle partitions default to ~cores locally; on a real cluster the caller
  passes ``shuffle_partitions`` sized to executors*cores*2-3.

:func:`per_context` is the one memo for driver-side objects that belong to
a SparkContext (model broadcasts, UDF wrappers, the pipeline's Column
program), so they are made once per context instead of once per call.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_mem() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 48g, or
    half of physical memory on a smaller machine, so the JVM cannot grow
    past what the box has."""
    try:
        half = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2
    except (ValueError, OSError):
        return "48g"
    return "48g" if half >= 48 << 30 else f"{half >> 20}m"


def get_spark(
    app_name: str = "data_quality_analyzer_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``); the benchmark's
    two-cluster-size protocol runs the same job at cpus=8 and cpus=32.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def per_context(build):
    """Memoize ``build(spark, *key)`` on ``(spark.sparkContext, *key)``.

    ``key`` must be hashable.  Only one SparkContext is live in a process,
    so meeting a new one (``bench.py --scaling`` stops and restarts its
    session) drops every entry of the old one: its broadcasts died with
    it."""
    memo: dict = {}

    @functools.wraps(build)
    def cached(spark, *key):
        sc = spark.sparkContext
        if any(k[0] is not sc for k in memo):
            memo.clear()
        k = (sc, *key)
        if k not in memo:
            memo[k] = build(spark, *key)
        return memo[k]

    return cached
