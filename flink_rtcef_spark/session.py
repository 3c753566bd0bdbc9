"""SparkSession helpers.

One place to build sessions with the scale-aware defaults this engine
assumes everywhere: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), Arrow on (every custom operator crosses the
JVM/Python boundary in Arrow batches), UTC session timezone (oracle
comparison against DuckDB's naive-UTC timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

MAX_DRIVER_MEM_MB = 16 * 1024


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """Local-mode driver heap when SPARK_GRAFT_DRIVER_MEM is unset: half
    of physical memory, at most 16g and at least 1g.  The JVM's RSS
    runs past its heap (metaspace, Arrow and shuffle buffers) and the
    Python workers need room too, so a heap the size of the host gets
    the JVM killed before it sees an OutOfMemoryError."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = physical_bytes // 2**20 // 2
    return f"{max(1024, min(MAX_DRIVER_MEM_MB, mb))}m"


def get_spark(
    app_name: str = "flink_rtcef_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster the ``master``/memory settings come from
    spark-submit; everything set here is cluster-size-independent
    except ``shuffle_partitions`` which callers should size to
    ~2-3x total cores for large jobs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # the events fixture carries parquet TIMESTAMP(NANOS); read as
        # long and convert explicitly (sources/io.py) — Spark has no
        # native nanos timestamp type
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.config("spark.master", master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.config("spark.master", f"local[{cpus}]")
    if not master and not os.environ.get("SPARK_MASTER"):
        # local mode runs all `cpus` task threads inside ONE driver JVM,
        # whose default heap (1g) starves 32 concurrent tasks long
        # before the machine does; size it like the executor it is.
        # Only effective when this process creates the JVM — a cluster
        # submit sets memory via spark-submit and never hits this.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
