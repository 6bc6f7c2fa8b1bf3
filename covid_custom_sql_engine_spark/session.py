"""SparkSession factory with scale-aware defaults.

Local-mode testing uses ``local[N]``; the same config block is what we'd
ship to a real cluster (AQE on, sane shuffle partitioning, Arrow for the
Pandas-UDF slow path). Nothing here is local-mode-specific except the
master URL, which is env-overridable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_parallelism() -> tuple[str, int]:
    """(master URL, shuffle partitions) for this host. ``SPARK_GRAFT_CPUS``
    sets the core count (default: the host's, ``os.cpu_count()``) and
    ``SPARK_MASTER`` overrides the master; partitions are the core
    count, at least 8."""
    host = os.cpu_count() or 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(host))
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    return master, max(int(cpus) if cpus.isdigit() else host, 8)


def get_spark(app_name: str = "covid_custom_sql_engine_spark") -> SparkSession:
    """Build (or fetch) the session.

    Scale posture: AQE handles runtime partition coalescing and skew
    joins; ``spark.sql.shuffle.partitions`` is a starting hint that AQE
    re-plans from actual map-output sizes, so the same config works at
    sf0.001 locally and at 100 TB on a 1000-executor cluster.
    """
    master, partitions = local_parallelism()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # dev knob (profiling only): SPARK_GRAFT_UI=true exposes the UI
        # REST API so tools/profile_query.py can read noise-robust task
        # metrics (executor CPU time, shuffle bytes); default off
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert in the catalog (Spark has no nanos timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # let custom Python data sources (sources/python_datasource.py)
        # receive pushFilters() during planning
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
