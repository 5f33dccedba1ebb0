"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is a single JVM; ``spark.driver.memory`` is the
only memory knob.  On a real cluster the same builder works — the configs
set here (AQE, adaptive coalescing, skew-join handling, Arrow) are the
scale-relevant ones and are safe at any size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "experts_etl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    the right size for local runs; a cluster deployment overrides it (or
    relies on AQE coalescing, which is enabled).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The synthetic events table stores TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as long and convert in
        # sources.read_table (floor to micros, matching DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Producers also ship plain timestamp[us] (no tz) parquet, which
        # Spark 4 infers as TIMESTAMP_NTZ — a type event-time operators
        # (watermarks, unix_micros) reject.  Read it as TIMESTAMP instead:
        # with the session tz pinned UTC above, the two are bit-identical,
        # and DuckDB's naive TIMESTAMP compares equal.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # List a directory's partitions on the driver up to 128 of them,
        # above a streaming store's bound of 64 live partitions
        # (streaming/stores.py).  At Spark's default of 32, every store
        # read ran a 62-64-task listing job; the event log's stage
        # metrics show those stages scheduler-bound: 0.5-0.7 s each to
        # list one local directory tree.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
