"""SparkSession factory tuned for the local[32] harness.

Settings chosen for scale-out correctness too: AQE on (runtime shuffle
coalescing + skew-join splitting), shuffle partitions sized to cores
locally (on a real cluster this would be ~2-3x total cores), Arrow for
the pandas-UDF slow path, UTC session timezone so wall-clock date
functions agree with the tz-naive DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """A quarter of physical memory in whole GiB (at least 1g), capped
    at 16g: the driver JVM, the Python driver and the Python workers
    share the box in local mode."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16, max(1, round(phys / 4 / 2**30)))}g"


def get_spark(app_name: str = "poc_cdc_iceberg_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(8, int(cpus))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Fixture parquet stamps are unannotated (isAdjustedToUTC=false);
        # read them as TIMESTAMP (UTC session) not TIMESTAMP_NTZ so the
        # epoch-math surface (unix_millis & co.) stays valid everywhere.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd: ~30% smaller files than snappy at comparable scan speed —
        # at the 100 TB design point that's storage AND scan-I/O savings
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
