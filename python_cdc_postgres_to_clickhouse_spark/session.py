"""SparkSession construction tuned for the test harness and for scale.

Local mode is a single JVM; on a real cluster the same settings apply per
executor. AQE is on so joins re-plan at runtime (broadcast switch, skew
splitting) — this is the 100 TB story: we declare logical plans and let
AQE/Catalyst pick physical strategy from observed sizes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def get_spark(app_name: str = "python_cdc_postgres_to_clickhouse_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Shuffle partitions ≈ cores for local runs; on a 1000-executor cluster
    these would be set ≈ 2-3× total cores (AQE coalesces the excess).
    """
    n = cpus or DEFAULT_CPUS
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # columns carry NO parquet min/max statistics, which silently
        # disables the data skipping the clustered/Z-ordered layouts
        # (operators/layout.py) exist to provide.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Python Data Source filter pushdown (sources/pydatasource.py).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally-created session.

    The correctness driver supplies its own SparkSession; only mutable confs
    may be set here. UTC pinning is required so timestamp hashing matches the
    DuckDB oracle (DuckDB timestamps are UTC-naive).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
    # rejects; read the raw int64 and convert in tables.load_table.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # INT96 writes carry no parquet stats — see get_spark.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark
