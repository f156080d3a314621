"""SparkSession bootstrap tuned for the engine.

Local-mode testing uses ``local[N]``; the same conf scales to a real
cluster (AQE, adaptive partition coalescing, Arrow for the Python
boundary). The nanos-as-long legacy flag is required because the driver
fixtures' ``events`` table stores TIMESTAMP(NANOS), which Spark's
parquet reader rejects natively.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_spark(app_name: str = "snowflake_emulator_spark", master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Snowflake treats double-quoted tokens as IDENTIFIERS, not
        # string literals — Spark's ANSI conf matches that exactly
        .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_engine_confs(spark)


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs on an externally-provided session (the
    driver owns its own SparkSession; these are safe at runtime)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    # PySpark logs the JVM stack trace of every failed analysis (about
    # 10 KB each) through these two loggers; the engine maps the error
    # to a Snowflake code and returns it, so the trace is only noise
    from pyspark.logger import PySparkLogger

    for name in ("SQLQueryContextLogger", "DataFrameQueryContextLogger"):
        PySparkLogger.getLogger(name).disabled = True
    from .functions.extras import register_extras
    from .functions.textsim import register_text_similarity

    register_text_similarity(spark)
    register_extras(spark)
    return spark
