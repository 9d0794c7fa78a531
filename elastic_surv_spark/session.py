"""SparkSession construction and runtime tuning.

Local harness runs on ``local[$SPARK_GRAFT_CPUS]``; production posture is a
multi-executor cluster, so every default here (AQE, shuffle partitions sized
to cores, UTC session time zone, Arrow) is chosen to survive a 1000-executor
scale-up unchanged.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "elastic-surv-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or default_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to a session we did not build.

    The correctness driver hands our ``queries()`` callables an arbitrary
    SparkSession; these configs are all runtime-mutable and make results
    deterministic (UTC) and plans adaptive regardless of who built it.
    """
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # naive-micros parquet timestamps read as TimestampType at the scan
        # (fields-as-UTC under the UTC session tz) — keeps filter pushdown
        # and unix_micros/watermark semantics identical to duckdb's epoch_us
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    set_confs(spark, conf)
    return spark


def set_confs(spark: SparkSession, conf: dict[str, str]) -> None:
    """Set each runtime config, skipping the ones the session's owner locked.

    Spark refuses a static or otherwise unmodifiable key with an
    ``AnalysisException`` (``CANNOT_MODIFY_CONFIG`` /
    ``CANNOT_MODIFY_STATIC_CONFIG``); that key keeps its value. Any other
    error (a stopped session, a bad value) propagates.
    """
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            pass
