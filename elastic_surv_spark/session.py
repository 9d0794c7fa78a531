"""SparkSession construction and runtime tuning.

Local harness runs on ``local[$SPARK_GRAFT_CPUS]``; production posture is a
multi-executor cluster, so every default here (AQE, shuffle partitions sized
to cores, UTC session time zone, Arrow) is chosen to survive a 1000-executor
scale-up unchanged.

Two static configs cut fixed per-call costs that repeat on every query of a
session. Neither changes a plan or a result; both can only be set when the
session is built (``spark.conf.set`` raises ``CANNOT_MODIFY_STATIC_CONFIG``),
so :func:`get_spark` sets them and :func:`tune`, which gets a session someone
else built, cannot:

- ``spark.sql.codegen.cache.maxEntries`` (:data:`CODEGEN_CACHE_ENTRIES`).
  Spark keeps 100 compiled whole-stage classes by default, and one pass over
  a few registry rows compiles about 200, so each row's classes are evicted
  before it runs again and every run recompiles. A full 150-row registry
  run compiles 2,470 classes at sf0.001 and 2,486 at sf0.1; with the cache
  above that count a second run in the same session compiles 123 and 80
  (classes of rows whose generated code differs between runs). Cost: the
  cached classes' metaspace (≈20 MB more for a full registry run).
- ``spark.python.sql.dataFrameDebugging.enabled=false``. PySpark wraps each
  DataFrame and Column API call to record its Python call site for error
  messages: an active-session lookup, a ``spark.conf.get`` and two
  ``PySparkCurrentOrigin`` calls over py4j, a walk of the Python stack and
  an ``import ipykernel`` probe, about 10 py4j round trips per call. Cost: a
  failing DataFrame expression's error no longer names the Python
  ``file:line`` that built it. The failure is still raised as before (an
  ANSI divide by zero is still ``ArithmeticException [DIVIDE_BY_ZERO]``),
  and its ``== DataFrame ==`` block still names the failing fragment.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: compiled-class cache size, above the distinct-class count of a full
#: registry run (see the module docstring)
CODEGEN_CACHE_ENTRIES = 4096


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else the smaller of 48g and half of the
    machine's physical memory: a heap sized past physical memory lets the
    JVM grow until the kernel's OOM killer ends it."""
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if mem:
        return mem
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(48 * 1024, half_mb)}m"


def get_spark(app_name: str = "elastic-surv-spark", cpus: int | None = None) -> SparkSession:
    """The library's local session on ``cpus`` cores (default
    :func:`default_cpus`), heap :func:`default_driver_memory`.

    Besides the runtime configs :func:`tune` also sets, it sizes the codegen
    cache to :data:`CODEGEN_CACHE_ENTRIES` and turns off PySpark's per-call
    origin capture (``spark.python.sql.dataFrameDebugging.enabled``); the
    module docstring gives each one's reason and cost. Both are static, so a
    session built elsewhere keeps Spark's defaults.
    """
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
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
    :func:`get_spark`'s two static configs (codegen cache size, origin
    capture off) cannot be applied here: such a session keeps Spark's
    defaults for them.
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
