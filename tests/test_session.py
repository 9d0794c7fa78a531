"""``session``: ``get_spark``'s static configs, its driver heap default,
and ``set_confs`` (a locked config is skipped, any other failure is loud)."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.errors import AnalysisException, ArithmeticException, IllegalArgumentException
from pyspark.sql import functions as F

from elastic_surv_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    default_driver_memory,
    set_confs,
)
from tests.conftest import SF_SMOKE


def test_set_confs_skips_locked_keys_and_sets_the_rest(spark):
    conf = spark.conf
    # both are fixed once the session exists: Spark refuses them
    locked = {"spark.driver.memory": "1g", "spark.sql.warehouse.dir": "/nonexistent"}
    for k, v in locked.items():
        with pytest.raises(AnalysisException):
            conf.set(k, v)
    before = {k: conf.get(k, None) for k in locked}
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = conf.get(key)
    try:
        set_confs(spark, {**locked, key: "12345"})
        assert conf.get(key) == "12345"
        assert {k: conf.get(k, None) for k in locked} == before
    finally:
        conf.set(key, old)


def test_set_confs_raises_on_a_bad_value(spark):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    with pytest.raises(IllegalArgumentException):
        set_confs(spark, {key: "not-a-number"})
    assert spark.conf.get(key) == old


def test_get_spark_sizes_codegen_cache_and_turns_off_origin_capture(spark):
    conf = spark.conf
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # both are static: only the session builder can set them
    with pytest.raises(AnalysisException, match="CANNOT_MODIFY_STATIC_CONFIG"):
        conf.set("spark.sql.codegen.cache.maxEntries", "100")


def test_default_driver_memory_is_capped_by_physical_memory(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert default_driver_memory() == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEMORY")
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    assert default_driver_memory() == f"{min(48 * 1024, half_mb)}m"


def test_codegen_cache_keeps_a_row_compiled_across_other_queries(spark):
    """A registry row rerun after more than 100 other compiled classes
    compiles nothing: its classes are still cached. With Spark's default
    100-entry cache the filler evicts them and the rerun recompiles."""
    from elastic_surv_spark.plans.queries import REGISTRY, release_shared_caches

    hist = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def run_row():
        release_shared_caches()
        df = REGISTRY["km_user_lifetimes"].fn(spark, SF_SMOKE)
        df.write.format("noop").mode("overwrite").save()

    run_row()
    # filler: one new class per query (the literal is inlined in its code)
    base = random.Random().randrange(1 << 40)
    before = hist.getCount()
    for i in range(150):
        spark.range(2).selectExpr(f"id * {base + i} AS x") \
            .write.format("noop").mode("overwrite").save()
    assert hist.getCount() - before >= 150
    before = hist.getCount()
    run_row()
    assert hist.getCount() == before


def test_ansi_divide_by_zero_still_raises_without_origin_capture(spark):
    """With the origin capture off a Column-API error still fails loudly,
    with its error condition and the failing fragment named."""
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ArithmeticException) as exc:
            spark.range(3).select((F.col("id") / F.lit(0)).alias("x")).collect()
    finally:
        spark.conf.set(key, old)
    assert exc.value.getCondition() == "DIVIDE_BY_ZERO"
    assert '== DataFrame ==\n"divide"' in str(exc.value)
