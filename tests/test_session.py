"""``session.set_confs``: a locked config is skipped, any other failure is loud."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException, IllegalArgumentException

from elastic_surv_spark.session import set_confs


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
