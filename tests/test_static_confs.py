"""get_spark warns when a reused session ignores the codegen-cache size: a
static conf is honored only when the session is built, so a getOrCreate
that reuses a running session would otherwise keep the old value silently."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql.conf import RuntimeConfig

from mapreduce_6_824_lab1_spark.session import CODEGEN_CACHE_CONF, get_spark


def test_matching_static_conf_does_not_warn(spark):
    assert spark.conf.get(CODEGEN_CACHE_CONF) == "2000"
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        get_spark(app_name="mr-spark-tests", shuffle_partitions=4)


def test_ignored_static_conf_warns(spark, monkeypatch):
    real_get = RuntimeConfig.get

    def fake_get(self, key, *args, **kwargs):
        if key == CODEGEN_CACHE_CONF:
            return "100"  # what a session built without it would report
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", fake_get)
    with pytest.warns(RuntimeWarning, match=CODEGEN_CACHE_CONF):
        get_spark(app_name="mr-spark-tests", shuffle_partitions=4)
