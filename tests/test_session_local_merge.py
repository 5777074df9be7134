"""The cluster profile's session-window map-side merge conf
(``cluster.STREAMING_CLUSTER_CONF``) must leave the bounded registry key's
output unchanged and must really switch the streaming plan to
``MergingSessions``. Its throughput ruling is in SCALING_r14.md."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.cluster import STREAMING_CLUSTER_CONF
from mapreduce_6_824_lab1_spark.session import scoped_conf
from tests.conftest import SF_DIR


def _merge_conf() -> str:
    """The key as the cluster profile spells it, so a renamed or
    misspelled conf there fails these tests."""
    keys = [k for k in STREAMING_CLUSTER_CONF if "sessionWindow" in k]
    assert len(keys) == 1 and STREAMING_CLUSTER_CONF[keys[0]] == "true", keys
    return keys[0]


def test_conf_leaves_session_window_output_unchanged(spark):
    """MergingSessionsExec is a physical rewrite: stream_session_window
    must return the same rows with the conf off and on."""
    conf = _merge_conf()

    def rows():
        df = QUERIES["stream_session_window"](spark, SF_DIR)
        return sorted(map(repr, df.collect()))

    with scoped_conf(spark, {conf: "false"}):
        off = rows()
    with scoped_conf(spark, {conf: "true"}):
        on = rows()
    assert off == on
    assert off  # the fixture actually produced sessions


def test_conf_changes_streaming_plan(spark, tmp_path):
    """With the conf on, the session aggregation merges map-side before
    the shuffle. If Spark renames the conf, both plans come out identical
    and this fails."""
    conf = _merge_conf()

    def plan(tag):
        q = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "10")
            .load()
            .withWatermark("timestamp", "5 seconds")
            .groupBy(F.session_window("timestamp", "3 seconds"), "value")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / tag))
            .start()
        )
        try:
            # the physical plan is only built once a batch is planned
            for _ in range(50):
                if q.lastProgress is not None:
                    break
                time.sleep(0.2)
            return str(q._jsq.explainInternal(False))
        finally:
            q.stop()

    with scoped_conf(spark, {conf: "false"}):
        p_off = plan("off")
    with scoped_conf(spark, {conf: "true"}):
        p_on = plan("on")
    assert p_off != p_on
    assert "MergingSessions" in p_on
