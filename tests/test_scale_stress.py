"""Spill/skew stress evidence (VERDICT r2 ask #7): the 100 TB claims argued
from plan text are exercised here at runtime — AQE's skew-join split is
PINNED actually firing on a planted hot key under tightened thresholds, and
the two skew-sensitive operators complete correctly at sf0.1 with
``spark.sql.shuffle.partitions`` forced pathologically low (each shuffle
partition then carries ~25× its tuned share, the local stand-in for an
under-provisioned reducer count)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_6_824_lab1_spark import ORACLES, QUERIES
from mapreduce_6_824_lab1_spark.oracle import fixture_views
from mapreduce_6_824_lab1_spark.session import scoped_conf

SF01 = "/root/testdata/sf0.1"


def _conf(spark, **kv):
    """scoped_conf with __-for-. keys (kwarg-friendly test shorthand)."""
    return scoped_conf(spark, {k.replace("__", "."): v for k, v in kv.items()})


def test_aqe_skew_split_fires_on_planted_hot_key(spark):
    """A 95%-hot join key under tightened AQE thresholds must be split:
    the final adaptive plan carries SortMergeJoin(skew=true) and a skewed
    AQEShuffleRead — the exact mechanism the engine's unsalted fact-fact
    joins rely on at 100 TB (cluster.py documents the production
    256m/5×median thresholds; here they are scaled to fixture bytes)."""
    with _conf(
        spark,
        **{
            "spark__sql__autoBroadcastJoinThreshold": "-1",
            "spark__sql__adaptive__skewJoin__skewedPartitionThresholdInBytes": "64k",
            "spark__sql__adaptive__advisoryPartitionSizeInBytes": "16k",
            "spark__sql__adaptive__skewJoin__skewedPartitionFactor": "2",
        },
    ):
        left = spark.range(300_000).select(
            F.when(F.col("id") % 20 < 19, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pl"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 300_000
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan
    assert "skewed" in plan, plan  # AQEShuffleRead: hot partition was split


@pytest.mark.parametrize("partitions", ["2"])
def test_dedup_ngram_jaccard_low_partitions_sf01(spark, partitions):
    """The posting-list near-dup join at sf0.1 with 2 shuffle partitions:
    every shingle bucket lands on one of two reducers — completion plus a
    row-count match against the DuckDB oracle shows the DF-capped plan
    degrades gracefully instead of OOMing or dropping pairs."""
    with _conf(spark, spark__sql__shuffle__partitions=partitions):
        df = QUERIES["dedup_ngram_jaccard"](spark, SF01)
        got = df.count()
    con = fixture_views(SF01)
    want = len(con.execute(ORACLES["dedup_ngram_jaccard"]).df())
    con.close()
    assert got == want and got > 0


def test_agg_skew_salted_low_partitions_sf01(spark):
    """Salted two-stage aggregation at sf0.1 with 2 reducers must still
    equal the PLAIN unsalted aggregate (the DuckDB oracle) — salting is
    result-invariant by construction, under any reducer count."""
    with _conf(spark, spark__sql__shuffle__partitions="2"):
        salted = {
            r.event_type: (r.n_events, r.total_value, r.max_value)
            for r in QUERIES["agg_skew_salted"](spark, SF01).collect()
        }
    con = fixture_views(SF01)
    plain = {
        r.event_type: (int(r.n_events), r.total_value, r.max_value)
        for r in con.execute(ORACLES["agg_skew_salted"]).df().itertuples()
    }
    con.close()
    assert set(salted) == set(plain) and len(salted) == 5
    for t, (n, tot, mx) in salted.items():
        pn, ptot, pmx = plain[t]
        assert n == pn and mx == pytest.approx(pmx, abs=1e-6), t
        assert tot == pytest.approx(ptot, abs=1e-6), t
