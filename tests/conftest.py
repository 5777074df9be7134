"""Shared fixtures: one SparkSession, one DuckDB connection with the fixture
views registered, and ``assert_parity``, a thin assert over the package's one
oracle comparator (``oracle.compare_frames``: column names, row count,
int/float dtype splits, order-insensitive values) — the same check that
``verify``, ``tools/driver_sim.py`` and ``tools/parity_sf1.py`` run."""

from __future__ import annotations

import os

import pytest

from mapreduce_6_824_lab1_spark.oracle import compare_frames, fixture_views
from mapreduce_6_824_lab1_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="mr-spark-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = fixture_views(SF_DIR)
    yield con
    con.close()


def assert_parity(spark_df, sql: str, duck_con) -> None:
    """Tier-1's oracle check: ``compare_frames`` of a Spark result vs the
    DuckDB result of ``sql``."""
    msg = compare_frames(spark_df.toPandas(), duck_con.execute(sql).fetchdf())
    assert msg is None, msg
