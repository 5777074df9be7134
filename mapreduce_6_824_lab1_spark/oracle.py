"""The oracle check: a Spark key's result equals its DuckDB oracle's.

This is the lab's golden diff (distributed output vs sequential output),
and the one definition of it: tier-1 (``tests/conftest.assert_parity``),
the ``verify`` CLI, ``tools/driver_sim.py``, ``tools/parity_sf1.py`` and
perfbench's check pass all decide "oracle-equal" here.

Not imported by the package ``__init__``: no key calls into this module.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import NamedTuple

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from mapreduce_6_824_lab1_spark import ORACLES, QUERIES, TABLES


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """Compare a Spark result with an oracle result after ``norm``, which
    makes the compare order-insensitive; returns a failure message or None.
    An int/float dtype split on a column fails even when the values are
    numerically equal; float columns match to atol 1e-6.
    tests/test_harness_mutation.py proves each divergence class is caught."""
    a, b = norm(sdf), norm(odf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rowcount {len(a)} vs {len(b)}"
    for c in a.columns:
        ai, bi = np.issubdtype(a[c].dtype, np.integer), np.issubdtype(
            b[c].dtype, np.integer
        )
        af, bf = np.issubdtype(a[c].dtype, np.floating), np.issubdtype(
            b[c].dtype, np.floating
        )
        if (ai and bf) or (af and bi):
            return f"dtype split on {c}: {a[c].dtype} vs {b[c].dtype}"
    if not a.equals(b):
        for c in a.columns:
            if not a[c].equals(b[c]):
                if np.issubdtype(a[c].dtype, np.floating):
                    if np.allclose(a[c], b[c], atol=1e-6, equal_nan=True):
                        continue
                return f"values differ in {c}"
        return "frames differ (ordering?)"
    return None


def fixture_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table over
    ``sf_dir/<table>.parquet`` — the tables the oracle SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class Check(NamedTuple):
    """What ``check_key`` found: the Spark row count, the failure message
    (None when clean), and the seconds spent in Spark and in the oracle."""

    rows: int
    failure: str | None
    spark_s: float
    oracle_s: float


def check_key(
    spark: SparkSession,
    key: str,
    sf_dir: str,
    duck: duckdb.DuckDBPyConnection,
    oracle: Callable[[duckdb.DuckDBPyConnection], pd.DataFrame] | None = None,
) -> Check:
    """Run ``key`` on ``sf_dir`` and check it: a rows-only key must return
    rows; any other key must pass ``compare_frames`` against ``ORACLES[key]``
    run on ``duck``. ``oracle(duck)`` stands in for the SQL oracle where
    that is intractable at scale. Spark and DuckDB errors propagate."""
    t0 = time.perf_counter()
    got = QUERIES[key](spark, sf_dir).toPandas()
    t1 = time.perf_counter()
    if oracle is None and key not in ORACLES:
        failure = None if len(got) else "rows-only returned 0 rows"
        return Check(len(got), failure, t1 - t0, 0.0)
    want = oracle(duck) if oracle else duck.execute(ORACLES[key]).fetchdf()
    oracle_s = time.perf_counter() - t1
    return Check(len(got), compare_frames(got, want), t1 - t0, oracle_s)
