"""Round-4e additions: expectation audit, range-partition boundary
planning, OHLC candles — independent recomputation of the invariants the
shared oracles can't express (boundary balance, candle endpoint order)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.operators.analytics import _RB_K
from tests.conftest import SF_DIR


def test_expectations_counts_match_pandas(spark):
    got = (
        QUERIES["table_expectations"](spark, SF_DIR)
        .toPandas()
        .set_index("constraint_name")
    )
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")

    assert got.loc["orders_pk_unique", "n_checked"] == len(orders)
    assert got.loc["orders_pk_unique", "n_violations"] == len(orders) - orders[
        "o_orderkey"
    ].nunique()
    assert (
        got.loc["orders_fk_customer", "n_violations"]
        == (~orders["o_custkey"].isin(cust["c_custkey"])).sum()
    )
    m = li.merge(
        orders[["o_orderkey", "o_orderdate"]],
        left_on="l_orderkey",
        right_on="o_orderkey",
        how="left",
    )
    assert got.loc["lineitem_fk_orders", "n_checked"] == len(li)
    assert (
        got.loc["lineitem_ship_after_order", "n_violations"]
        == (m["l_shipdate"] < m["o_orderdate"]).sum()
    )
    # passed is derived, never asserted independently of the count
    assert (got["passed"] == (got["n_violations"] == 0)).all()


def test_range_bounds_are_balanced_and_monotone(spark):
    got = (
        QUERIES["partition_range_bounds"](spark, SF_DIR)
        .toPandas()
        .sort_values("bucket_id", ignore_index=True)
    )
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    cents = np.floor(li["l_extendedprice"].to_numpy() * 100 + 0.5).astype(
        "int64"
    )
    n = len(cents)
    assert len(got) == _RB_K - 1
    # boundaries strictly increase, targets are the exact ceil(i*n/k) ranks
    assert got["split_cents"].is_monotonic_increasing
    for _, row in got.iterrows():
        i = row["bucket_id"]
        target = -(-i * n // _RB_K)
        assert row["target_rows"] == target
        le = int((cents <= row["split_cents"]).sum())
        lt = int((cents < row["split_cents"]).sum())
        # split is the SMALLEST value reaching the target rank
        assert le == row["rows_le_split"] >= target
        assert lt < target
    # resulting partitions are balanced: every range holds < n/k + max
    # single-value multiplicity rows (exact split limited by value ties)
    bounds = got["split_cents"].to_list()
    sizes = np.histogram(
        cents, bins=[-np.inf] + [b + 0.5 for b in bounds] + [np.inf]
    )[0]
    assert sizes.sum() == n
    top_multiplicity = int(pd.Series(cents).value_counts().iloc[0])
    assert sizes.max() <= n / _RB_K + top_multiplicity + 1


def test_ohlc_candles_match_pandas_recompute(spark):
    got = (
        QUERIES["timeseries_ohlc"](spark, SF_DIR)
        .toPandas()
        .set_index(["week", "event_type"])
        .sort_index()
    )
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ts = pd.to_datetime(ev["ts"]).dt.floor("us")
    ev = ev.assign(
        ts=ts,
        week=ts.dt.to_period("W-SUN").dt.start_time.dt.strftime("%Y-%m-%d"),
        cents=np.floor(ev["value"] * 100 + 0.5).astype("int64"),
    ).sort_values(["ts", "event_id"], ignore_index=True)
    ref = ev.groupby(["week", "event_type"]).agg(
        n_events=("cents", "size"),
        open_cents=("cents", "first"),
        close_cents=("cents", "last"),
        high_cents=("cents", "max"),
        low_cents=("cents", "min"),
        volume_cents=("cents", "sum"),
    )
    assert got.index.equals(ref.sort_index().index)
    pd.testing.assert_frame_equal(
        got, ref.sort_index(), check_dtype=False
    )
    # candle invariants: low <= open/close <= high
    assert (got["low_cents"] <= got[["open_cents", "close_cents"]].min(1)).all()
    assert (got["high_cents"] >= got[["open_cents", "close_cents"]].max(1)).all()
