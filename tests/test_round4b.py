"""Round-4b additions: path mining, integer EWMA, pareto frontier, exact
sliding median, weighted sampling — behavior vs independent pandas
recomputation (a third implementation besides Spark and the DuckDB oracle)
plus the plan shapes that make each viable at 100 TB."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.operators.temporal import EWMA_K, MEDIAN_WIN
from mapreduce_6_824_lab1_spark.operators.text_analysis import _KNUTH, _MOD
from mapreduce_6_824_lab1_spark.plans.inspect import formatted_plan
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_pd():
    df = pd.read_parquet(f"{SF_DIR}/events.parquet")
    # mirror catalog.normalize_events: ns -> µs truncation
    df["ts"] = pd.to_datetime(df["ts"]).dt.floor("us")
    return df.sort_values(["user_id", "ts", "event_id"], ignore_index=True)


def _cents(v: pd.Series) -> pd.Series:
    return np.floor(v * 100 + 0.5).astype("int64")


def test_ewma_matches_pandas_recomputation(spark, events_pd):
    got = (
        QUERIES["timeseries_ewma"](spark, SF_DIR)
        .toPandas()
        .sort_values(["event_type", "day"], ignore_index=True)
    )
    daily = (
        events_pd.assign(
            day=events_pd["ts"].dt.strftime("%Y-%m-%d"),
            cents=_cents(events_pd["value"]),
        )
        .groupby(["event_type", "day"], as_index=False)["cents"]
        .sum()
        .sort_values(["event_type", "day"], ignore_index=True)
    )
    rows = []
    for _, grp in daily.groupby("event_type"):
        xs = grp["cents"].tolist()
        for t in range(len(xs)):
            num = den = 0
            for k in range(min(EWMA_K, t + 1)):
                w = 1 << (EWMA_K - 1 - k)
                num += xs[t - k] * w
                den += w
            rows.append(num // den)
    daily["ewma_cents"] = rows
    merged = got.merge(
        daily,
        on=["event_type", "day"],
        suffixes=("", "_exp"),
        validate="one_to_one",
    )
    assert (merged["ewma_cents"] == merged["ewma_cents_exp"]).all()
    assert (merged["day_cents"] == merged["cents"]).all()


def test_ewma_single_window_pass(spark):
    """All 2·K lag columns must share ONE Window operator (one sort, one
    pass) — K separate windows would be K sorts of the daily table."""
    plan = formatted_plan(QUERIES["timeseries_ewma"](spark, SF_DIR))
    import re

    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_pareto_frontier_matches_bruteforce(spark):
    got = QUERIES["pareto_frontier"](spark, SF_DIR).toPandas()
    part = pd.read_parquet(f"{SF_DIR}/part.parquet")
    pts = (
        part.assign(price_cents=_cents(part["p_retailprice"]))
        .groupby("price_cents")
        .agg(best_size=("p_size", "max"), n_parts=("p_size", "size"))
        .reset_index()
    )
    keep = []
    for _, r in pts.iterrows():
        dominated = (
            (pts["price_cents"] < r["price_cents"])
            & (pts["best_size"] >= r["best_size"])
        ).any()
        if not dominated:
            keep.append((r["price_cents"], r["best_size"], r["n_parts"]))
    exp = set(keep)
    assert {tuple(r) for r in got.to_numpy()} == exp
    # frontier is strictly monotone: price up => size up
    srt = got.sort_values("price_cents")
    assert srt["best_size"].is_monotonic_increasing
    assert srt["best_size"].nunique() == len(srt)


def test_sliding_median_matches_pandas(spark, events_pd):
    got = (
        QUERIES["window_sliding_median"](spark, SF_DIR)
        .toPandas()
        .set_index("event_id")
    )
    exp_med, exp_n, ids = [], [], []
    for _, grp in events_pd.groupby("user_id"):
        cents = _cents(grp["value"]).tolist()
        for i in range(len(cents)):
            win = sorted(cents[max(0, i - MEDIAN_WIN + 1) : i + 1])
            ids.append(grp["event_id"].iloc[i])
            exp_med.append(win[(len(win) + 1) // 2 - 1])
            exp_n.append(len(win))
    exp = pd.DataFrame(
        {"med_cents": exp_med, "n_win": exp_n}, index=ids
    )
    joined = got.join(exp, rsuffix="_exp")
    assert (joined["med_cents"] == joined["med_cents_exp"]).all()
    assert (joined["n_win"] == joined["n_win_exp"]).all()


def test_path_topk_uses_take_ordered(spark):
    """The top-10 must be a TakeOrdered, not a global sort of all paths."""
    plan = formatted_plan(QUERIES["events_path_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_path_topk_paths_have_exactly_three_steps(spark):
    got = QUERIES["events_path_topk"](spark, SF_DIR).toPandas()
    assert len(got) > 0
    assert (got["path"].str.split(">").str.len() == 3).all()
    # counts are descending with path as deterministic tie-break
    assert (got["n_users"].diff().dropna() <= 0).all()


def test_sample_weighted_is_nested_and_exact(spark):
    """Membership must be the documented pure hash function of the key, and
    halving every acceptance threshold (as if max_cents doubled under new
    data) must select a strict SUBSET — the nested-sample property that
    keeps incremental reruns stable."""
    got = (
        QUERIES["sample_weighted"](spark, SF_DIR)
        .toPandas()
        .set_index("o_orderstatus")
    )
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cents = _cents(orders["o_totalprice"])
    mx = cents.max()
    h = (orders["o_orderkey"].astype("int64") * _KNUTH) % _MOD
    kept = h < (cents * _MOD) // mx
    exp = (
        pd.DataFrame(
            {
                "status": orders["o_orderstatus"],
                "kept": kept,
                "cents": cents,
            }
        )
        .groupby("status")
        .agg(n_total=("kept", "size"), n_kept=("kept", "sum"))
    )
    assert (got["n_total"] == exp["n_total"]).all()
    assert (got["n_kept"] == exp["n_kept"]).all()
    kept_half = h < (cents * _MOD) // (2 * mx)
    assert (kept_half <= kept).all() and kept_half.sum() < kept.sum()


def test_sample_weighted_broadcasts_max(spark):
    plan = formatted_plan(QUERIES["sample_weighted"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_rolling_corr_bounded_and_matches_numpy(spark):
    """corr8 must lie in [-1, 1] and equal numpy's corrcoef on the same
    integer window sums (third implementation vs Spark and DuckDB)."""
    got = QUERIES["window_rolling_corr"](spark, SF_DIR).toPandas()
    valid = got["corr8"].dropna()
    assert ((valid >= -1) & (valid <= 1)).all()
    assert len(valid) > 0
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.strftime("%Y-%m-%d")
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    daily = (
        ev.groupby(["event_type", "day"])
        .agg(x=("cents", "size"), y=("cents", "sum"))
        .reset_index()
        .sort_values(["event_type", "day"], ignore_index=True)
    )
    from mapreduce_6_824_lab1_spark.operators.temporal import CORR_WIN

    got = got.set_index(["event_type", "day"])
    for _, grp in daily.groupby("event_type"):
        xs, ys = grp["x"].to_numpy(), grp["y"].to_numpy()
        for i in range(len(grp)):
            lo = max(0, i - CORR_WIN + 1)
            wx, wy = xs[lo : i + 1], ys[lo : i + 1]
            key = (grp["event_type"].iloc[i], grp["day"].iloc[i])
            have = got.loc[key, "corr8"]
            if len(wx) < 2 or wx.std() == 0 or wy.std() == 0:
                assert pd.isna(have), key
            else:
                exp = np.corrcoef(wx, wy)[0, 1]
                assert abs(have - exp) < 1e-6, (key, have, exp)


def test_mad_fence_is_robust_to_extremes(spark, events_pd):
    """Pandas recompute plus the robustness property itself: the median/
    MAD statistics computed WITH the outliers must equal numpy's on the
    same data (exactness), and the flagged rows must all sit strictly
    outside the fence (consistency)."""
    from mapreduce_6_824_lab1_spark.operators.analytics import MAD_K

    got = (
        QUERIES["anomaly_mad_robust"](spark, SF_DIR)
        .toPandas()
        .set_index("event_type")
    )
    cents = _cents(events_pd["value"])
    for et, grp in events_pd.assign(c=cents).groupby("event_type"):
        xs = np.sort(grp["c"].to_numpy())
        med = xs[(len(xs) + 1) // 2 - 1]  # percentile_disc(0.5): lower
        adev = np.sort(np.abs(grp["c"].to_numpy() - med))
        mad = adev[(len(adev) + 1) // 2 - 1]
        assert got.loc[et, "med_cents"] == med, et
        assert got.loc[et, "mad_cents"] == mad, et
        n_out = int((np.abs(grp["c"].to_numpy() - med) > MAD_K * mad).sum())
        assert got.loc[et, "n_outliers"] == n_out, et


def test_abc_classes_partition_and_order(spark):
    got = (
        QUERIES["abc_classification"](spark, SF_DIR)
        .toPandas()
        .set_index("abc")
    )
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    rev = (
        li.assign(c=_cents(li["l_extendedprice"]))
        .groupby("l_partkey")["c"]
        .sum()
    )
    assert got["n_parts"].sum() == len(rev)
    assert got["class_cents"].sum() == rev.sum()
    total = rev.sum()
    # class A holds <= 80% of revenue by construction (the NEXT part would
    # cross the line), and A parts out-earn C parts per capita
    if "A" in got.index and "C" in got.index:
        assert got.loc["A", "class_cents"] * 100 <= total * 80 + total
        per_a = got.loc["A", "class_cents"] / got.loc["A", "n_parts"]
        per_c = got.loc["C", "class_cents"] / got.loc["C", "n_parts"]
        assert per_a > per_c


def test_abc_bucket_decomposition_matches_naive_cumsum(spark):
    """The bucketed cumsum (local window + broadcast bucket offsets) must
    equal the naive single-window running sum exactly — including ties on
    cents, which must compose across the bucket cut via the partkey
    tie-break."""
    got = (
        QUERIES["abc_classification"](spark, SF_DIR)
        .toPandas()
        .set_index("abc")
        .sort_index()
    )
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    rev = (
        li.assign(c=_cents(li["l_extendedprice"]))
        .groupby("l_partkey", as_index=False)["c"]
        .sum()
        .sort_values(["c", "l_partkey"], ascending=[False, True])
    )
    cum = rev["c"].cumsum()
    total = int(rev["c"].sum())
    abc = np.where(
        cum * 100 <= total * 80, "A", np.where(cum * 100 <= total * 95, "B", "C")
    )
    ref = (
        rev.assign(abc=abc)
        .groupby("abc")["c"]
        .agg(n_parts="size", class_cents="sum")
    ).sort_index()
    assert list(got.index) == list(ref.index)
    assert (got["n_parts"].to_numpy() == ref["n_parts"].to_numpy()).all()
    assert (
        got["class_cents"].to_numpy() == ref["class_cents"].to_numpy()
    ).all()


def test_incremental_topk_segments_both_contribute(spark):
    """The merge must genuinely draw from both segments (otherwise the
    operator silently degenerates to a plain top-k of one side)."""
    from mapreduce_6_824_lab1_spark.operators.relational import (
        INC_TOPK_CUTOFF,
    )

    got = QUERIES["incremental_topk"](spark, SF_DIR).toPandas()
    before = (got["order_day"] < INC_TOPK_CUTOFF).sum()
    after = (got["order_day"] >= INC_TOPK_CUTOFF).sum()
    assert before > 0 and after > 0, (before, after)
    assert len(got) == 25
