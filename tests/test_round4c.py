"""Round-4c additions: RFM segmentation, basket pair support, touch
attribution, composite quality gate, tolerance-bounded as-of join —
cross-operator consistency and the plan shapes that matter at scale."""

from __future__ import annotations

import pandas as pd
import pytest

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.operators.relational import ASOF_TOL_DAYS
from mapreduce_6_824_lab1_spark.plans.inspect import formatted_plan
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def rfm(spark):
    return QUERIES["customer_rfm"](spark, SF_DIR).toPandas()


def test_rfm_buckets_monotone_in_metric(rfm):
    """Value-based buckets must be order-isomorphic to the metric: sorting
    by the metric can never decrease the bucket."""
    for metric, bucket in (
        ("recency_days", "r_bucket"),
        ("frequency", "f_bucket"),
        ("monetary_cents", "m_bucket"),
    ):
        srt = rfm.sort_values(metric, ignore_index=True)
        assert srt[bucket].is_monotonic_increasing, metric
        assert set(srt[bucket]) <= {1, 2, 3, 4, 5}
    assert (
        rfm["rfm"]
        == rfm["r_bucket"] * 100 + rfm["f_bucket"] * 10 + rfm["m_bucket"]
    ).all()


def test_rfm_ties_share_buckets(rfm):
    """Equal metric values must land in the same bucket (the property the
    ntile() formulation lacks)."""
    for metric, bucket in (("frequency", "f_bucket"),):
        g = rfm.groupby(metric)[bucket].nunique()
        assert (g == 1).all()


def test_rfm_no_global_sort_window(spark):
    """The whole point vs ntile(): no Window operator (single-partition
    global sort) anywhere — cutoffs broadcast, assignment map-side."""
    plan = formatted_plan(QUERIES["customer_rfm"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_basket_pairs_match_bruteforce(spark):
    got = QUERIES["basket_pair_support"](spark, SF_DIR).toPandas()
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    items = li[["l_orderkey", "l_partkey"]].drop_duplicates()
    merged = items.merge(items, on="l_orderkey", suffixes=("_a", "_b"))
    merged = merged[merged["l_partkey_a"] < merged["l_partkey_b"]]
    exp = (
        merged.groupby(["l_partkey_a", "l_partkey_b"])
        .size()
        .reset_index(name="support")
        .sort_values(
            ["support", "l_partkey_a", "l_partkey_b"],
            ascending=[False, True, True],
            ignore_index=True,
        )
        .head(len(got))
    )
    assert got["support"].tolist() == exp["support"].tolist()
    assert got["p1"].tolist() == exp["l_partkey_a"].tolist()
    assert got["p2"].tolist() == exp["l_partkey_b"].tolist()


def test_basket_pairs_take_ordered(spark):
    plan = formatted_plan(QUERIES["basket_pair_support"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_attribution_conserves_users_and_value(spark):
    """Every user has exactly one first and one last touch, and the
    credited value must equal the corpus total on both sides."""
    got = QUERIES["events_attribution"](spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    n_users = ev["user_id"].nunique()
    total_cents = int(
        (ev["value"] * 100 + 0.5).apply(int).sum()
    )
    assert got["first_touch_users"].sum() == n_users
    assert got["last_touch_users"].sum() == n_users
    assert got["first_touch_cents"].sum() == total_cents
    assert got["last_touch_cents"].sum() == total_cents


def test_quality_gate_counts_are_consistent(spark):
    got = QUERIES["quality_gopher_filter"](spark, SF_DIR).toPandas()
    assert (got["n_pass"] <= got["n_docs"]).all()
    fails = got[
        [
            "n_fail_minwords",
            "n_fail_maxwords",
            "n_fail_wordlen",
            "n_fail_charset",
        ]
    ].sum(axis=1)
    # every failing doc fails >= 1 rule; rules may overlap
    assert (fails >= got["n_docs"] - got["n_pass"]).all()
    assert got["n_docs"].sum() == len(
        pd.read_parquet(f"{SF_DIR}/documents.parquet")
    )


def test_asof_tolerance_agrees_with_unbounded_asof(spark):
    """Where the unbounded as-of match is within tolerance the two
    operators must agree exactly; where it is staler than the tolerance,
    the tolerance variant must yield NULL (it can never find a BETTER
    match than the unbounded one)."""
    tol = (
        QUERIES["join_asof_tolerance"](spark, SF_DIR)
        .toPandas()
        .set_index("event_id")
    )
    base = (
        QUERIES["join_asof"](spark, SF_DIR).toPandas().set_index("event_id")
    )
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    eday = pd.to_datetime(
        ev.set_index("event_id")["ts"].dt.floor("us").dt.date
    )
    base_day = pd.to_datetime(base["order_day"])
    gap = (eday.loc[base.index] - base_day).dt.days
    within = base.index[gap <= ASOF_TOL_DAYS]
    beyond = base.index[gap > ASOF_TOL_DAYS]
    assert (
        tol.loc[within, "o_orderkey"] == base.loc[within, "o_orderkey"]
    ).all()
    assert (tol.loc[within, "gap_days"] == gap.loc[within]).all()
    assert tol.loc[beyond, "o_orderkey"].isna().all()
    # events absent from the unbounded join have no history at all
    no_hist = tol.index.difference(base.index)
    assert tol.loc[no_hist, "o_orderkey"].isna().all()
    assert len(tol) == len(ev)
    valid = tol["gap_days"].dropna()
    assert ((valid >= 0) & (valid <= ASOF_TOL_DAYS)).all()


def test_pattern_match_against_python_automaton(spark):
    """The regex formulation must agree with an explicit event-by-event
    state machine (open-chain automaton) — a third implementation guarding
    against engine regex semantics drift."""
    got = (
        QUERIES["events_pattern_match"](spark, SF_DIR)
        .toPandas()
        .set_index("user_id")
    )
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    for uid, grp in ev.groupby("user_id"):
        syms = [t[0] for t in grp["event_type"]]
        conv = 0
        open_chain = False
        for s in syms:
            if s == "v" and not open_chain:
                open_chain = True
            elif s == "p" and open_chain:
                conv += 1
                open_chain = False
            elif s in ("s", "e"):
                open_chain = False
        direct = sum(
            1 for a, b in zip(syms, syms[1:]) if a == "v" and b == "p"
        )
        assert got.loc[uid, "n_conversions"] == conv, uid
        assert got.loc[uid, "n_events"] == len(syms), uid
        # n_direct counts non-overlapping 'vp' bigrams; with 2-char
        # patterns overlap is impossible, so the zip count matches
        assert got.loc[uid, "n_direct"] == direct, uid
