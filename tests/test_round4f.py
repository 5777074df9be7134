"""Round-4f additions: vocab coverage curve, duplicate-substring signal,
exact-k hash reservoir — python recomputes plus the TakeOrdered plan pin."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.operators.curation3 import (
    _GRAM_K,
    _RESERVOIR_K,
    _VOCAB_N,
)
from mapreduce_6_824_lab1_spark.operators.text_analysis import _KNUTH, _MOD
from tests.conftest import SF_DIR


def test_vocab_coverage_matches_counter(spark):
    got = (
        QUERIES["text_vocab_coverage"](spark, SF_DIR)
        .toPandas()
        .sort_values("rank", ignore_index=True)
    )
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cnt = Counter(w for t in docs["text"] for w in t.split(" "))
    total = sum(cnt.values())
    ref = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_VOCAB_N]
    assert list(got["word"]) == [w for w, _ in ref]
    assert list(got["n_occurrences"]) == [c for _, c in ref]
    cum = 0
    for i, (_, c) in enumerate(ref):
        cum += c
        assert got["coverage_ppm"].iloc[i] == cum * 1_000_000 // total
    # the curve is a monotone share, capped at 1e6 ppm
    assert got["coverage_ppm"].is_monotonic_increasing
    assert got["coverage_ppm"].iloc[-1] <= 1_000_000


def test_substring_dupes_match_python_recompute(spark):
    got = (
        QUERIES["dedup_substring_ngrams"](spark, SF_DIR)
        .toPandas()
        .set_index("doc_id")
    )
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    grams: dict[int, list[str]] = {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        t = text.split(" ")
        if len(t) >= _GRAM_K:
            grams[did] = [
                " ".join(t[i : i + _GRAM_K])
                for i in range(len(t) - _GRAM_K + 1)
            ]
    owners: dict[str, set[int]] = {}
    for did, gs in grams.items():
        for g in gs:
            owners.setdefault(g, set()).add(did)
    dup = {g for g, ds in owners.items() if len(ds) >= 2}
    assert set(got.index) == set(grams)
    n_docs_with_dup = 0
    for did, gs in grams.items():
        nd = sum(g in dup for g in gs)
        assert got.loc[did, "n_grams"] == len(gs)
        assert got.loc[did, "n_dup_grams"] == nd
        assert got.loc[did, "dup_ppm"] == nd * 1_000_000 // len(gs)
        n_docs_with_dup += nd > 0
    # the fixture genuinely contains cross-document 8-gram duplication
    assert n_docs_with_dup > 0


def test_reservoir_is_exact_k_smallest_hashes_via_takeordered(spark):
    df = QUERIES["sample_reservoir"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in df._jdf.queryExecution().executedPlan().toString()
    got = df.toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    h = (docs["doc_id"] * _KNUTH) % _MOD
    ref = (
        docs.assign(h=h)
        .sort_values(["h", "doc_id"], ignore_index=True)
        .head(_RESERVOIR_K)
    )
    assert len(got) == _RESERVOIR_K
    assert set(got["doc_id"]) == set(ref["doc_id"])
    # stability: the sample is the k-smallest-hash set, so restricting the
    # corpus to any superset of it reproduces it exactly (diffable samples)
    assert (got.sort_values("h")["h"].to_numpy() == ref["h"].to_numpy()).all()


def test_chi_square_statistic_matches_python(spark):
    got = QUERIES["events_chi_square"](spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    wd = pd.to_datetime(ev["ts"]).dt.weekday  # 0=Mon, matches F.weekday
    ct = pd.crosstab(ev["event_type"], wd)
    n = ct.to_numpy().sum()
    chi2 = 0.0
    cells = 0
    for et in ct.index:
        for d in ct.columns:
            o = ct.loc[et, d]
            if o == 0:
                continue  # empty cells never appear in the grouped output
            e = ct.loc[et].sum() * ct[d].sum() / n
            row = got[(got["event_type"] == et) & (got["weekday"] == d)]
            assert len(row) == 1
            assert row["n_obs"].iloc[0] == o
            # micro-quantized cell values agree with float recompute to 1 ULP
            assert abs(row["expected_micro"].iloc[0] - e * 1e6) <= 1.0
            contrib = (o - e) ** 2 / e
            assert abs(row["contrib_micro"].iloc[0] - contrib * 1e6) <= 1.0
            chi2 += contrib
            cells += 1
    assert cells == len(got)
    assert abs(got["contrib_micro"].sum() / 1e6 - chi2) < 1e-3


def test_benford_ppm_sums_and_expectations(spark):
    import math

    got = QUERIES["stats_benford_digits"](spark, SF_DIR).toPandas()
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cents = np.floor(orders["o_totalprice"].to_numpy() * 100 + 0.5).astype(
        "int64"
    )
    first = pd.Series([str(c)[0] for c in cents])
    ref = first.value_counts()
    assert got["n_orders"].sum() == len(orders)
    for _, row in got.iterrows():
        assert row["n_orders"] == ref[row["digit"]]
        d = int(row["digit"])
        assert row["benford_ppm"] == math.floor(
            math.log10(1 + 1 / d) * 1e6 + 0.5
        )
        assert row["observed_ppm"] == row["n_orders"] * 1_000_000 // len(
            orders
        )


def test_bfs_frontier_equals_recursive_cte(spark):
    bfs = (
        QUERIES["graph_bfs_frontier"](spark, SF_DIR)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )
    rec = (
        QUERIES["sql_recursive_reachability"](spark, SF_DIR)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )
    pd.testing.assert_frame_equal(bfs, rec, check_dtype=False)
    # hop levels form a contiguous BFS layering from a single root
    assert (bfs["hops"] == 0).sum() == 1
    assert set(bfs["hops"]) == set(range(bfs["hops"].max() + 1))


def test_bfs_loop_never_calls_isempty(spark, monkeypatch):
    """Round 15: the empty-frontier early-exit test rides the hop's
    checkpoint job as an observed row count (OPTIMIZATION_r15.md:
    29 -> 25 jobs at sf0.1, one per hop) — the loop must never fall back
    to a standalone isEmpty() probe job. The monkeypatch makes any such
    call explode; the BFS result must still be the exact hop table."""
    from pyspark.sql import DataFrame

    def _boom(_self):
        raise AssertionError(
            "DataFrame.isEmpty called from the BFS loop — the empty "
            "probe must ride the checkpoint job via observe"
        )

    monkeypatch.setattr(DataFrame, "isEmpty", _boom)
    bfs = (
        QUERIES["graph_bfs_frontier"](spark, SF_DIR)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )
    assert (bfs["hops"] == 0).sum() == 1
    assert set(bfs["hops"]) == set(range(bfs["hops"].max() + 1))
