"""Mutation tests of the verification harness itself: the one oracle
comparator, ``oracle.compare_frames`` — behind tier-1's assert_parity,
``verify``, the driver sim, parity_sf1 and perfbench's check pass — must
DETECT each divergence class we rely on it to catch — planted value drift,
an int-vs-float dtype split (the r03 cdc_apply_latest failure class), a
missing/renamed column, and a row-count change. A harness that passes
everything proves nothing; this file is the proof it can fail."""

from __future__ import annotations

import pytest

from mapreduce_6_824_lab1_spark import ORACLES, QUERIES
from tests.conftest import SF_DIR, assert_parity
from tools.driver_sim import compare_frames

KEY = "wordcount"  # cheapest oracle-paired key


def test_harness_detects_value_drift(spark, duck):
    df = QUERIES[KEY](spark, SF_DIR)
    # oracle with every count shifted by 1: identical shape, wrong values
    mutated = f"SELECT word, cnt + 1 AS cnt FROM ({ORACLES[KEY]})"
    with pytest.raises(AssertionError):
        assert_parity(df, mutated, duck)


def test_harness_detects_int_float_dtype_split(spark, duck):
    df = QUERIES[KEY](spark, SF_DIR)
    # numerically identical but float-typed — the HUGEINT→float64 class
    # that slipped past the pre-r04 tolerance path and failed the real
    # driver's hash compare (ADVICE r3 item 3)
    mutated = f"SELECT word, CAST(cnt AS DOUBLE) AS cnt FROM ({ORACLES[KEY]})"
    with pytest.raises(AssertionError, match="dtype split"):
        assert_parity(df, mutated, duck)


def test_harness_detects_renamed_column(spark, duck):
    df = QUERIES[KEY](spark, SF_DIR)
    mutated = f"SELECT word, cnt AS n_occurrences FROM ({ORACLES[KEY]})"
    with pytest.raises(AssertionError, match="columns"):
        assert_parity(df, mutated, duck)


def test_harness_detects_dropped_rows(spark, duck):
    df = QUERIES[KEY](spark, SF_DIR)
    mutated = f"SELECT * FROM ({ORACLES[KEY]}) WHERE word != 'the'"
    with pytest.raises(AssertionError, match="rowcount"):
        assert_parity(df, mutated, duck)


def test_harness_passes_the_unmutated_oracle(spark, duck):
    # control: the same comparison with the real oracle is green
    assert_parity(QUERIES[KEY](spark, SF_DIR), ORACLES[KEY], duck)


def test_driver_sim_compare_detects_each_divergence_class():
    import pandas as pd

    base = pd.DataFrame({"k": ["a", "b"], "v": pd.array([1, 2], "int64")})
    assert compare_frames(base, base.copy()) is None
    # reordered rows still pass (order-insensitive)
    assert compare_frames(base, base.iloc[::-1].reset_index(drop=True)) is None
    # value drift
    drift = base.assign(v=pd.array([1, 3], "int64"))
    assert "values differ" in compare_frames(base, drift)
    # int-vs-float dtype split on numerically equal values
    split = base.assign(v=base["v"].astype("float64"))
    assert "dtype split" in compare_frames(base, split)
    # renamed column
    renamed = base.rename(columns={"v": "val"})
    assert "columns" in compare_frames(base, renamed)
    # dropped row
    assert "rowcount" in compare_frames(base, base.iloc[:1])


def test_parity_union_find_oracle_matches_reference():
    """tools/parity_sf1._union_find_labels is part of the sf1/sf10
    verification chain (it replaces the recursive-CTE oracle for the CC
    keys at scale) — pin it against the independent min-label union-find
    reference in test_dedup_scale on seeded random multigraphs, plus the
    degenerate shapes (self-loop, parallel edges)."""
    import random

    from tests.test_dedup_scale import _union_find_min_labels
    from tools.parity_sf1 import _union_find_labels

    assert _union_find_labels([(7, 7)]) == {7: 7}
    assert _union_find_labels([(1, 2), (2, 1), (1, 2)]) == {1: 1, 2: 1}

    rng = random.Random(11)
    for _ in range(50):
        n = rng.randint(2, 30)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(1, 50))
        ]
        assert _union_find_labels(edges) == _union_find_min_labels(edges)
