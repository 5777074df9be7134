"""Round-4d additions: event-time RANGE frame, FPGrowth frequent itemsets,
XML round-trip — independent recomputation and the algebraic invariants
(RANGE-peer insensitivity, Apriori monotonicity) the oracles can't express."""

from __future__ import annotations

import numpy as np
import pandas as pd

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.operators.analytics import FP_MIN_COUNT
from mapreduce_6_824_lab1_spark.operators.temporal import RANGE_US
from tests.conftest import SF_DIR


def test_time_range_matches_two_pointer_recompute(spark):
    got = (
        QUERIES["window_time_range"](spark, SF_DIR)
        .toPandas()
        .set_index("event_id")
    )
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    # cast via datetime64[us] so this works whether pandas materialized the
    # parquet TIMESTAMP(NANOS) column as ns or µs resolution
    ev["us"] = (
        pd.to_datetime(ev["ts"]).values.astype("datetime64[us]").astype("int64")
    )
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    for _, grp in ev.groupby("user_id"):
        g = grp.sort_values("us", ignore_index=True)
        lo = 0
        for i in range(len(g)):
            while g["us"].iloc[i] - g["us"].iloc[lo] > RANGE_US:
                lo += 1
            # peers: every row with the same µs shares the frame end
            hi = i
            while (
                hi + 1 < len(g) and g["us"].iloc[hi + 1] == g["us"].iloc[i]
            ):
                hi += 1
            eid = g["event_id"].iloc[i]
            assert got.loc[eid, "n_1h"] == hi - lo + 1, eid
            assert (
                got.loc[eid, "sum_cents_1h"]
                == g["cents"].iloc[lo : hi + 1].sum()
            ), eid


def test_fpgrowth_satisfies_apriori_monotonicity(spark):
    got = QUERIES["basket_fpgrowth"](spark, SF_DIR).toPandas()
    assert (got["freq"] >= FP_MIN_COUNT).all()
    by_set = {
        frozenset(s.split(",")): f
        for s, f in zip(got["itemset"], got["freq"])
    }
    # every proper subset of a frequent itemset is frequent with
    # at-least-equal support (downward closure)
    for items, freq in by_set.items():
        for drop in items:
            sub = items - {drop}
            if sub:
                assert sub in by_set, (items, sub)
                assert by_set[sub] >= freq, (items, sub)


def test_fpgrowth_pairs_agree_with_basket_pair_support(spark):
    fp = QUERIES["basket_fpgrowth"](spark, SF_DIR).toPandas()
    fp_pairs = {
        tuple(int(x) for x in s.split(",")): f
        for s, f in zip(fp["itemset"], fp["freq"])
        if s.count(",") == 1
    }
    top = QUERIES["basket_pair_support"](spark, SF_DIR).toPandas()
    for _, r in top.iterrows():
        if r["support"] >= FP_MIN_COUNT:
            assert fp_pairs[(int(r["p1"]), int(r["p2"]))] == r["support"]


def test_tws_processor_matches_groupstate_harness():
    """The transformWithState processor (gated off in this sandbox — no
    protobuf) must produce byte-identical sessions to the GroupState
    harness when driven through a fake handle, batch by batch."""
    from mapreduce_6_824_lab1_spark.streaming.stateful import (
        GAP_NS,
        _fold_sessions,
        _SessionProcessor,
        _sessions_frame,
    )

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def clear(self):
            self.v = None

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()

        def getValueState(self, name, schema):
            return self.state

    base = 1_700_000_000_000_000_000
    batches = [
        pd.DataFrame(
            {
                "ts": [base, base + GAP_NS // 2],
                "value": [1.0, 2.0],
                "event_type": ["a", "b"],
            }
        ),
        pd.DataFrame(
            {
                "ts": [base + GAP_NS // 2 + 10, base + 5 * GAP_NS],
                "value": [3.0, 4.0],
                "event_type": ["a", "__flush__"],
            }
        ),
    ]

    proc = _SessionProcessor()
    handle = FakeHandle()
    proc.init(handle)
    tws_out = []
    for b in batches:
        tws_out.extend(
            pdf
            for pdf in proc.handleInputRows((7,), iter([b]), None)
        )
    tws = pd.concat(tws_out, ignore_index=True)

    state = None
    ref_out = []
    for b in batches:
        closed, state = _fold_sessions(7, b.sort_values("ts"), state)
        ref_out.append(_sessions_frame(closed))
    ref = pd.concat(ref_out, ignore_index=True)

    pd.testing.assert_frame_equal(tws, ref)
    # the first three events merge across the batch boundary (GroupState /
    # ValueState carry-over) into one session, closed by the flush sentinel
    assert tws["n_events"].tolist() == [3]
    assert handle.state.v is None  # flush left no dangling state


def test_type_count_processor_reads_map_once_without_misses():
    """_TypeCountProcessor._accumulate reads each (user, batch) map ONCE
    through ``iterator()`` and writes touched types with ``updateValue``:
    T + 1 state round-trips for T touched types. A ``getValue`` on a
    first-seen type is a miss the JVM state server logs as a WARN, so the
    fake MapState fails on one."""
    from mapreduce_6_824_lab1_spark.streaming.stateful import (
        _TypeCountProcessor,
    )

    class FakeMapState:
        def __init__(self):
            self.m = {}
            self.calls = []

        def getValue(self, key):
            self.calls.append("getValue")
            assert key in self.m, f"getValue miss on {key}"
            return self.m[key]

        def iterator(self):
            self.calls.append("iterator")
            return iter(list(self.m.items()))

        def updateValue(self, key, value):
            self.calls.append("updateValue")
            self.m[key] = value

    class FakeHandle:
        def __init__(self):
            self.state = FakeMapState()

        def getMapState(self, name, key_schema, value_schema):
            return self.state

    proc = _TypeCountProcessor()
    handle = FakeHandle()
    proc.init(handle)
    first = pd.DataFrame(
        {"event_type": ["a", "b", "a"], "value": [1.0, 2.5, 0.25]}
    )
    second = pd.DataFrame({"event_type": ["a", "c"], "value": [3.0, 0.1]})

    assert sorted(proc._accumulate(first)) == [("a", 2, 125), ("b", 1, 250)]
    handle.state.calls.clear()
    assert sorted(proc._accumulate(second)) == [("a", 3, 425), ("c", 1, 10)]
    assert handle.state.calls == ["iterator", "updateValue", "updateValue"]
    assert handle.state.m == {
        ("a",): (3, 425),
        ("b",): (1, 250),
        ("c",): (1, 10),
    }


def test_csv_column_pruning_hides_unreferenced_corruption(spark, tmp_path):
    """Pins the trap source_corrupt_records defends against: when only
    n_chars is referenced, a row with a poisoned doc_id parses as GOOD
    (Spark prunes unparsed columns, so their type failures raise no
    corrupt flag). If this behavior ever changes, the full-column audit
    can be simplified — until then it is load-bearing."""
    p = tmp_path / "zone"
    p.mkdir()
    (p / "data.csv").write_text("1,ok,en,web,5\nbadid,txt,en,web,7\n")
    schema = (
        "doc_id long, text string, lang string, source string,"
        " n_chars long, _bad string"
    )
    back = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .schema(schema)
        .csv(str(p))
    )
    import pyspark.sql.functions as F

    narrow = back.select(
        F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0)).alias("bad"),
        F.sum("n_chars").alias("chars"),
    ).collect()[0]
    assert narrow.bad == 0 and narrow.chars == 12  # poison invisible!
    full = back.select(
        F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0)).alias("bad"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("n_chars"))).alias(
            "chars"
        ),
        F.sum(F.when(F.col("_bad").isNull(), F.col("doc_id"))).alias("ids"),
    ).collect()[0]
    assert full.bad == 1 and full.chars == 5 and full.ids == 1


def test_try_arith_exercises_both_outcome_classes(spark):
    """The quarantine only means something if the fixtures actually
    produce BOTH outcomes for each try_* operator."""
    got = QUERIES["scalar_try_arith"](spark, SF_DIR).toPandas()
    assert got["n_div_null"].sum() > 0
    assert got["n_mul_null"].sum() > 0
    assert got["n_mul_ok"].sum() > 0
    assert (
        got["n_mul_null"].sum() + got["n_mul_ok"].sum()
        == got["n_rows"].sum()
    )
