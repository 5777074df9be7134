"""Property-based cross-implementation checks (hypothesis).

The lab's own test strategy is "two implementations must agree" (sequential
vs distributed golden diff). Here: the declarative wordcount plan, the RDD
mapF/reduceF homage, and a plain Python Counter must agree on ARBITRARY
generated corpora — not just the fixtures."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_6_824_lab1_spark.functions.text import words_of

WORDS = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=1, max_size=30
)
CORPUS = st.lists(WORDS, min_size=1, max_size=12)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=CORPUS)
def test_wordcount_matches_python_counter(spark, corpus):
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)], ["doc_id", "text"]
    )
    got = {
        r.word: r.cnt
        for r in words_of(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    want = Counter(w for ws in corpus for w in ws)
    assert got == dict(want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=CORPUS)
def test_rdd_mapreduce_matches_declarative(spark, corpus):
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)], ["doc_id", "text"]
    )
    declarative = {
        r.word: r.cnt
        for r in words_of(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    rdd = (
        docs.rdd.flatMap(lambda r: [(w, 1) for w in r.text.split(" ")])
        .reduceByKey(lambda a, b: a + b)
        .collect()
    )
    assert dict(rdd) == declarative


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=CORPUS)
def test_sliding_chunks_reconstruct_any_corpus(spark, corpus):
    """Lossless segmentation on ARBITRARY corpora: first `stride` tokens of
    every non-final chunk plus the whole final chunk reproduce the doc."""
    from mapreduce_6_824_lab1_spark.operators.curation import (
        CHUNK_STRIDE,
        sliding_chunks,
    )

    toks = spark.createDataFrame(
        [(i, ws) for i, ws in enumerate(corpus)], ["doc_id", "toks"]
    )
    pdf = sliding_chunks(toks).toPandas()
    for doc_id, ws in enumerate(corpus):
        grp = pdf[pdf["doc_id"] == doc_id].sort_values("chunk_id")
        rows = grp.to_dict("records")
        assert rows, doc_id
        out: list[str] = []
        for row in rows[:-1]:
            out.extend(row["chunk"].split(" ")[:CHUNK_STRIDE])
        out.extend(rows[-1]["chunk"].split(" "))
        assert out == ws, (doc_id, out, ws)


# ---------------------------------------------------------------------------
# Session fold: micro-batch-boundary invariance
# ---------------------------------------------------------------------------

EVENT_TIMES = st.lists(
    st.integers(min_value=0, max_value=10**6), min_size=1, max_size=40
)
SPLITS = st.lists(st.integers(min_value=0, max_value=40), max_size=4)


@settings(max_examples=50, deadline=None)
@given(times=EVENT_TIMES, splits=SPLITS)
def test_session_fold_invariant_to_batch_boundaries(times, splits):
    """Sessionization state carry-over is only correct if ANY way of
    cutting the (time-ordered) stream into micro-batches yields the same
    sessions as one big batch — the property both streaming harnesses
    (GroupState and transformWithState) rely on."""
    import pandas as pd

    from mapreduce_6_824_lab1_spark.streaming.stateful import (
        GAP_NS,
        _fold_sessions,
    )

    # scale generated offsets around the gap so both merges and breaks occur
    ts = sorted(t * (GAP_NS // 3) for t in times)
    frame = pd.DataFrame(
        {
            "ts": ts,
            "value": [1.0] * len(ts),
            "event_type": ["e"] * len(ts) + [],
        }
    )
    # single batch + explicit final flush
    flush = pd.DataFrame(
        {
            "ts": [max(ts) + 3 * GAP_NS],
            "value": [0.0],
            "event_type": ["__flush__"],
        }
    )
    whole = pd.concat([frame, flush], ignore_index=True)
    ref, ref_state = _fold_sessions(1, whole, None)
    assert ref_state is None

    cuts = sorted({min(s, len(ts)) for s in splits})
    pieces, prev = [], 0
    for c in cuts:
        pieces.append(frame.iloc[prev:c])
        prev = c
    pieces.append(pd.concat([frame.iloc[prev:], flush], ignore_index=True))

    out, state = [], None
    for piece in pieces:
        if len(piece) == 0:
            continue
        closed, state = _fold_sessions(1, piece, state)
        out.extend(closed)
    assert state is None
    assert out == ref


# ---------------------------------------------------------------------------
# hround: the engine-portable rounding every oracle depends on
# ---------------------------------------------------------------------------


def test_hround_identical_across_spark_duckdb_python(spark, duck):
    """floor(x·10ⁿ + 0.5)/10ⁿ must produce the bit-identical double in
    Spark, DuckDB, and Python for the same input double — the convention
    every money/ratio column in the oracle suite rests on. Exercised on
    the classic half-cent boundaries plus a seeded random sweep."""
    import math
    import random

    boundary = [
        0.125, 0.115, 2.675, 1.005, -0.125, -2.675, 0.0, -0.0,
        0.1 + 0.2, 1e12 + 0.005, -1e12 - 0.005, 5.5e-3, -5.5e-3,
    ]
    rng = random.Random(42)
    values = boundary + [
        rng.uniform(-1e6, 1e6) for _ in range(2000)
    ]
    for n in (0, 2, 4):
        py = [math.floor(v * 10**n + 0.5) / 10**n for v in values]
        rows = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "i long, v double"
        )
        from mapreduce_6_824_lab1_spark.functions.numeric import (
            hround,
            sql_hround,
        )

        got_spark = [
            r.h for r in rows.select(hround("v", n).alias("h")).orderBy("i").collect()
        ]
        duck.execute("CREATE OR REPLACE TABLE _hr AS SELECT * FROM (VALUES "
                     + ",".join(f"({i}, CAST({v!r} AS DOUBLE))" for i, v in enumerate(values))
                     + ") t(i, v)")
        got_duck = [
            r[0]
            for r in duck.execute(
                f"SELECT {sql_hround('v', n)} FROM _hr ORDER BY i"
            ).fetchall()
        ]
        assert got_spark == py, f"spark != python at n={n}"
        assert got_duck == py, f"duckdb != python at n={n}"


def test_cents_sum_identical_across_spark_duckdb_python(spark, duck):
    """cents_sum / sql_cents_sum (the round-12 exact money-sum twins) must
    produce the bit-identical double in Spark, DuckDB, and Python — per
    group, including groups engineered so a raw double sum sits ON a cent
    boundary (the q1 failure mode: fold-order noise flips the floor).
    The per-row quantization makes the group sum an exact integer, so
    the result is independent of fold order by construction."""
    import math
    import random

    from mapreduce_6_824_lab1_spark.functions.numeric import (
        cents_sum,
        sql_cents_sum,
    )

    rng = random.Random(7)
    # group 0: many .xx5 half-cent boundary values (binary-inexact);
    # group 1: large mixed-sign values (cancellation); group 2: random
    vals = (
        [(0, round(rng.randint(1, 99999) / 100 + 0.005, 3)) for _ in range(5000)]
        + [(1, rng.uniform(-1e6, 1e6)) for _ in range(5000)]
        + [(2, rng.uniform(0, 1e4)) for _ in range(5000)]
    )
    py = {}
    for g, v in vals:
        py[g] = py.get(g, 0) + math.floor(v * 100 + 0.5)
    py = {g: c / 100 for g, c in py.items()}

    rows = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(vals)],
        "i long, g long, v double",
    )
    got_spark = {
        r.g: r.s
        for r in rows.groupBy("g").agg(cents_sum("v").alias("s")).collect()
    }
    duck.execute(
        "CREATE OR REPLACE TABLE _cs AS SELECT * FROM (VALUES "
        + ",".join(
            f"({g}, CAST({v!r} AS DOUBLE))" for g, v in vals
        )
        + ") t(g, v)"
    )
    got_duck = {
        r[0]: r[1]
        for r in duck.execute(
            f"SELECT g, {sql_cents_sum('v')} FROM _cs GROUP BY g"
        ).fetchall()
    }
    assert got_spark == py, "spark != python"
    assert got_duck == py, "duckdb != python"


def test_knuth_hash_identical_across_spark_duckdb_python(spark, duck):
    """(key·2654435761) mod 2³² drives every deterministic sampler/mixer
    (sample_split, sample_weighted, mix_sources_*, shard_assign). Pin the
    three-engine agreement on the positive int64 key domain the fixtures
    use — pmod vs % must coincide there."""
    import random

    from mapreduce_6_824_lab1_spark.operators.text_analysis import (
        _KNUTH,
        _MOD,
    )

    # Valid key domain: k·2654435761 must stay under 2⁶³ (Spark ANSI mode
    # raises on long overflow — verified live), so k < 2³¹·¹ bounds the
    # convention; fixture keys (doc_id, orderkey ≤ ~10⁷) sit far inside.
    rng = random.Random(7)
    keys = [0, 1, 2**24 + 17, 2**31 - 1] + [
        rng.randrange(0, 2**31) for _ in range(2000)
    ]
    py = [(k * _KNUTH) % _MOD for k in keys]
    rows = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "i long, k long"
    )
    from pyspark.sql import functions as F

    got_spark = [
        r.h
        for r in rows.select(
            F.pmod(F.col("k") * _KNUTH, F.lit(_MOD)).alias("h")
        )
        .orderBy("i")
        .collect()
    ]
    duck.execute(
        "CREATE OR REPLACE TABLE _kh AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, CAST({k} AS BIGINT))" for i, k in enumerate(keys))
        + ") t(i, k)"
    )
    got_duck = [
        r[0]
        for r in duck.execute(
            f"SELECT (k * {_KNUTH}) % {_MOD} FROM _kh ORDER BY i"
        ).fetchall()
    ]
    assert got_spark == py
    assert got_duck == py


INTERVALS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),  # start
        st.integers(min_value=1, max_value=50),  # length
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ivs=INTERVALS)
def test_interval_union_duplication_invariant(spark, ivs):
    """Union length equals the python sweep AND is invariant under
    duplicating every interval — overlaps must count once, which is the
    whole point of the operator."""
    from mapreduce_6_824_lab1_spark.operators.temporal import (
        interval_union_fold,
    )

    rows = [
        (1, i, s, s + ln) for i, (s, ln) in enumerate(ivs)
    ]
    doubled = rows + [
        (1, len(rows) + i, s, e) for i, (_, _, s, e) in enumerate(rows)
    ]

    def run(rws):
        df = spark.createDataFrame(
            rws, "user_id long, event_id long, s long, e long"
        )
        out = interval_union_fold(df).collect()
        assert len(out) == 1
        return out[0]

    got = run(rows)
    # python sweep reference
    covered, islands = 0, 0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for _, _, s, e in rows):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e, islands = s, e, islands + 1
        else:
            cur_e = max(cur_e, e)
    covered += cur_e - cur_s
    assert got["covered_us"] == covered
    assert got["n_islands"] == islands
    got2 = run(doubled)
    assert got2["covered_us"] == covered  # duplication changes nothing
    assert got2["n_islands"] == islands
    assert got2["n_events"] == 2 * got["n_events"]


# adversarial point sets: many coincident times, bucket-boundary values
SWEEP_POINTS = st.lists(
    st.tuples(
        st.sampled_from(
            # exact hour boundaries, near-boundaries, and dense ties (µs)
            [0, 1, 3_599_999_999, 3_600_000_000, 3_600_000_001,
             7_200_000_000, 5_000_000, 5_000_000, 10_800_000_000]
        ),
        st.sampled_from([1, -1]),
    ),
    min_size=1,
    max_size=16,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(points=SWEEP_POINTS)
def test_concurrency_sweep_matches_serial_prefix_sum(spark, points):
    """The bucket-decomposed distributed prefix sum must equal the plain
    serial sweep for ANY point multiset — including ties at bucket
    boundaries, the class where an ordering mismatch between the local
    window and the offset table would show up (the interval_union
    tie-order bug's sibling hazard)."""
    from mapreduce_6_824_lab1_spark.operators.analytics import (
        concurrency_sweep,
    )

    rows = [(t, d, i) for i, (t, d) in enumerate(points)]
    df = spark.createDataFrame(rows, "t long, d long, event_id long")
    got = sorted(
        ((r["t"], r["conc"]) for r in concurrency_sweep(df).collect())
    )
    ref = []
    run = 0
    for t, d, _ in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        run += d
        ref.append((t, run))
    # compare as multisets of (t, conc): within equal (t,d) ties the row
    # identity is interchangeable, and the running values still must
    # match position-for-position in the global order
    assert sorted(ref) == got


# adversarial (key, value) sets: dense value ties spanning bucket
# boundaries, plus width extremes (every row its own bucket / one bucket)
PREFIX_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),  # duplicate keys allowed
        st.sampled_from([0, 1, 2, 3, 15, 16, 17, 31, 32, 33, 100]),
    ),
    min_size=1,
    max_size=24,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=PREFIX_ROWS, width=st.sampled_from([1, 16, 1_000_000]))
def test_bucketed_running_sum_matches_serial_cumsum(spark, rows, width):
    """bucketed_running_sum (abc_classification's decomposition) must
    equal the sequential cumulative sum for ANY value multiset and ANY
    bucket width — ties on the value must compose across the bucket cut
    via the key tie-break, and the width extremes degenerate to
    one-row-per-bucket / single-bucket without changing the result."""
    from mapreduce_6_824_lab1_spark.functions.prefix import (
        bucketed_running_sum,
    )

    data = [(i, k, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "rid long, k long, v long")
    got = {
        r["rid"]: r["running"]
        for r in bucketed_running_sum(
            df,
            "v",
            [F.desc("v"), F.asc("k"), F.asc("rid")],
            F.expr(f"-(v div {width})"),
        ).collect()
    }
    run = 0
    for rid, _, v in sorted(data, key=lambda r: (-r[2], r[1], r[0])):
        run += v
        assert got[rid] == run, (rid, width)
