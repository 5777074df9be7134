"""K-means verified against an independent numpy implementation of the same
deterministic algorithm (init = vec_id 0..k-1, 3 iterations, ties → lower
centroid id)."""

from __future__ import annotations

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.operators.kmeans import ITERATIONS, K
from tests.conftest import SF_DIR
from tools.replay_sf1 import _numpy_kmeans


def test_kmeans_matches_numpy_reference(spark):
    rows = QUERIES["kmeans_embeddings"](spark, SF_DIR).collect()
    counts, norms = _numpy_kmeans(SF_DIR, K, ITERATIONS)
    got_counts = {r.cid: r.n_members for r in rows}
    assert got_counts == counts
    for r in rows:
        assert abs(r.centroid_norm - norms[r.cid]) < 1e-3, (
            r.cid,
            r.centroid_norm,
            norms[r.cid],
        )


def test_assign_keeps_nan_vectors(spark):
    """A NaN element makes every centroid distance NaN; Spark's struct
    ordering ranks NaN above Infinity, so an unguarded least()-fold would
    keep the init sentinel and the row would vanish in the downstream cid
    join. The nanvl guard must tie it to every centroid at Infinity and
    assign cid 0 — the same outcome the pre-round-6 min-aggregate form
    produced — so corpus row counts are conserved."""
    import pyspark.sql.functions as F

    from mapreduce_6_824_lab1_spark.operators.kmeans import assign

    vectors = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 10.0]),
            (2, [float("nan"), 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    centroids = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "cid int, centroid array<double>",
    )
    got = {r.vec_id: r.cid for r in assign(vectors, centroids).collect()}
    assert got == {0: 0, 1: 1, 2: 0}


def test_cc_fingerprint_overflow_raises(spark):
    """sum(label) is NULL both for an empty frame (converged) and for a
    decimal(38,0) overflow; the latter must RAISE, never read as
    convergence. Longs cannot overflow decimal(38,0) in any realistic
    test, so drive the guard directly with decimal labels."""
    import pytest as _pytest

    from mapreduce_6_824_lab1_spark.operators.dedup import _fingerprint

    ok = spark.createDataFrame([(5,), (9,)], "label long")
    assert _fingerprint(ok) == 14
    empty = spark.createDataFrame([], "label long")
    assert _fingerprint(empty) is None
    big = spark.sql(
        "SELECT CAST(repeat('9', 38) AS DECIMAL(38,0)) AS label "
        "FROM range(2)"
    )
    # ANSI mode (the Spark 4 default) already fails the overflow loudly
    # at the engine level; the _fingerprint guard exists for non-ANSI
    # sessions, where sum() silently returns NULL instead
    from mapreduce_6_824_lab1_spark.session import scoped_conf

    with _pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        _fingerprint(big)
    with scoped_conf(spark, {"spark.sql.ansi.enabled": "false"}):
        with _pytest.raises(RuntimeError, match="fingerprint overflowed"):
            _fingerprint(big)
