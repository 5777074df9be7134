"""K-means over the embeddings table — the canonical *iterative* MapReduce
application (each Lloyd iteration is one map (assign) + one reduce (mean)).

Fully deterministic: centroids initialize to the vectors of vec_id 0..k-1,
iterations are fixed-count, and assignment ties break toward the lower
centroid id. Declared rows-only for the driver (centroid means accumulate
float error in engine-specific order, so exact cross-engine hashing is not
honest here); the unit test instead checks assignments and centroids against
an independent numpy implementation of the same algorithm to 1e-6.

Scale shape per iteration (the whole point):
- centroids (k×64 doubles) are driver-held between iterations (collected
  once per iteration — iteration-control-grade data, not a data-scale
  collect; the collect boundary truncates lineage), then closed over by
  the Arrow assign kernel;
- assignment is a map-only pass (no shuffle): the per-batch numpy
  distance matrix + argmin, one row in → one row out;
- new centroids via ONE partial-aggregated shuffle of (cid, dim) sums —
  the paper's combiner pattern; traffic is O(partitions · k · dim), never
  O(rows). Per-iteration lineage is truncated at the collect boundary, so
  iteration N never re-executes iterations 1..N-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapreduce_6_824_lab1_spark.catalog import detach, load_table
from mapreduce_6_824_lab1_spark.functions.numeric import hround
from mapreduce_6_824_lab1_spark.registry import query

K = 8
ITERATIONS = 3
DIM = 64  # embeddings.parquet vector length (all SFs)


def assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Map phase: nearest centroid per vector — GENUINELY map-only.

    Arrow-batched numpy kernel (the sanctioned Python lane, same pattern
    as the Gram matrix and the entropy histogram): the k×dim centroid
    matrix is collected (iteration-control-grade — the caller already
    collects centroids at every iteration boundary) and closed over; each
    batch computes the full distance matrix with the IDENTICAL numpy
    expression the independent reference test uses, so operator and
    reference are arithmetically the same, not merely within tolerance.
    One row in → one row out, ZERO shuffle of the corpus. The JVM
    least()-fold this replaces ran the 8×64 lambda distance fold through
    codegen at ~110 µs/row — 22 s per pass at 200k vectors, ~90 s per
    kmeans call at sf10; the batch kernel is BLAS-grade and I/O-bound.

    NaN guard: a NaN element makes every centroid distance NaN; mapping
    NaN distances to +inf before the argmin assigns such a row to the
    lowest cid and keeps it counted (row conservation — pinned by
    test_assign_keeps_nan_vectors). Ties break toward the lower cid:
    argmin returns the first minimum over centroids sorted by cid.
    """
    from pyspark.sql.types import (  # noqa: PLC0415
        IntegerType,
        StructField,
        StructType,
    )

    rows = sorted(centroids.collect(), key=lambda r: r.cid)
    import numpy as np  # noqa: PLC0415

    cids = np.array([r.cid for r in rows], dtype=np.int32)
    cmat = np.array([list(r.centroid) for r in rows], dtype=np.float64)

    def _assign_batches(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                out = pdf.copy()
                out["cid"] = pd.Series([], dtype="int32")
                yield out
                continue
            # a NULL embedding row becomes an all-NaN vector, so it rides
            # the NaN guard below (every distance inf -> lowest cid, row
            # conserved) instead of raising in np.stack — the same
            # degrade-don't-crash discipline as the replaced JVM fold
            dim = cmat.shape[1]
            x = np.stack(
                [
                    np.asarray(v, dtype=np.float64)
                    if v is not None
                    else np.full(dim, np.nan)
                    for v in pdf["embedding"]
                ]
            )
            d = ((x[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            d = np.where(np.isnan(d), np.inf, d)
            out = pdf.copy()
            out["cid"] = cids[d.argmin(axis=1)]
            yield out

    # a fresh StructType: StructType.add MUTATES the receiver, and
    # vectors.schema is the frame's own schema object
    out_schema = StructType(
        list(vectors.schema.fields) + [StructField("cid", IntegerType())]
    )
    return vectors.mapInPandas(_assign_batches, out_schema)


def recompute(assigned: DataFrame) -> DataFrame:
    """Reduce phase: element-wise mean per centroid — DIM parallel
    ``sum(element_at(embedding, i))`` aggregate expressions plus one count,
    reassembled into an ordered array. One hash aggregate on ``cid``, no
    map-side row expansion: the earlier posexplode formulation multiplied
    every row 64× before the partial agg, where parallel agg expressions
    (the same trick as the minhash signature agg, dedup.py) keep the scan
    at one row per vector and shuffle only k×(DIM+1) partials per task.

    A centroid that attracts no vectors drops out (standard Lloyd's
    degenerate case; with k=8 over a gaussian-ish corpus and nearest-vector
    init it does not occur at the fixture scales — the reference test would
    fail loudly if it ever did)."""
    sums = [
        F.sum(F.element_at("embedding", i + 1).cast("double")).alias(f"s{i}")
        for i in range(DIM)
    ]
    return (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("c"), *sums)
        .select(
            "cid",
            F.array(
                *[F.col(f"s{i}") / F.col("c") for i in range(DIM)]
            ).alias("centroid"),
        )
    )


@query("kmeans_embeddings")  # rows-only: float accumulation order is
# engine-specific; verified against a numpy reference in tests instead
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # iteration shuffles are centroid/assignment-grain: scope them to one
    # wave of cores (session.core_partitions) so a vanilla 200-partition
    # session doesn't run near-empty tasks per round
    from mapreduce_6_824_lab1_spark.session import core_partitions

    with core_partitions(spark):
        return _kmeans_impl(spark, sf_dir)


def _kmeans_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    vectors = e.select("vec_id", "embedding")
    centroids = (
        e.filter(F.col("vec_id") < K)
        .select(
            F.col("vec_id").cast("int").alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "centroid"
            ),
        )
    )
    # Materialize the k new centroids at each iteration boundary (one
    # collect of k×DIM doubles — the driver-held state the module
    # docstring promises). Rebuilding the frame from rows truncates the
    # lineage, so iteration N never re-executes iterations 1..N-1 and the
    # final plan's TWO uses of `centroids` (assign + the norm join) read
    # a local table, not a nested iterative plan.
    for _ in range(ITERATIONS):
        centroids = detach(recompute(assign(vectors, centroids)))
    final = assign(vectors, centroids)
    norm = F.sqrt(
        F.aggregate(
            F.transform("centroid", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        final.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(centroids.select("cid", norm.alias("nrm")), "cid")
        .select("cid", "n_members", hround(F.col("nrm"), 4).alias("centroid_norm"))
    )
