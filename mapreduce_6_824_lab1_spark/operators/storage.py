"""Storage-layout operators: bucketed joins and partitioned sinks.

These are the two write-side levers that remove whole shuffles/scans at
100 TB, demonstrated end-to-end (write → read → query) with exact oracles
over the pristine parquet:

- bucketing: both join sides pre-hashed into the same bucket count on the
  join key ⇒ sort-merge join with NO Exchange on either side (asserted in
  tests/test_plans.py). This is the MapReduce ``ihash(key) % R``
  intermediate-file layout (lab worker.go), persisted as a table property.
- partitioned writes: directory-per-value layout ⇒ partition PRUNING at
  read time — a predicate on the partition column skips whole directories,
  the scan never opens them.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_6_824_lab1_spark.catalog import detach, load_table, load_tables
from mapreduce_6_824_lab1_spark.functions.numeric import (
    cents_sum,
    hround,
    sql_cents_sum,
    sql_hround,
)
from mapreduce_6_824_lab1_spark.registry import ORACLES, query

N_BUCKETS = 8


def bucketed_join_frame(
    spark: SparkSession, sf_dir: str, scratch: str, suffix: str
) -> DataFrame:
    """Build the LIVE bucket-aligned join plan (scans the scratch tables).

    Both sides are written with ``bucketBy(8, orderkey).sortBy(orderkey)``
    as external tables under ``scratch`` with ``suffix``-unique names (two
    sessions sharing a metastore never collide); the join's plan has no
    Exchange above either scan — asserted in tests/test_plans.py against
    this helper. Callers own dropping the tables and removing ``scratch``.
    """
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    li_name = f"mr_bucketed_lineitem_{suffix}"
    o_name = f"mr_bucketed_orders_{suffix}"
    (
        t["lineitem"]
        .select("l_orderkey", "l_extendedprice")
        .write.bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(scratch, "lineitem"))
        .mode("overwrite")
        .saveAsTable(li_name)
    )
    (
        t["orders"]
        .select("o_orderkey", "o_orderstatus")
        .write.bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(scratch, "orders"))
        .mode("overwrite")
        .saveAsTable(o_name)
    )
    li = spark.table(li_name)
    o = spark.table(o_name)
    # force the sort-merge strategy (at tiny test SFs Catalyst would
    # broadcast the orders side and never exercise the bucket alignment;
    # at fact-fact scale SMJ is what runs anyway)
    return (
        li.hint("merge").join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # cents_sum, not hround(sum(...)): o_orderstatus is a
            # 3-value column, so each group sums ~N/3 extendedprices —
            # corpus-grain. The double fold's order noise crossed the
            # cent digit at sf10 (r14 parity extension caught the flip);
            # per-row cent quantization + exact long sum is
            # engine-deterministic at any group size (numeric.py).
            cents_sum("l_extendedprice").alias("total_price"),
        )
    )


@query(
    "join_bucketed",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n_items,
       {sql_cents_sum("l_extendedprice")} AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two tables bucketed on the join key: zero-shuffle sort-merge.

    At 100 TB bucketing converts every repeated fact-fact join on the same
    key into a map-side merge. The grouped result (a handful of rows) is
    collected and detached so the scratch tables and their /tmp dirs can be
    dropped before returning — no per-invocation leak.
    """
    suffix = uuid.uuid4().hex[:8]
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_bucketed_", ignore_cleanup_errors=True
    ) as scratch:
        try:
            return detach(bucketed_join_frame(spark, sf_dir, scratch, suffix))
        finally:
            for name in (
                f"mr_bucketed_lineitem_{suffix}",
                f"mr_bucketed_orders_{suffix}",
            ):
                spark.sql(f"DROP TABLE IF EXISTS {name}")


def partitioned_sink_frame(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """Write orders under ``path`` partitioned by ``o_year`` and return the
    read-back filtered to 1997, whose scan prunes by directory — the plan
    tests/test_plans.py asserts on, and ``sink_partitioned_parquet``
    aggregates. The caller owns removing ``path``."""
    load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    ).write.partitionBy("o_year").mode("overwrite").parquet(path)
    return spark.read.parquet(path).filter(F.col("o_year") == 1997)


@query(
    "sink_partitioned_parquet",
    oracle=f"""
SELECT month(o_orderdate) AS o_month,
       count(*) AS n_orders,
       {sql_hround("sum(o_totalprice)", 2)} AS revenue
FROM orders
WHERE year(o_orderdate) = 1997
GROUP BY 1
""",
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by year, read back with a partition filter.

    The year predicate is satisfied by directory pruning (PartitionFilters
    on the scan; no data files outside 1997 are opened). This layout is how
    a 100 TB fact table makes time-range queries scan-proportional to the
    range, not the table.
    """
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_part_", ignore_cleanup_errors=True
    ) as path:
        out = partitioned_sink_frame(spark, sf_dir, path).groupBy(
            F.month("o_orderdate").cast("long").alias("o_month")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            hround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        return detach(out)


# ---------------------------------------------------------------------------
# Partition-pruned ANN: the similarity_ivf quantizer as a STORAGE layout
# ---------------------------------------------------------------------------


# same oracle as similarity_ivf: identical results, different storage path
# (operators.similarity registers before this module — see operators/__init__)
@query("similarity_ivf_partitioned", oracle=ORACLES["similarity_ivf"])
def similarity_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN against a corpus WRITTEN partitioned by quantizer
    cell: the probe's cells become a partition-column filter, so the scan
    opens only the probed directories (5 of 16). Same oracle as
    ``similarity_ivf`` — identical results, but at 100 TB the scan cost is
    directory pruning instead of a full pass. The probe's cell set is
    computed from the probe row alone (one tiny collect — index lookup,
    not data movement).
    """
    from mapreduce_6_824_lab1_spark.operators.similarity import (
        IVF_BITS,
        PROBE_VEC_ID,
        TOP_K,
        _cell,
        _dot,
        _norm,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cells = e.withColumn("cell", _cell("embedding"))
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_ivf_", ignore_cleanup_errors=True
    ) as path:
        cells.write.partitionBy("cell").mode("overwrite").parquet(path)
        corpus = spark.read.parquet(path)
        probe_row = cells.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            "embedding", "cell"
        ).head()
        pcell = int(probe_row.cell)
        probe_cells = [pcell] + [pcell ^ (1 << i) for i in range(IVF_BITS)]
        probe = cells.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            F.col("embedding").alias("p")
        )
        cos = _dot("embedding", "p") / (_norm("embedding") * _norm("p"))
        out = (
            corpus.filter(F.col("cell").isin(probe_cells))  # partition pruning
            .crossJoin(F.broadcast(probe))
            .filter(F.col("vec_id") != PROBE_VEC_ID)
            .withColumn("cosine_raw", cos)
            .orderBy(F.desc("cosine_raw"), "vec_id")
            .limit(TOP_K)
            .select(
                "vec_id",
                "label",
                F.col("cell").cast("int").alias("cell"),
                (F.floor(F.col("cosine_raw") * 1000000 + F.lit(0.5)) / 1000000)
                .alias("cosine"),
            )
        )
        return detach(out)


# ---------------------------------------------------------------------------
# Z-order layout — multi-dimensional data clustering. A single-column sort
# gives perfect min/max file skipping on ONE predicate dimension; a Morton
# (bit-interleaved) sort key keeps BOTH dimensions locally dense, so files
# written in zcell order carry tight min/max ranges on price AND size
# simultaneously — the layout trick behind Delta/Iceberg OPTIMIZE ZORDER,
# expressed with nothing but arithmetic. The query reports per-cell stats
# (the row-group metadata a reader would skip on); the write path is
# ``repartitionByRange(zcell) + sortWithinPartitions(zcell)`` as noted
# below. Portable bit math: floor/div/mod only — no engine-specific bit
# operators, identical IEEE double arithmetic on both engines.
# ---------------------------------------------------------------------------

_ZORDER_BITS = 4  # 16 buckets per dimension -> 256 cells

# part fixture domains: p_retailprice in [900, 1000), p_size in [1, 50]
_PB = "CAST(floor((p_retailprice - 900.0) / 6.25) AS BIGINT)"
_SB = "CAST(floor((p_size - 1) / 3.2) AS BIGINT)"


def _morton(pb: str, sb: str) -> str:
    terms = []
    for i in range(_ZORDER_BITS):
        terms.append(f"(CAST(floor({pb} / {2**i}) AS BIGINT) % 2) * {2**(2*i+1)}")
        terms.append(f"(CAST(floor({sb} / {2**i}) AS BIGINT) % 2) * {2**(2*i)}")
    return " + ".join(terms)


_ZCELL = _morton(_PB, _SB)


@query(
    "layout_zorder",
    oracle=f"""
SELECT {_ZCELL} AS zcell,
       count(*) AS n_parts,
       floor((min(p_retailprice)) * 100 + 0.5) / 100 AS min_price,
       floor((max(p_retailprice)) * 100 + 0.5) / 100 AS max_price,
       CAST(min(p_size) AS BIGINT) AS min_size,
       CAST(max(p_size) AS BIGINT) AS max_size
FROM part
GROUP BY 1
""",
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-cell statistics for a 2-D z-order layout of ``part``.

    Each output row is one Morton cell: its population and its min/max in
    BOTH source dimensions — exactly the parquet row-group stats a z-order
    writer produces and a reader prunes with. At 100 TB the layout step is
    ``df.repartitionByRange(N, "zcell").sortWithinPartitions("zcell")
    .write...`` (one range shuffle); a 2-D box predicate then touches only
    the files whose cell range intersects the box, instead of every file
    that matches on a single sorted dimension.
    """
    part = load_table(spark, sf_dir, "part")
    return (
        part.withColumn("zcell", F.expr(_ZCELL))
        .groupBy("zcell")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            hround(F.min("p_retailprice"), 2).alias("min_price"),
            hround(F.max("p_retailprice"), 2).alias("max_price"),
            F.min("p_size").cast("long").alias("min_size"),
            F.max("p_size").cast("long").alias("max_size"),
        )
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning — THE optimization that makes star joins on a
# partitioned fact table cheap: the dim side's filter result is broadcast
# as a runtime subquery filter into the fact SCAN's partition listing, so
# only the matching partition directories are read at all. Static pruning
# can't do this (the year list isn't known until the dim filter runs).
# The plan's PartitionFilters carries a dynamicpruning#... subquery —
# asserted in tests/test_plans.py. Result-identical to the plain join, so
# the oracle is the plain SQL over the unpartitioned source.
# ---------------------------------------------------------------------------

DPP_YEARS = ((1996, "focus"), (1998, "focus"), (2000, "other"))


@query(
    "join_partition_pruned",
    oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       count(*) AS n_orders,
       CAST(sum(CAST(floor((o_totalprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS revenue
FROM orders
WHERE year(o_orderdate) IN (1996, 1998)
GROUP BY 1
""",
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact table partitioned by year, joined to a filtered year dim.

    The scratch write is the layout step (directory per year); the read-
    back join with the dim filtered to label='focus' triggers DPP: Spark
    lists only the 1996/1998 directories. The aggregate is detached from
    the scratch dir before it is removed.
    """
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_dpp_", ignore_cleanup_errors=True
    ) as scratch:
        return detach(dpp_plan_frame(spark, sf_dir, scratch))


def dpp_plan_frame(spark: SparkSession, sf_dir: str, scratch: str):
    """The un-detached DPP join over ``scratch`` — ``join_partition_pruned``
    detaches it, the plan tests inspect it."""
    o = load_table(spark, sf_dir, "orders")
    o.withColumn(
        "o_year", F.year("o_orderdate").cast("long")
    ).write.mode("overwrite").partitionBy("o_year").parquet(
        f"{scratch}/orders"
    )
    fact = spark.read.parquet(f"{scratch}/orders")
    dim = spark.createDataFrame(list(DPP_YEARS), ["d_year", "label"])
    return (
        fact.join(dim, fact["o_year"] == dim["d_year"])
        .where(F.col("label") == "focus")
        # partition-column read-back infers int32 even though the write
        # cast to long; re-cast so the dtype matches the BIGINT oracle
        .groupBy(F.col("o_year").cast("long").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            cents_sum("o_totalprice").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Runtime Bloom-filter join pruning — DPP's sibling for NON-partition keys.
# When the probe side is too big to broadcast, Spark can still build a Bloom
# filter from the (filtered) creation side and push might_contain() into the
# fact scan, discarding non-joining rows at the scan/row-group level before
# the shuffle. At 100 TB this is the difference between shuffling the whole
# fact table and shuffling only the ~selectivity fraction that can join.
# ---------------------------------------------------------------------------

_BLOOM_CONFS = {
    # application side must look "large enough" for injection; the fixture
    # is tiny, so lower the gate — production keeps the 10 GB default
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # the injection rule skips creation sides it expects to broadcast (a
    # broadcast join shuffles nothing, so a Bloom filter buys nothing);
    # model the 100 TB dim-side-too-big case by disabling broadcast here
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@query(
    "join_bloom_pruned",
    oracle="""
SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month,
       count(*) AS n_items,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(o_orderdate) = 1999
GROUP BY 1
""",
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1999-order lineitem revenue via a merge-hinted join so the filtered
    orders side injects a runtime Bloom filter into the lineitem scan.

    The merge hint models the 100 TB reality (dim side above the broadcast
    threshold); might_contain() then prunes fact rows pre-shuffle — runtime
    row-group pruning on a NON-partition key, which directory-based DPP
    cannot do. The plan (incl. the injected filter) is executed eagerly via
    localCheckpoint under the lowered injection gate, then the session conf
    is restored so no other query inherits it. Revenue is summed as integer
    cents (order-insensitive across engines).
    """
    from mapreduce_6_824_lab1_spark.session import scoped_conf

    with scoped_conf(spark, _BLOOM_CONFS):
        # materialize while the injection gate is open; the returned frame
        # is a checkpoint scan, so restoring the conf can't un-inject
        return bloom_plan_frame(spark, sf_dir).localCheckpoint(eager=True)


def bloom_plan_frame(spark: SparkSession, sf_dir: str):
    """The un-checkpointed Bloom-pruned join — ``join_bloom_pruned``
    checkpoints it, the plan tests inspect it; the caller sets
    ``_BLOOM_CONFS``."""
    li = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1999)
        .select("o_orderkey")
    )
    return (
        li.hint("merge")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.month("l_shipdate").cast("long").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                    + F.lit(0.5)
                ).cast("long")
            ).alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction — the table-maintenance job every streaming ingest
# needs: micro-batches leave thousands of KB-sized files; scans then pay a
# task per file. Compaction rewrites a directory to size-targeted files
# (bin-packed by bytes), preserving rows bit-for-bit. The audit aggregate
# is oracle-checked; the file-count collapse is unit-tested.
# ---------------------------------------------------------------------------

COMPACT_TARGET_BYTES = 4 * 1024 * 1024  # fixture-scale stand-in for 512 MB
COMPACT_INPUT_FILES = 32


def compact_dir(spark: SparkSession, src_dir: str, dst_dir: str) -> int:
    """Rewrite ``src_dir`` parquet into ceil(bytes/target) files; returns
    the output file count. At 100 TB this runs per partition-directory with
    the same arithmetic (one listing, one coalesced rewrite, no shuffle —
    coalesce merges splits without repartitioning)."""
    import glob
    import os

    total = sum(
        os.path.getsize(p) for p in glob.glob(f"{src_dir}/*.parquet")
    )
    n_out = max(1, -(-total // COMPACT_TARGET_BYTES))
    spark.read.parquet(src_dir).coalesce(int(n_out)).write.mode(
        "overwrite"
    ).parquet(dst_dir)
    return len(glob.glob(f"{dst_dir}/*.parquet"))


@query(
    "compact_small_files",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
""",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment events into 32 micro-batch-sized files, compact to
    size-targeted files, and return the audit aggregate over the COMPACTED
    copy — equal to the oracle over the pristine table iff the rewrite
    lost/duplicated nothing."""
    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_compact_", ignore_cleanup_errors=True
    ) as scratch:
        frag_dir, comp_dir = f"{scratch}/frag", f"{scratch}/comp"
        ev.repartition(COMPACT_INPUT_FILES).write.parquet(frag_dir)
        compact_dir(spark, frag_dir, comp_dir)
        back = spark.read.parquet(comp_dir)
        audit = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("value_cents"),
            F.count_distinct("user_id").alias("n_users"),
        )
        return detach(audit)


# ---------------------------------------------------------------------------
# Observed metrics — df.observe(): accumulator-style metrics collected ON
# the executors DURING a pass, without a second scan. The production use is
# pipeline instrumentation (row counts, null rates, value bounds riding
# along an ETL write); here the observed values ARE the query result, so
# the driver's oracle can audit that the observation path reports exactly
# what a standalone aggregation computes.
# ---------------------------------------------------------------------------


@query(
    "observe_metrics",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
           AS n_errors,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents,
       CAST(count(*) - count(user_id) AS BIGINT) AS n_null_users
FROM events
""",
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect dataset metrics via ``df.observe()`` during a single noop
    write — zero extra scans, metrics aggregated executor-side exactly like
    an accumulator — and return them as the result row.

    At 100 TB this is THE way to audit an ETL pass (row counts, error
    rates, money totals, null rates) without doubling the I/O: the
    metrics ride the action the pipeline already runs. The oracle recomputes
    the same aggregates relationally, so the driver verifies the
    observation path end-to-end. Integer-cents money, per the house rule.
    """
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("etl_audit")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_errors"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("value_cents"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_users"),
    )
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    return spark.createDataFrame(
        [
            (
                row["n_rows"],
                row["n_errors"],
                row["value_cents"],
                row["n_null_users"],
            )
        ],
        "n_rows BIGINT, n_errors BIGINT, value_cents BIGINT, n_null_users BIGINT",
    )


# ---------------------------------------------------------------------------
# Cache-backed multi-output fan-out — compute once, emit N aggregates
# ---------------------------------------------------------------------------

FANOUT_ORACLE = """
WITH base AS (
    SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS order_cents
    FROM lineitem GROUP BY l_orderkey
)
SELECT 'items_hist' AS metric, n_items AS k,
       CAST(count(*) AS BIGINT) AS v
FROM base GROUP BY n_items
UNION ALL
SELECT 'cents_bucket', order_cents // 10000000, CAST(count(*) AS BIGINT)
FROM base GROUP BY 2
"""


@query("cached_fanout_reuse", oracle=FANOUT_ORACLE)
def cached_fanout_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-output pipeline over ONE materialization of a shared base:
    the per-order rollup is persisted, then two independent audits (item-
    count histogram, $100k order-value buckets) read the CACHED rollup
    instead of re-scanning lineitem — both branches show
    ``InMemoryTableScan`` in the physical plan (pinned in test_plans).

    This is the compute-once/emit-N shape every reporting pipeline hits:
    without the persist, Spark's lazy evaluation re-runs the fact scan
    and the order-grain shuffle per branch (no automatic common-subplan
    reuse across a union's sides). At 100 TB the cached rollup is
    order-grain (3 orders of magnitude smaller than lineitem) with
    MEMORY_AND_DISK semantics, so the second branch costs its aggregate
    only. Cents quantize per-row before the sum (house money rule).
    Cache lifecycle: the return is lazy, so the unpersist belongs to the
    CALLER once its outputs are materialized — the cache entry is this
    key's deliberate demonstration surface, not an oversight (evictable
    MEMORY_AND_DISK, order-grain).
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("order_cents"),
        )
        .persist()
    )
    hist = base.groupBy("n_items").agg(
        F.count(F.lit(1)).alias("v")
    ).select(
        F.lit("items_hist").alias("metric"),
        F.col("n_items").alias("k"),
        "v",
    )
    buckets = (
        base.select(F.expr("order_cents div 10000000").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("cents_bucket").alias("metric"), "k", "v")
    )
    return hist.unionByName(buckets)
