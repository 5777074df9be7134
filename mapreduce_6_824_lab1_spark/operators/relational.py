"""Relational operator surface over the star schema (SURVEY.md §2.C).

The reference has no relational layer — MapReduce expresses joins as
map-side tagging + reduce-side merge (MR paper §4) — so these are implemented
directly as declarative DataFrame plans and Catalyst owns the physical
strategy. Scale notes are attached per-query; the recurring ones:

- dims (region 5 rows, nation 25, supplier ≤1k·sf) are ALWAYS broadcast —
  no shuffle of the fact side for star joins;
- fact-fact joins shuffle on the join key; AQE splits skewed partitions;
- aggregations get automatic partial (map-side) aggregation;
- filters/projections sit directly on the parquet scan (pushdown + pruning).

The family: filters and projections; equi, outer, semi/anti, broadcast,
theta, as-of, interval, salted and null-safe joins; hash, statistical,
sketch, bitwise, pivot, cube, hierarchy and incremental aggregates;
ranking, distribution and range-frame windows; top-k; set operations;
scalar functions (strings, dates, time zones, JSON, arrays, maps, variants,
generators, try_* and collation); and the change-data (CDC, SCD2, table
diff) and master-data keys. Everything but the sketch aggregates is
exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from mapreduce_6_824_lab1_spark.catalog import load_table, load_tables
from mapreduce_6_824_lab1_spark.functions.numeric import cents_sum, hround, sql_hround
from mapreduce_6_824_lab1_spark.registry import ORACLES, query

# ---------------------------------------------------------------------------
# Projections / filters — σ+π with compound predicates. The whole predicate
# is pushable; .explain shows PushedFilters on the parquet scan and a
# two-column ReadSchema-driven projection.
# ---------------------------------------------------------------------------


@query(
    "filter_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS disc_price,
       l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_returnflag IN ('A', 'N')
  AND l_quantity < 24
""",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.06)
            & F.col("l_returnflag").isin("A", "N")
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            hround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "disc_price"
            ),
            "l_returnflag",
        )
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@query(
    "agg_hash",
    oracle="""
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100 + 0.5) / 100      AS sum_qty,
       CAST(sum(CAST(floor((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
       CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_disc_price,
       floor((avg(l_quantity)) * 100 + 0.5) / 100      AS avg_qty,
       floor((avg(l_extendedprice)) * 100 + 0.5) / 100 AS avg_price,
       floor((avg(l_discount)) * 10000 + 0.5) / 10000      AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: hash agg with automatic partial aggregation.

    100 TB: 6 groups total — map-side partials collapse each scan partition
    to ≤6 rows before the shuffle; network traffic is O(partitions), not rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            hround(F.sum("l_quantity"), 2).alias("sum_qty"),
            # money sums via exact integer cents (functions/numeric.py
            # cents_sum): corpus-grain groups put double fold noise at
            # the cent digit — the round-12 sf10 finding on TPC-H q1.
            # sum_qty stays a double sum: integer-valued quantities sum
            # exactly below 2^53.
            cents_sum("l_extendedprice").alias("sum_base_price"),
            cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            hround(F.avg("l_quantity"), 2).alias("avg_qty"),
            hround(F.avg("l_extendedprice"), 2).alias("avg_price"),
            hround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_distinct",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
       count(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase agg under the hood).

    100 TB: exact distinct on high-cardinality keys is a full shuffle of the
    distinct pairs; see ``agg_approx_distinct`` for the sketch-based scale
    path (HLL, mergeable, no second shuffle).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.date_format("ts", "yyyy-MM-dd")).alias("n_days"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query("agg_approx_distinct")  # no oracle: HLL sketch values are impl-specific
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB cardinality path.

    Sketches are mergeable → one pass, map-side partials, constant memory.
    Checked rows-only by the driver; the unit test asserts the estimate is
    within rsd bounds of the exact count.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
SELECT lang, source, count(*) AS n_docs,
       floor((avg(n_chars)) * 100 + 0.5) / 100 AS avg_chars,
       floor((sum(n_chars)) * 100 + 0.5) / 100 AS total_chars
FROM documents
GROUP BY ROLLUP (lang, source)
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (lang, source) — Catalyst Expand + single hash agg."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        hround(F.avg("n_chars"), 2).alias("avg_chars"),
        hround(F.sum("n_chars"), 2).alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "join_inner_equi",
    oracle="""
SELECT r_name, n_name,
       count(*) AS n_orders,
       CAST(sum(CAST(floor((o_totalprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star equi-join: fact ⋈ dim ⋈ dim ⋈ dim.

    100 TB: customer/nation/region are broadcast (explicit hint on the two
    tiny dims; customer is sf-bounded — AQE demotes to shuffle join if it
    outgrows the threshold). The orders side never shuffles for the join.
    """
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation", "region"))
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            cents_sum("o_totalprice").alias("revenue"),
        )
    )


@query(
    "join_outer",
    oracle="""
SELECT c_custkey, c_mktsegment,
       count(o_orderkey) AS n_orders,
       floor((coalesce(sum(o_totalprice), 0.0)) * 100 + 0.5) / 100 AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
""",
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count(col) skips nulls)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            hround(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


@query(
    "join_full_outer",
    oracle="""
SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
       CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END AS missing_customer,
       CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END AS missing_order,
       count(o.o_orderkey) AS n_orders
FROM (SELECT c_custkey FROM customer WHERE c_acctbal >= 5000) c
FULL OUTER JOIN (SELECT o_custkey, o_orderkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate <  TIMESTAMP '1998-01-01') o
  ON c.c_custkey = o.o_custkey
GROUP BY 1, 2, 3
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with nulls arising on BOTH sides (high-balance
    customers × 1997 orders). Full outer cannot broadcast — always a
    shuffle join; at 100 TB both sides hash-partition once on the key."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    c = t["customer"].filter(F.col("c_acctbal") >= 5000).select("c_custkey")
    o = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_custkey", "o_orderkey")
    )
    j = c.join(o, F.col("c_custkey") == F.col("o_custkey"), "outer")
    return j.groupBy(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.when(F.col("c_custkey").isNull(), 1).otherwise(0).alias(
            "missing_customer"
        ),
        F.when(F.col("o_custkey").isNull(), 1).otherwise(0).alias(
            "missing_order"
        ),
    ).agg(F.count("o_orderkey").alias("n_orders"))


@query(
    "join_semi_anti",
    oracle="""
SELECT c_custkey, 'has_orders' AS tag FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, 'no_orders' AS tag FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi + left_anti — join types MapReduce can't express without
    a full reduce-side merge; Spark short-circuits on first match."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    cond = F.col("c_custkey") == F.col("o_custkey")
    semi = (
        t["customer"]
        .join(t["orders"], cond, "left_semi")
        .select("c_custkey", F.lit("has_orders").alias("tag"))
    )
    anti = (
        t["customer"]
        .join(t["orders"], cond, "left_anti")
        .select("c_custkey", F.lit("no_orders").alias("tag"))
    )
    return semi.unionAll(anti)


@query(
    "join_broadcast",
    oracle="""
SELECT r_name, count(*) AS n_suppliers, floor((sum(s_acctbal)) * 100 + 0.5) / 100 AS total_bal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hints: zero shuffle on the probe side.

    The plan must show BroadcastHashJoin for both dims (asserted in tests) —
    at 100 TB this is the difference between a map-only stage and shuffling
    the full fact table twice.
    """
    t = load_tables(spark, sf_dir, ("supplier", "nation", "region"))
    return (
        t["supplier"]
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            hround(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


# Price bands for the theta/range join — literal on both sides by design.
PRICE_BANDS: list[tuple[str, float, float]] = [
    ("budget", 0.0, 500.0),
    ("mid", 500.0, 1000.0),
    ("premium", 1000.0, 1500.0),
    ("luxury", 1500.0, 1e9),
]

_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in PRICE_BANDS)


@query(
    "join_theta_range",
    oracle=f"""
SELECT band, count(*) AS n_parts, floor((avg(p_retailprice)) * 100 + 0.5) / 100 AS avg_price
FROM part
JOIN (SELECT * FROM (VALUES {_BANDS_SQL}) AS b(band, lo, hi)) bands
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
""",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a tiny band table.

    Physical plan: BroadcastNestedLoopJoin with the 4-row side broadcast —
    the correct shape for banding at any scale (never NLJ two big sides;
    if both sides were big you'd bucketize the range into equi-join keys).
    """
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(PRICE_BANDS, ["band", "lo", "hi"])
    return (
        part.join(
            broadcast(bands),
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            hround(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
    )


@query(
    "join_asof",
    oracle="""
WITH j AS (
    SELECT e.event_id, o.o_orderkey, o.o_orderdate
    FROM events e
    JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
),
m AS (SELECT event_id, max(o_orderdate) AS md FROM j GROUP BY event_id)
SELECT j.event_id, max(j.o_orderkey) AS o_orderkey,
       strftime(m.md, '%Y-%m-%d') AS order_day
FROM j JOIN m ON j.event_id = m.event_id AND j.o_orderdate = m.md
GROUP BY j.event_id, m.md
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the latest prior order of its user.

    Spark has no native ASOF; the pattern here is range-join + argmax
    aggregation: ``max(struct(o_orderdate, o_orderkey))`` picks the latest
    order with a deterministic o_orderkey tie-break, as a HASH aggregation
    with map-side partials — measurably faster than the equivalent
    row_number() window (which must sort every event's candidate set).
    100 TB: both sides hash-shuffle on the user key; partial aggregation
    collapses each event's candidates before the event_id shuffle. For
    dense per-key history, a union + last(ignorenulls) over a merged
    time-ordered stream avoids the intermediate join blow-up entirely.
    """
    t = load_tables(spark, sf_dir, ("events", "orders"))
    j = t["events"].join(
        t["orders"],
        (F.col("user_id") == F.col("o_custkey"))
        & (F.col("o_orderdate") <= F.col("ts")),
    )
    return (
        j.groupBy("event_id")
        .agg(F.max(F.struct("o_orderdate", "o_orderkey")).alias("m"))
        .select(
            "event_id",
            F.col("m.o_orderkey").alias("o_orderkey"),
            F.date_format("m.o_orderdate", "yyyy-MM-dd").alias("order_day"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "window_ranking",
    oracle="""
SELECT n_nationkey, c_custkey, floor((c_acctbal) * 100 + 0.5) / 100 AS acctbal, rn, rnk, drnk
FROM (
    SELECT n_nationkey, c_custkey, c_acctbal,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rn,
           rank()       OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rnk,
           dense_rank() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS drnk
    FROM customer JOIN nation ON c_nationkey = n_nationkey
) t
WHERE rn <= 3
""",
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per nation: rank/row_number windows."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        t["customer"]
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("rnk", F.rank().over(w).cast("long"))
        .withColumn("drnk", F.dense_rank().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            "n_nationkey",
            "c_custkey",
            hround("c_acctbal", 2).alias("acctbal"),
            "rn",
            "rnk",
            "drnk",
        )
    )


@query(
    "window_analytic",
    oracle="""
SELECT event_id, user_id,
       floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS running_total,
       floor((coalesce(lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      -1.0)) * 100 + 0.5) / 100 AS prev_value,
       floor((coalesce(lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      -1.0)) * 100 + 0.5) / 100 AS next_value
FROM events
""",
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag/lead with explicit frames, per user over time.

    100 TB: partitionBy(user_id) shuffles once; all three windows share the
    same (partition, order) spec so Catalyst computes them in ONE Window
    physical node — no extra sort or shuffle per function.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        hround(F.sum("value").over(frame), 2).alias("running_total"),
        hround(F.coalesce(F.lag("value").over(w), F.lit(-1.0)), 2).alias(
            "prev_value"
        ),
        hround(F.coalesce(F.lead("value").over(w), F.lit(-1.0)), 2).alias(
            "next_value"
        ),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "topk",
    oracle="""
SELECT o_orderkey, o_custkey, floor((o_totalprice) * 100 + 0.5) / 100 AS totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders by price. Physical: TakeOrderedAndProject — each
    partition keeps a k-heap, driver merges k·P rows. No global sort at any
    scale. Ties broken by o_orderkey (SURVEY.md §3.3)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            hround("o_totalprice", 2).alias("totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "set_ops",
    oracle="""
WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1995-01-01'
               AND o_orderdate <  TIMESTAMP '1996-01-01'),
     c96 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1996-01-01'
               AND o_orderdate <  TIMESTAMP '1997-01-01')
SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96)
UNION ALL
SELECT 'only_1995' AS tag, o_custkey FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96)
UNION ALL
SELECT 'only_1996' AS tag, o_custkey FROM (SELECT * FROM c96 EXCEPT SELECT * FROM c95)
""",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except over yearly active-customer key sets."""
    o = load_table(spark, sf_dir, "orders")

    def actives(y: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    c95, c96 = actives(1995), actives(1996)
    return (
        c95.intersect(c96).select(F.lit("both").alias("tag"), "o_custkey")
        .unionAll(c95.exceptAll(c96).select(F.lit("only_1995").alias("tag"), "o_custkey"))
        .unionAll(c96.exceptAll(c95).select(F.lit("only_1996").alias("tag"), "o_custkey"))
    )


# ---------------------------------------------------------------------------
# Scalar function surface
# ---------------------------------------------------------------------------


@query(
    "scalar_string_date",
    oracle="""
SELECT o_orderkey,
       upper(substr(o_orderpriority, 1, 1)) AS prio_initial,
       concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
       length(trim(o_orderpriority)) AS prio_len,
       year(o_orderdate)    AS o_year,
       month(o_orderdate)   AS o_month,
       quarter(o_orderdate) AS o_quarter,
       date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since_95,
       floor((abs(o_totalprice - 100000.0)) * 100 + 0.5) / 100 AS abs_diff,
       floor((ln(o_totalprice + 1)) * 10000 + 0.5) / 10000 AS log_price
FROM orders
""",
)
def scalar_string_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math scalar functions — all JVM built-ins, codegen'd."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 1)).alias("prio_initial"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length(F.trim(F.col("o_orderpriority"))).cast("long").alias("prio_len"),
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        hround(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("abs_diff"),
        hround(F.log(F.col("o_totalprice") + 1), 4).alias("log_price"),
    )


@query(
    "scalar_json",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS cnt,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM events
GROUP BY k_bucket
""",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the string props column, then aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k_bucket",
            (F.get_json_object("props", "$.k").cast("bigint") % 10),
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "scalar_array",
    oracle="""
SELECT vec_id, label,
       len(embedding) AS dim,
       floor((CAST(embedding[1] AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS first_val,
       floor((sqrt(list_aggregate(
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           'sum'))) * 1000000 + 0.5) / 1000000 AS l2_norm
FROM embeddings
""",
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column.

    float32 values are cast to double BEFORE any arithmetic on BOTH sides so
    the fold is bit-identical between Spark and DuckDB (FIXTURES.md note).
    100 TB: transform/aggregate run inside codegen — no Python, no UDF.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double"))
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        hround(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        hround(
            F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)), 6
        ).alias("l2_norm"),
    )


@query(
    "join_asof_merge",
    oracle="""
WITH j AS (
    SELECT e.event_id, o.o_orderkey, o.o_orderdate
    FROM events e
    JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
),
m AS (SELECT event_id, max(o_orderdate) AS md FROM j GROUP BY event_id)
SELECT j.event_id, max(j.o_orderkey) AS o_orderkey,
       strftime(m.md, '%Y-%m-%d') AS order_day
FROM j JOIN m ON j.event_id = m.event_id AND j.o_orderdate = m.md
GROUP BY j.event_id, m.md
""",
)
def join_asof_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the merged-stream pattern — same semantics (and same
    oracle) as ``join_asof``, different physical shape.

    Union orders and events into one time-ordered stream per user, then
    ``last(order, ignorenulls)`` over an unbounded-preceding frame carries
    the latest order forward to each event row. No join ever materializes
    the (event × candidate-orders) blow-up: cost is one shuffle of
    |events| + |orders| rows and a per-user sort — the right shape when
    per-key order history is dense. Two independent formulations agreeing
    with one oracle is itself a correctness check.
    """
    t = load_tables(spark, sf_dir, ("events", "orders"))
    orders_side = t["orders"].select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),  # orders sort before events at equal t
        F.lit(None).cast("long").alias("event_id"),
        F.struct("o_orderdate", "o_orderkey").alias("ord"),
    )
    events_side = t["events"].select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None)
        .cast("struct<o_orderdate:timestamp,o_orderkey:bigint>")
        .alias("ord"),
    )
    merged = orders_side.unionByName(events_side)
    # within equal (t, is_event=0) the struct's (o_orderdate, o_orderkey)
    # ordering makes `last` pick the max orderkey deterministically
    w = (
        Window.partitionBy("uid")
        .orderBy("t", "is_event", F.col("ord.o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "last_ord", F.last("ord", ignorenulls=True).over(w)
    )
    return (
        carried.filter((F.col("is_event") == 1) & F.col("last_ord").isNotNull())
        .select(
            "event_id",
            F.col("last_ord.o_orderkey").alias("o_orderkey"),
            F.date_format("last_ord.o_orderdate", "yyyy-MM-dd").alias(
                "order_day"
            ),
        )
    )


@query(
    "join_asof_nearest",
    oracle="""
WITH probes AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
refs AS (
    SELECT event_id AS view_id, user_id, ts AS vts FROM events
    WHERE event_type = 'view'
),
j AS (
    SELECT p.event_id, p.ts, r.view_id, r.vts,
           abs(date_diff('microsecond', r.vts, p.ts)) AS dist_us,
           CASE WHEN r.vts <= p.ts THEN 0 ELSE 1 END AS fwd
    FROM probes p JOIN refs r ON p.user_id = r.user_id
),
rnk AS (
    SELECT *,
           row_number() OVER (
               PARTITION BY event_id
               ORDER BY dist_us, fwd,
                        CASE WHEN fwd = 0 THEN -view_id ELSE view_id END)
               AS rn
    FROM j
)
SELECT event_id, view_id,
       CAST(dist_us AS BIGINT) AS dist_us,
       CASE WHEN fwd = 0 THEN 'backward' ELSE 'forward' END AS direction
FROM rnk WHERE rn = 1
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join: each purchase event matched to the
    CLOSEST view event of the same user in time, either direction (pandas
    ``merge_asof(direction='nearest')``; the attribution query every event
    pipeline runs). Ties at equal distance resolve backward; within a side
    the backward candidate takes the highest event_id at the nearest
    instant (carry order) and the forward one the lowest — the oracle
    mirrors that rule exactly. Probe/reference both come from ``events``
    so BOTH directions genuinely occur (the orders table is entirely in
    the past of every event, which would leave a forward path untested).

    Physical shape is the merged-stream pattern run in BOTH directions
    over ONE shuffle: union views+purchases per user, one sort, a backward
    ``last(ignorenulls)`` carry and a forward ``first(ignorenulls)`` carry
    sharing the same Window partitioning (the second window adds a frame,
    not an Exchange), then an arithmetic pick of the nearer side. No join
    materializes the probe x candidate blow-up - cost is one shuffle of
    |events| rows, the right shape for dense per-key history at 100 TB.
    Distances are exact integer MICROSECONDS on both engines, so the
    driver hash is exact.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    refs_side = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("event_id"),
        F.struct(
            F.col("ts").alias("vts"), F.col("event_id").alias("view_id")
        ).alias("ref"),
    )
    probes_side = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_probe"),
        "event_id",
        F.lit(None).cast("struct<vts:timestamp,view_id:bigint>").alias("ref"),
    )
    merged = refs_side.unionByName(probes_side)
    # refs at the probe's exact instant sort first (is_probe 0 < 1) and are
    # therefore "backward" (vts <= ts), matching the oracle's CASE rule.
    order_cols = ("t", "is_probe", F.col("ref.view_id").asc_nulls_last())
    back_w = (
        Window.partitionBy("uid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd_w = (
        Window.partitionBy("uid")
        .orderBy(*order_cols)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = merged.select(
        "is_probe",
        "event_id",
        "t",
        F.last("ref", ignorenulls=True).over(back_w).alias("back"),
        F.first("ref", ignorenulls=True).over(fwd_w).alias("fwd"),
    ).filter(
        (F.col("is_probe") == 1)
        & (F.col("back").isNotNull() | F.col("fwd").isNotNull())
    )
    dist_back = F.unix_micros("t") - F.unix_micros("back.vts")
    dist_fwd = F.unix_micros("fwd.vts") - F.unix_micros("t")
    take_back = F.col("fwd").isNull() | (
        F.col("back").isNotNull() & (dist_back <= dist_fwd)
    )
    pick = F.when(take_back, F.col("back")).otherwise(F.col("fwd"))
    dist = F.when(take_back, dist_back).otherwise(dist_fwd)
    return carried.select(
        "event_id",
        pick.getField("view_id").alias("view_id"),
        dist.cast("long").alias("dist_us"),
        F.when(take_back, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


# ---------------------------------------------------------------------------
# Distribution window functions
# ---------------------------------------------------------------------------


@query(
    "window_distribution",
    oracle=f"""
SELECT c_custkey, c_nationkey,
       ntile(4)       OVER w AS quartile,
       {sql_hround("percent_rank() OVER w", 6)} AS pct_rank,
       {sql_hround("cume_dist() OVER w", 6)} AS cume,
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist per nation, deterministic via the
    unique c_custkey tie-break. One shuffle; all three share one Window node."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        hround(F.percent_rank().over(w), 6).alias("pct_rank"),
        hround(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregates
# ---------------------------------------------------------------------------


@query(
    "agg_stats",
    oracle=f"""
SELECT l_returnflag,
       {sql_hround("stddev_samp(l_quantity)", 4)} AS sd_qty,
       {sql_hround("var_samp(l_quantity)", 4)} AS var_qty,
       {sql_hround("covar_samp(l_quantity, l_extendedprice)", 2)} AS covar_qp,
       {sql_hround("corr(l_quantity, l_extendedprice)", 6)} AS corr_qp,
       {sql_hround("min(l_extendedprice)", 2)} AS min_price,
       {sql_hround("max(l_extendedprice)", 2)} AS max_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance/covariance/correlation per return flag.

    All are single-pass mergeable aggregates (Welford-style partials) —
    the same shuffle profile as sum/count at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        hround(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        hround(F.var_samp("l_quantity"), 4).alias("var_qty"),
        hround(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qp"),
        hround(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        hround(F.min("l_extendedprice"), 2).alias("min_price"),
        hround(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@query(
    "agg_percentiles",
    oracle=f"""
SELECT event_type,
       {sql_hround("quantile_cont(value, 0.50)", 4)} AS p50,
       {sql_hround("quantile_cont(value, 0.90)", 4)} AS p90,
       {sql_hround("quantile_cont(value, 0.99)", 4)} AS p99
FROM events
GROUP BY event_type
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``). Exact percentiles buffer per group — at 100 TB swap
    in ``approx_percentile`` (t-digest sketch, mergeable, bounded memory);
    kept exact here for the oracle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        hround(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        hround(F.expr("percentile(value, 0.90)"), 4).alias("p90"),
        hround(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Pivot
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "agg_pivot",
    oracle="""
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events
GROUP BY user_id
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts per user. Pivot values are pinned explicitly —
    letting Spark discover them needs an extra distinct-collect job AND
    makes the output schema data-dependent."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves null where a (user, type) pair never occurred; counts are 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


# ---------------------------------------------------------------------------
# Conditional / null-handling scalars
# ---------------------------------------------------------------------------


@query(
    "scalar_conditional",
    oracle=f"""
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 200000 THEN 'large'
            WHEN o_totalprice >= 100000 THEN 'medium'
            ELSE 'small' END AS size_class,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
       greatest(o_totalprice, 150000.0) AS floor_price,
       least(CAST(year(o_orderdate) AS BIGINT), 1998) AS capped_year,
       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
           AS is_priority
FROM orders
""",
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 200000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_label"
        ),
        F.greatest("o_totalprice", F.lit(150000.0)).alias("floor_price"),
        F.least(F.year("o_orderdate").cast("bigint"), F.lit(1998)).alias(
            "capped_year"
        ),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("is_priority"),
    )


# ---------------------------------------------------------------------------
# Salted join — the skew mitigation pattern, result-identical to plain join
#
# Its RESULT is identical to a plain join (salting is a physical rewrite), so
# the oracle is the plain SQL — which is precisely the point: you can de-skew a
# 100 TB join without changing its semantics.
# ---------------------------------------------------------------------------

SALT_BUCKETS = 8


@query(
    "join_skew_salted",
    oracle=f"""
SELECT user_id, c_mktsegment,
       count(*) AS n_events,
       {sql_hround("sum(value)", 2)} AS total_value
FROM events
JOIN customer ON user_id = c_custkey
GROUP BY user_id, c_mktsegment
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key join with explicit salting.

    Probe side gets a deterministic salt (hash of a unique column mod B);
    build side is replicated B× with every salt value, then the join key is
    (key, salt) — a hot key's rows now spread across B reducers instead of
    one. AQE's skew-join split does this adaptively for sort-merge joins;
    the manual form is for when you must pre-commit (e.g. writing bucketed
    output). The oracle is the PLAIN join: salting must never change results.
    """
    t = load_tables(spark, sf_dir, ("events", "customer"))
    salted_events = t["events"].withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS)).cast("int")
    )
    salts = spark.range(SALT_BUCKETS).select(F.col("id").cast("int").alias("salt"))
    replicated_cust = t["customer"].crossJoin(broadcast(salts))
    return (
        salted_events.join(
            replicated_cust,
            (F.col("user_id") == F.col("c_custkey"))
            & (salted_events["salt"] == replicated_cust["salt"]),
        )
        .groupBy("user_id", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Histogram — fixed-width bucketing via arithmetic (engine-neutral)
# ---------------------------------------------------------------------------

HIST_BUCKET_WIDTH = 50_000.0


@query(
    "agg_histogram",
    oracle=f"""
SELECT CAST(floor(o_totalprice / {HIST_BUCKET_WIDTH}) AS BIGINT) AS bucket,
       count(*) AS n_orders,
       {sql_hround(f"min(o_totalprice)", 2)} AS lo,
       {sql_hround(f"max(o_totalprice)", 2)} AS hi
FROM orders
GROUP BY 1
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals. Bucketing is a pure projection
    (floor-div) so the whole histogram is one partial-agg shuffle of ≤
    n_buckets rows per task — histograms at 100 TB cost one narrow scan."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / HIST_BUCKET_WIDTH)
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            hround(F.min("o_totalprice"), 2).alias("lo"),
            hround(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query("agg_approx_percentile")  # no oracle: t-digest sketch is impl-specific
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: the mergeable-sketch percentile for 100 TB (exact
    interpolated percentiles must buffer whole groups; the sketch streams).
    Rows-only check; the unit test bounds it against the exact quantiles."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_p50"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("approx_p90"),
    )


# ---------------------------------------------------------------------------
# posexplode / lateral expansion over array columns
# ---------------------------------------------------------------------------


@query(
    "scalar_explode",
    oracle=f"""
SELECT vec_id,
       CAST(generate_subscripts(embedding[1:8], 1) - 1 AS INTEGER) AS pos,
       {sql_hround("CAST(unnest(embedding[1:8]) AS DOUBLE)", 6)} AS val
FROM embeddings
""",
)
def scalar_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode of the leading embedding dims: the UDTF/lateral-view shape
    (one input row → many output rows with position), engine-neutral."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "v")
    ).select(
        "vec_id",
        "pos",
        hround(F.col("v").cast("double"), 6).alias("val"),
    )


# ---------------------------------------------------------------------------
# RANGE window frames (value-based, vs the ROWS frames in window_analytic)
# ---------------------------------------------------------------------------

RANGE_DAYS = 30
_RANGE_SECS = RANGE_DAYS * 86400


@query(
    "window_range_frame",
    oracle=f"""
SELECT o_orderkey, o_custkey,
       count(*) OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                      RANGE BETWEEN {_RANGE_SECS} PRECEDING
                            AND {_RANGE_SECS} FOLLOWING) AS n_nearby,
       {sql_hround(f"sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate) RANGE BETWEEN {_RANGE_SECS} PRECEDING AND {_RANGE_SECS} FOLLOWING)", 2)}
           AS nearby_revenue
FROM orders
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame: per order, activity of the same customer
    within ±30 days — the frame is defined by the ORDER BY value distance,
    not row offsets (same-valued peers always share a frame). One shuffle
    on the partition key, same as any window."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-_RANGE_SECS, _RANGE_SECS)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("n_nearby"),
        hround(F.sum("o_totalprice").over(w), 2).alias("nearby_revenue"),
    )


# ---------------------------------------------------------------------------
# Date arithmetic scalars
# ---------------------------------------------------------------------------


@query(
    "scalar_date_arith",
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate + INTERVAL 10 DAY, '%Y-%m-%d') AS plus_10d,
       strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m-%d') AS plus_1m,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
       CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
       strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start
FROM orders
""",
)
def scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic: day/month offsets, month end, day-of-week,
    week truncation. DOW convention pinned to 0=Sunday (DuckDB's) — Spark's
    dayofweek is 1=Sunday, so shift by one."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add("o_orderdate", 10), "yyyy-MM-dd").alias(
            "plus_10d"
        ),
        F.date_format(F.add_months("o_orderdate", 1), "yyyy-MM-dd").alias(
            "plus_1m"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias(
            "month_end"
        ),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias(
            "week_start"
        ),
    )


# ---------------------------------------------------------------------------
# SCD2 temporal history — change-data-capture without a table format
# ---------------------------------------------------------------------------


@query(
    "scd2_history",
    oracle="""
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       coalesce(strftime(lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id),
                         '%Y-%m-%d %H:%M:%S'),
                '9999-12-31 00:00:00') AS valid_to,
       event_type AS state,
       CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) IS NULL
            THEN 1 ELSE 0 END AS is_current
FROM events
""",
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from an event stream:
    each change gets a [valid_from, valid_to) interval via lead(), the open
    row marked current. This is the CDC-materialization pattern for
    dimension tables when no transactional table format is available —
    point-in-time lookups become a BETWEEN predicate. One shuffle on the
    entity key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.col("event_type").alias("state"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Unpivot / melt — wide → long reshaping
# ---------------------------------------------------------------------------


@query(
    "scalar_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, metric,
       floor((value) * 10000 + 0.5) / 10000 AS value
FROM (
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
) t
""",
)
def scalar_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long reshape with the native ``unpivot`` (inverse of
    agg_pivot's shape). Physical plan is an Expand — same row-multiplying
    projection the sliding window uses; no shuffle at all."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.withColumnsRenamed(
        {"l_quantity": "quantity", "l_discount": "discount", "l_tax": "tax"}
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["quantity", "discount", "tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "metric",
        hround(F.col("value"), 4).alias("value"),
    )


# ---------------------------------------------------------------------------
# VARIANT (Spark 4 semi-structured type): parse the JSON props column ONCE
# into a variant value, then extract typed fields with variant_get. Unlike
# get_json_object (string re-parse per extraction), the parse cost is paid
# once per row and extractions are O(1) binary reads — the right encoding
# when a 100 TB event table carries semi-structured payloads read by many
# queries. Output columns are plain SQL types so the DuckDB oracle (plain
# JSON extraction) can reproduce them.
# ---------------------------------------------------------------------------


@query(
    "scalar_variant",
    oracle="""
SELECT event_type,
       count(*) AS n_high,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS max_k,
       floor((avg(CAST(json_extract_string(props, '$.k') AS BIGINT)))
             * 100 + 0.5) / 100 AS avg_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
GROUP BY event_type
""",
)
def scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured filter+agg through the VARIANT type."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("props_v")
    ).select(
        "event_type",
        F.variant_get("props_v", "$.k", "bigint").alias("k"),
    )
    return (
        v.where(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_high"),
            F.max("k").alias("max_k"),
            hround(F.avg("k"), 2).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketized range join — the equi-join rewrite of join_theta_range.
# Spark has no native range-join optimization: a non-equi join between two
# LARGE sides degenerates to a nested-loop. The standard fix is to quantize
# the range dimension into fixed-width buckets, explode each interval into
# the buckets it covers, equi-join on the bucket key (hash-partitionable,
# AQE-skew-handleable), and re-check the exact predicate as a residual
# filter. Result is IDENTICAL to the theta join — like the salted join,
# the oracle is the plain SQL, because the rewrite is purely physical.
# ---------------------------------------------------------------------------

RANGE_BUCKET_WIDTH = 250.0


@query("join_range_bucketed", oracle=ORACLES["join_theta_range"])
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join as bucket-key equi-join + residual predicate.

    The open-ended last band would explode into hi/width buckets; instead
    both sides clamp their bucket id at the largest finite band START — a
    compile-time constant of the band table, not of the data — so the open
    band occupies exactly one overflow bucket and every point beyond it
    lands there too. Here the exploded band side is still tiny and
    broadcasts; the point of the shape is that with two big sides the same
    plan becomes a shuffled hash join on the bucket key — per-bucket work
    instead of n*m pairs.
    """
    from mapreduce_6_824_lab1_spark.operators.relational import PRICE_BANDS

    part = load_table(spark, sf_dir, "part")
    w = RANGE_BUCKET_WIDTH
    clamp = int(max(lo for _, lo, _ in PRICE_BANDS) // w)
    bands = spark.createDataFrame(PRICE_BANDS, ["band", "lo", "hi"])
    buckets = bands.select(
        "band",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / w).cast("long"),
                F.least(
                    F.floor(F.col("hi") / w).cast("long"), F.lit(clamp)
                ),
            )
        ).alias("bucket"),
    )
    pts = part.withColumn(
        "bucket",
        F.least(
            F.floor(F.col("p_retailprice") / w).cast("long"), F.lit(clamp)
        ),
    )
    return (
        pts.join(broadcast(buckets), "bucket")
        .where(
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi"))
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            hround(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# CUBE — the full 2^k grouping-set lattice (agg_grouping_sets covers ROLLUP,
# the prefix-hierarchy subset). Catalyst compiles both to ONE Expand + one
# hash aggregate: each input row is replicated once per grouping set (4x
# here), then partially aggregated map-side before the single shuffle — at
# 100 TB the shuffle carries |groups| * 4 rows, not |input| * 4.
# ---------------------------------------------------------------------------


@query(
    "agg_cube",
    oracle="""
SELECT lang, source, count(*) AS n_docs,
       floor((avg(n_chars)) * 100 + 0.5) / 100 AS avg_chars,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY CUBE (lang, source)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source): all four grouping sets in one pass."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        hround(F.avg("n_chars"), 2).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Salted aggregation — the aggregation twin of join_skew_salted. A single
# hot group key sends its entire partial-aggregate stream to one reducer;
# pre-grouping on (key, salt) splits that stream across B reducers, and a
# second tiny aggregate merges the B partials. Only works because these
# aggregates are algebraic (mergeable partials) — the same property AQE's
# skew mitigation and every combiner relies on. Oracle is the PLAIN
# aggregate: salting must never change results.
# ---------------------------------------------------------------------------


@query(
    "agg_skew_salted",
    oracle=f"""
SELECT event_type,
       count(*) AS n_events,
       {sql_hround("sum(value)", 2)} AS total_value,
       {sql_hround("avg(value)", 4)} AS avg_value,
       {sql_hround("max(value)", 2)} AS max_value
FROM events
GROUP BY event_type
""",
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage aggregation over a salted hot key (5 event types at any
    scale = pathological key skew for a 1000-reducer cluster)."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS)).cast("int")
    )
    partials = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.max("value").alias("mx"),
    )
    return partials.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        hround(F.sum("s"), 2).alias("total_value"),
        hround(F.sum("s") / F.sum("n"), 4).alias("avg_value"),
        hround(F.max("mx"), 2).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Bivariate statistics — corr / covariance / regression slope+intercept,
# all single-pass algebraic aggregates (sums of x, y, xy, x²) that partial-
# aggregate map-side like any count/sum: full-table statistics at 100 TB
# cost one narrow scan + a |groups|-row shuffle.
# ---------------------------------------------------------------------------


@query(
    "agg_corr",
    oracle=f"""
SELECT l_returnflag,
       count(*) AS n_rows,
       {sql_hround("corr(l_quantity, l_extendedprice)", 6)} AS qty_price_corr,
       {sql_hround("covar_samp(l_quantity, l_extendedprice)", 4)} AS qty_price_covar,
       {sql_hround("regr_slope(l_extendedprice, l_quantity)", 4)} AS price_per_qty,
       {sql_hround("regr_intercept(l_extendedprice, l_quantity)", 4)} AS base_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag correlation and OLS fit of price against quantity."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        hround(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        hround(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        hround(
            F.regr_slope("l_extendedprice", "l_quantity"), 4
        ).alias("price_per_qty"),
        hround(
            F.regr_intercept("l_extendedprice", "l_quantity"), 4
        ).alias("base_price"),
    )


# ---------------------------------------------------------------------------
# Collect-to-array aggregation — the grouped materialization primitive
# (posting lists, feature bags). collect_set order is nondeterministic by
# contract; every emitted array is sorted before join/compare, per the
# engine-wide array convention. At 100 TB collect_* is the one aggregate
# whose per-group STATE is unbounded — fine for bounded-cardinality values
# like segments (≤5 here), a deliberate design smell for raw event lists
# (use windowed top-k or sketches instead; see topk / agg_approx_distinct).
# ---------------------------------------------------------------------------


@query(
    "agg_collect_set",
    oracle="""
SELECT n_name,
       count(*) AS n_customers,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
       array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',')
           AS segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct segment sets per nation via collect_set (+ sorted join)."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    return (
        t["customer"]
        .join(
            broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_distinct("c_mktsegment").alias("n_segments"),
            F.array_join(
                F.array_sort(F.collect_set("c_mktsegment")), ","
            ).alias("segments"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketches — the distributed-distinct pattern incremental_agg
# can't cover (COUNT DISTINCT is holistic: partials don't merge). Apache
# DataSketches HLL sketches DO merge losslessly: build one small sketch per
# (type, day) partition, union them per type — the merged estimate is
# IDENTICAL (same binary sketch) to sketching the whole column directly.
# That identity is what makes per-partition rollups, backfills, and
# cross-dataset distinct unions possible at 100 TB without ever rescanning
# history; it is pinned exactly in tests/test_rows_only.py. No DuckDB
# equivalent => rows-only driver check + unit tests (estimate-vs-exact
# bound, merge == direct identity).
# ---------------------------------------------------------------------------


@query("agg_hll_merge")  # rows-only: DuckDB has no DataSketches HLL
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via daily-sketch union (lgK=14)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias(
                "est_users"
            ),
        )
        .select("event_type", "n_days", "est_users")
    )


# ---------------------------------------------------------------------------
# Approximate heavy hitters — approx_top_k is the frequency twin of the HLL
# sketch: bounded-memory, mergeable item counts. With maxItemsTracked >=
# the true distinct cardinality the counts are exact; under memory pressure
# they degrade gracefully instead of OOMing the way an exact word count's
# hash table does on a 100 TB hot-key corpus. Sketch output => rows-only
# driver check; tests/test_rows_only.py pins it against the exact top-k.
# ---------------------------------------------------------------------------

APPROX_TOPK_K = 10


@query("agg_approx_topk")  # rows-only: DuckDB has no approx_top_k
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 words by approx_top_k over the exploded corpus."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    )
    return (
        words.agg(
            F.expr(
                f"approx_top_k(word, {APPROX_TOPK_K}, 10000)"
            ).alias("tk")
        )
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("word"),
            F.col("e.count").alias("cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Null-safe equi-join — joining on keys that legitimately contain NULL
# (unknown-bucket dimensions, optional foreign keys). Plain equality drops
# NULL keys silently (NULL = NULL is NULL); the <=> operator treats NULL
# as a joinable value. Spark still plans a HASH join for it (the key is
# wrapped in a null-tolerant comparison), so there is no performance cliff
# — asserted in tests/test_plans.py.
# ---------------------------------------------------------------------------


@query(
    "join_null_safe",
    oracle="""
WITH c AS (
    SELECT c_custkey, c_acctbal,
           nullif(c_mktsegment, 'MACHINERY') AS seg
    FROM customer
),
dim AS (
    SELECT DISTINCT seg, coalesce(seg, 'UNKNOWN') AS seg_label FROM c
)
SELECT seg_label,
       count(*) AS n_customers,
       floor((sum(c_acctbal)) * 100 + 0.5) / 100 AS total_bal
FROM c JOIN dim ON c.seg IS NOT DISTINCT FROM dim.seg
GROUP BY seg_label
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers joined to a dimension whose key includes NULL via <=>."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.nullif("c_mktsegment", F.lit("MACHINERY")).alias("seg"),
    )
    dim = cust.select("seg").distinct().select(
        "seg", F.coalesce("seg", F.lit("UNKNOWN")).alias("seg_label")
    )
    return (
        cust.join(broadcast(dim), cust["seg"].eqNullSafe(dim["seg"]))
        .groupBy("seg_label")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            hround(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# CDC apply (MERGE-style latest-state compaction) — the other half of
# scd2_history: instead of materializing the full change history, compact a
# snapshot + a stream of keyed upserts into the CURRENT state, latest-wins.
# Without a transactional table format this is the standard "merge by
# rewrite" pattern: one shuffle on the merge key, a per-key max — at 100 TB
# the window and the final aggregate reuse the same hash partitioning, and
# the deterministic (date, orderkey) tie-break makes reruns idempotent.
# ---------------------------------------------------------------------------

CDC_CUTOVER = "1999-01-01"

# Shared by cdc_apply_latest (batch MERGE) and stream_cdc_apply (the same
# MERGE run incrementally from a foreachBatch stream): the latest-wins
# current state is identical however the deltas arrive, so one oracle
# audits both.
CDC_ORACLE = f"""
WITH latest AS (
    SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
           CASE WHEN o_orderdate >= TIMESTAMP '{CDC_CUTOVER}' THEN 1 ELSE 0
                END AS is_delta,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn
    FROM orders
)
SELECT o_orderstatus AS status,
       count(*) AS n_customers,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       strftime(max(o_orderdate), '%Y-%m-%d') AS latest_date,
       CAST(sum(is_delta) AS BIGINT) AS n_from_delta
FROM latest
WHERE rn = 1
GROUP BY o_orderstatus
"""


@query("cdc_apply_latest", oracle=CDC_ORACLE)
def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact a base snapshot (orders before the 1999-01-01 cutover) plus
    a keyed upsert stream (orders on/after it) into the current
    per-customer state, latest-wins on (o_orderdate, o_orderkey).

    The Spark side is structured as the actual MERGE it models — snapshot
    frame UNION delta frame, then one latest-per-key window — while the
    oracle collapses to the equivalent single window over the union (the
    latest of latest-of-base plus deltas is the global latest). Money is
    summed as integer cents so the audit is accumulation-order-exact.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
    )
    cut = F.lit(CDC_CUTOVER).cast("timestamp")
    base_w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    snapshot = (
        o.filter(F.col("o_orderdate") < cut)
        .withColumn("rn", F.row_number().over(base_w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("is_delta", F.lit(0))
    )
    deltas = o.filter(F.col("o_orderdate") >= cut).withColumn(
        "is_delta", F.lit(1)
    )
    merged = (
        snapshot.unionByName(deltas)
        .withColumn("rn", F.row_number().over(base_w))
        .filter(F.col("rn") == 1)
    )
    return merged.groupBy(
        F.col("o_orderstatus").alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("total_cents"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
            "latest_date"
        ),
        F.sum("is_delta").cast("long").alias("n_from_delta"),
    )


# ---------------------------------------------------------------------------
# Table diff / reconciliation — the data-ops primitive behind dataset
# regression testing: given two versions of a keyed table, classify every
# key as added / removed / changed / unchanged in ONE co-partitioned full
# outer join (both sides shuffle on the same key → co-located compare; at
# 100 TB this is the cheapest possible reconciliation, and bucketing both
# versions on the key removes even that shuffle). The "new version" here is
# derived deterministically from orders so the oracle can rebuild it.
# ---------------------------------------------------------------------------


@query(
    "table_diff",
    oracle="""
WITH v2 AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 13 = 0
                THEN floor(o_totalprice * 110 + 0.5) / 100
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE o_orderkey % 97 <> 0
),
d AS (
    SELECT CASE
             WHEN b.o_orderkey IS NULL THEN 'added'
             WHEN v.o_orderkey IS NULL THEN 'removed'
             WHEN floor(b.o_totalprice * 100 + 0.5)
                  <> floor(v.o_totalprice * 100 + 0.5)
                  OR b.o_orderstatus <> v.o_orderstatus THEN 'changed'
             ELSE 'unchanged'
           END AS diff_kind
    FROM orders b FULL OUTER JOIN v2 v ON b.o_orderkey = v.o_orderkey
)
SELECT diff_kind, count(*) AS n_rows
FROM d GROUP BY diff_kind
""",
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile two versions of the orders table (v2 = deterministic
    deletes at key%97==0, price bumps at key%13==0): per-kind row counts
    from one full outer join on the key. Values are compared as integer
    cents so the change classification is engine-exact."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v2 = base.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 13 == 0,
            F.floor(F.col("o_totalprice") * 110 + F.lit(0.5)) / 100,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    b, v = base.alias("b"), v2.alias("v")
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5))  # noqa: E731
    joined = b.join(
        v, F.col("b.o_orderkey") == F.col("v.o_orderkey"), "full_outer"
    )
    kind = (
        F.when(F.col("b.o_orderkey").isNull(), "added")
        .when(F.col("v.o_orderkey").isNull(), "removed")
        .when(
            (cents("b.o_totalprice") != cents("v.o_totalprice"))
            | (F.col("b.o_orderstatus") != F.col("v.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(kind.alias("diff_kind"))
        .groupBy("diff_kind")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# Map-typed higher-order functions (construct → filter → transform → explode)
# ---------------------------------------------------------------------------

MAP_HOF_ORACLE = """
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(*) * 2 AS BIGINT) AS doubled
FROM events
GROUP BY user_id, event_type
HAVING count(*) >= 2
"""


@query("scalar_map_hof", oracle=MAP_HOF_ORACLE)
def scalar_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip through the map higher-order functions: build a
    per-user map<event_type, count> with ``map_from_entries``, prune rare
    types with ``map_filter``, derive with ``transform_values``, and
    explode back to rows.

    The oracle is the plain GROUP BY the pipeline is equivalent to — the
    point is that the entire map construct/filter/transform/explode chain
    is JVM-side (no Python, whole-stage codegen) and loses nothing. Maps
    are how per-key feature bundles travel through real pipelines (one row
    per entity, features as a map); this key pins that the HOF algebra on
    them is exact. 100 TB: the map is per-user (bounded by |event_types|),
    built on the same single shuffle the flat aggregate needs.
    """
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    maps = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    pruned = maps.select(
        "user_id",
        F.map_filter("m", lambda k, v: v >= F.lit(2)).alias("m"),
    ).select(
        "user_id",
        F.transform_values("m", lambda k, v: F.struct(
            v.alias("cnt"), (v * 2).alias("doubled")
        )).alias("m"),
    )
    return pruned.select(
        "user_id", F.explode("m").alias("event_type", "s")
    ).select(
        "user_id",
        "event_type",
        F.col("s.cnt").cast("long").alias("cnt"),
        F.col("s.doubled").cast("long").alias("doubled"),
    )


# ---------------------------------------------------------------------------
# ANSI-mode try_* arithmetic (NULL-on-error instead of job failure)
# ---------------------------------------------------------------------------

_MUL_BIG = 1 << 40
_MUL_GUARD = (1 << 63) - 1

TRY_ARITH_ORACLE = f"""
WITH t AS (
    SELECT o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           o_custkey % 7 AS d
    FROM orders
),
m AS (
    SELECT o_orderstatus,
           CASE WHEN d = 0 THEN NULL
                ELSE CAST(cents AS DOUBLE) / d END AS ratio,
           CASE WHEN cents > {_MUL_GUARD} // {_MUL_BIG} THEN NULL
                ELSE cents * {_MUL_BIG} END AS big
    FROM t
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_div_null,
       CAST(sum(CASE WHEN big IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_mul_null,
       CAST(sum(CASE WHEN big IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_mul_ok
FROM m
GROUP BY o_orderstatus
"""


@query("scalar_try_arith", oracle=TRY_ARITH_ORACLE)
def scalar_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe arithmetic: ``try_divide`` and ``try_multiply``
    yield NULL where strict ANSI evaluation would kill the job (division
    by zero; long overflow — this session runs ANSI mode, where a plain
    ``*`` on overflowing longs raises, as pinned in test_properties'
    Knuth-domain test).

    The audit counts NULL-ed rows per status; the oracle spells out the
    same semantics with explicit CASE guards (divide-by-zero predicate;
    overflow bound 2⁶³-1 div multiplier). At 100 TB try_* is the
    difference between one poison row killing a 10⁵-task job and a
    countable quarantine column — the arithmetic sibling of
    source_corrupt_records' parse quarantine.

    BUT try_* is NULL-on-error, not free: Spark's TRY eval mode
    constructs the arithmetic exception per failing row before
    swallowing it (r14 sf10 bisect: 83% of rows overflow at this
    multiplier → 134 s for the bare try_multiply over 15M orders,
    ~10.7 µs/row, vs 0.32 s when no row throws). So the KNOWN failure
    domain is excluded by a cheap codegen predicate (the same bound the
    oracle uses) and try_multiply runs only on rows it will not throw
    on — kept as the safety net for rows outside the static analysis,
    which is the correct production pattern: quarantine what you can
    predict with a predicate; reserve try_* for what you cannot.
    Measured 0.35 s at sf10, same results (hash-green both scales).
    """
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.pmod("o_custkey", F.lit(7)).alias("d"),
    )
    m = t.select(
        "o_orderstatus",
        F.try_divide(F.col("cents").cast("double"), F.col("d")).alias(
            "ratio"
        ),
        F.when(
            F.col("cents") > F.lit(_MUL_GUARD // _MUL_BIG),
            F.lit(None).cast("long"),
        )
        .otherwise(F.try_multiply(F.col("cents"), F.lit(_MUL_BIG)))
        .alias("big"),
    )
    return m.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("ratio").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_div_null"),
        F.sum(F.when(F.col("big").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_mul_null"),
        F.sum(F.when(F.col("big").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_mul_ok"),
    )


# ---------------------------------------------------------------------------
# Three-valued-logic torture test (NULL semantics parity)
# ---------------------------------------------------------------------------

NULL_SEMANTICS_ORACLE = """
WITH t AS (
    SELECT o_orderstatus,
           nullif(o_custkey % 5, 0) AS k,          -- every 5th key NULL
           CASE WHEN o_custkey % 3 = 0 THEN NULL
                ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           END AS cents
    FROM orders
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(cents) AS BIGINT) AS n_cents,         -- NULLs not counted
       CAST(count(DISTINCT k) AS BIGINT) AS n_k,        -- NULL excluded
       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents,
       CAST(sum(CASE WHEN k IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_k_null,
       CAST(sum(CASE WHEN (k > 2) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unknown,                                -- 3VL: NULL>2 = NULL
       CAST(sum(CASE WHEN coalesce(k > 2, FALSE) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true
FROM t
GROUP BY o_orderstatus
"""


@query("scalar_null_semantics", oracle=NULL_SEMANTICS_ORACLE)
def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic parity: NULLs are injected deterministically
    (nullif / CASE) and every classic divergence point is audited per
    status — count(*) vs count(col), count(DISTINCT) excluding NULL,
    sum over a NULL-bearing column, null-safe equality (IS NOT DISTINCT
    FROM / <=>), and a predicate whose UNKNOWN outcome is counted
    separately from its TRUE outcome.

    Cross-engine NULL behavior is where silent corruption usually hides
    (a filter that drops UNKNOWN rows vs one that keeps them changes row
    counts with no error anywhere); pinning the full 3VL matrix against
    the oracle makes the convention load-bearing. Everything is a single
    hash aggregate — NULL handling must cost nothing at scale.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    t = o.select(
        "o_orderstatus",
        F.nullif(F.pmod("o_custkey", F.lit(5)), F.lit(0)).alias("k"),
        F.when(F.pmod("o_custkey", F.lit(3)) == 0, None)
        .otherwise(cents)
        .alias("cents"),
    )
    gt2 = F.col("k") > 2
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("cents").alias("n_cents"),
        F.countDistinct("k").cast("long").alias("n_k"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("sum_cents"),
        F.sum(
            F.when(F.col("k").eqNullSafe(F.lit(None)), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_k_null"),
        F.sum(F.when(gt2.isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unknown"),
        F.sum(F.when(F.coalesce(gt2, F.lit(False)), 1).otherwise(0))
        .cast("long")
        .alias("n_true"),
    )


# ---------------------------------------------------------------------------
# Bitwise / boolean aggregate family
# ---------------------------------------------------------------------------

BITWISE_ORACLE = """
WITH t AS (
    SELECT o_orderstatus,
           CAST(
             CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END
             + CASE WHEN o_orderpriority LIKE '2%' THEN 2 ELSE 0 END
             + CASE WHEN o_totalprice > 100000 THEN 4 ELSE 0 END
             + CASE WHEN o_custkey % 2 = 0 THEN 8 ELSE 0 END
           AS BIGINT) AS flags
    FROM orders
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_and(flags) AS BIGINT) AS flags_and,
       CAST(bit_or(flags) AS BIGINT) AS flags_or,
       CAST(bit_xor(flags) AS BIGINT) AS flags_xor,
       bool_and(flags > 0) AS any_flag_everywhere,
       bool_or(flags >= 8) AS has_even_cust
FROM t
GROUP BY o_orderstatus
"""


@query("agg_bitwise", oracle=BITWISE_ORACLE)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and boolean aggregate family over a packed flag column —
    bit_and/bit_or/bit_xor plus bool_and/bool_or, the idiom for auditing
    feature-flag bitmasks without exploding them to one row per flag.

    Flags pack four independent predicates into one BIGINT map-side; all
    five aggregates are algebraic (partial-merge exact), so the whole
    audit is one partial-agg shuffle regardless of row count — the reason
    packed bitmasks beat per-flag boolean columns at 100 TB (one column
    scanned, one aggregate buffer per group).
    """
    o = load_table(spark, sf_dir, "orders")
    flags = (
        F.when(F.col("o_orderpriority").like("1%"), 1).otherwise(0)
        + F.when(F.col("o_orderpriority").like("2%"), 2).otherwise(0)
        + F.when(F.col("o_totalprice") > 100000, 4).otherwise(0)
        + F.when(F.pmod("o_custkey", F.lit(2)) == 0, 8).otherwise(0)
    ).cast("long")
    t = o.select("o_orderstatus", flags.alias("flags"))
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_and("flags").cast("long").alias("flags_and"),
        F.bit_or("flags").cast("long").alias("flags_or"),
        F.bit_xor("flags").cast("long").alias("flags_xor"),
        F.bool_and(F.col("flags") > 0).alias("any_flag_everywhere"),
        F.bool_or(F.col("flags") >= 8).alias("has_even_cust"),
    )


# ---------------------------------------------------------------------------
# Generator functions: posexplode (ordinal explode) + inline (struct-array)
# ---------------------------------------------------------------------------

GEN_DIMS = 4

GENERATORS_ORACLE = f"""
WITH emb AS (
    SELECT 'emb' AS src, vec_id AS id,
           CAST(i - 1 AS BIGINT) AS pos,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS v
    FROM embeddings,
         generate_series(1, {GEN_DIMS}) AS gs(i)
    WHERE len(embedding) >= {GEN_DIMS}
),
doc AS (
    SELECT 'doc' AS src, doc_id AS id, CAST(0 AS BIGINT) AS pos,
           CAST(n_chars AS BIGINT) AS v
    FROM documents
    UNION ALL
    SELECT 'doc', doc_id, CAST(1 AS BIGINT),
           CAST(len(string_split(text, ' ')) AS BIGINT)
    FROM documents
)
SELECT src, id, pos, v FROM emb
UNION ALL
SELECT src, id, pos, v FROM doc
"""


@query("scalar_generators", oracle=GENERATORS_ORACLE)
def scalar_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generator-function family beyond plain explode: ``posexplode``
    (element + ordinal in one pass — the ordinal would otherwise need a
    separate sequence join) over embedding prefixes, and ``inline``
    (array<struct> → columns, the 1-row-to-N-typed-rows generator) over
    per-document feature structs; both unioned into one long table.

    Values quantize to integer micro-units (embeddings are float32 —
    promoted to double BEFORE scaling, the house vector rule) so the
    union hashes exactly. 100 TB: generators are map-side row expansion
    with no shuffle at all — the plan is scan → generate → union.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = (
        emb.filter(F.size("embedding") >= GEN_DIMS)
        .select(
            "vec_id",
            F.posexplode(F.slice("embedding", 1, GEN_DIMS)).alias(
                "pos", "val"
            ),
        )
        .select(
            F.lit("emb").alias("src"),
            F.col("vec_id").alias("id"),
            F.col("pos").cast("long").alias("pos"),
            F.floor(
                F.col("val").cast("double") * 1000000 + F.lit(0.5)
            )
            .cast("long")
            .alias("v"),
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.inline(
            F.array(
                F.struct(
                    F.lit(0).cast("long").alias("pos"),
                    F.col("n_chars").cast("long").alias("v"),
                ),
                F.struct(
                    F.lit(1).cast("long").alias("pos"),
                    F.size(F.split("text", " ")).cast("long").alias("v"),
                ),
            )
        ),
    ).select(
        F.lit("doc").alias("src"),
        F.col("doc_id").alias("id"),
        "pos",
        "v",
    )
    return e.unionByName(d)


# ---------------------------------------------------------------------------
# Multiset (ALL) set operations — EXCEPT ALL / INTERSECT ALL
# ---------------------------------------------------------------------------

SET_ALL_ORACLE = """
WITH p95 AS (
    SELECT l.l_partkey AS k FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01'
),
p96 AS (
    SELECT l.l_partkey AS k FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
)
SELECT 'except_all_95_96' AS tag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
       CAST(sum(k) AS BIGINT) AS key_sum
FROM (SELECT k FROM p95 EXCEPT ALL SELECT k FROM p96)
UNION ALL
SELECT 'intersect_all_95_96',
       CAST(count(*) AS BIGINT), CAST(count(DISTINCT k) AS BIGINT),
       CAST(sum(k) AS BIGINT)
FROM (SELECT k FROM p95 INTERSECT ALL SELECT k FROM p96)
"""


@query("set_ops_all", oracle=SET_ALL_ORACLE)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations over part-demand streams: EXCEPT ALL keeps
    the multiplicity DIFFERENCE (a part bought 5× in '95 and 2× in '96
    survives 3×), INTERSECT ALL the multiplicity MINIMUM — the semantics
    ``set_ops``' DISTINCT variants erase, and what inventory/quota
    reconciliation actually needs.

    Spark plans both as count-aggregate + replicate-rows generators (no
    sort-based de-dup): each side collapses to (key, count) grain in ONE
    partial aggregate, then rows re-expand by the count arithmetic —
    so the shuffle carries key-grain rows even when multiplicities are
    huge, the right plan at 100 TB. The audit folds results to
    (rows, keys, key-sum) so the output hashes regardless of expansion
    order. exceptAll/intersectAll are the DataFrame API calls.
    """
    li, o = (
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )

    def demand(y: int) -> DataFrame:
        return (
            li.join(
                o.filter(
                    (
                        F.col("o_orderdate")
                        >= F.lit(f"{y}-01-01").cast("timestamp")
                    )
                    & (
                        F.col("o_orderdate")
                        < F.lit(f"{y + 1}-01-01").cast("timestamp")
                    )
                ).select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
            )
            .select(F.col("l_partkey").alias("k"))
        )

    p95, p96 = demand(1995), demand(1996)

    def fold(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("k").alias("n_keys"),
            F.sum("k").cast("long").alias("key_sum"),
        ).select(F.lit(tag).alias("tag"), "n_rows", "n_keys", "key_sum")

    return fold(p95.exceptAll(p96), "except_all_95_96").unionByName(
        fold(p95.intersectAll(p96), "intersect_all_95_96")
    )


# ---------------------------------------------------------------------------
# Multi-source survivorship (MDM "golden record" merge)
# ---------------------------------------------------------------------------

SURVIVORSHIP_ORACLE = """
WITH feeds AS (
    SELECT o_custkey AS custkey,
           CASE o_orderkey % 3 WHEN 0 THEN 'crm' WHEN 1 THEN 'erp'
                ELSE 'web' END AS feed,
           CAST(o_orderkey % 3 AS BIGINT) AS precedence,
           o_orderdate, o_orderkey, o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
),
latest_per_feed AS (
    SELECT custkey, feed, precedence, o_orderstatus AS status, cents
    FROM (SELECT *, row_number() OVER (PARTITION BY custkey, feed
                                       ORDER BY o_orderdate DESC,
                                                o_orderkey DESC) AS rn
          FROM feeds)
    WHERE rn = 1
)
SELECT custkey,
       min(feed) FILTER (WHERE precedence = best) AS chosen_source,
       min(status) FILTER (WHERE precedence = best) AS status,
       CAST(min(cents) FILTER (WHERE precedence = best) AS BIGINT)
           AS cents,
       CAST(count(*) AS BIGINT) AS n_feeds_present
FROM (SELECT *, min(precedence) OVER (PARTITION BY custkey) AS best
      FROM latest_per_feed)
GROUP BY custkey
"""


@query("mdm_survivorship", oracle=SURVIVORSHIP_ORACLE)
def mdm_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-data survivorship: three derived source feeds (crm/erp/web,
    trust order = precedence) each contribute their FRESHEST record per
    customer; the golden record is the highest-precedence feed's view,
    with a feed-coverage count for stewardship.

    Both levels are algebraic struct folds, NOT windows: latest-per-feed
    is max(struct(date, key, status, cents)) per (customer, feed), and
    the survivor is min(struct(precedence, record)) per customer — two
    partial-agg shuffles on the same key prefix (Catalyst reuses the
    partitioning for the second, narrower aggregate), with map-side
    combine at both. The oracle spells the same cascade as the textbook
    double row_number/window form. This is the bronze→silver merge rule
    every multi-system ingest needs.
    """
    o = load_table(spark, sf_dir, "orders")
    feeds = o.select(
        F.col("o_custkey").alias("custkey"),
        F.element_at(
            F.array(F.lit("crm"), F.lit("erp"), F.lit("web")),
            (F.pmod("o_orderkey", F.lit(3)) + 1).cast("int"),
        ).alias("feed"),
        F.pmod("o_orderkey", F.lit(3)).cast("long").alias("precedence"),
        "o_orderdate",
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    latest = (
        feeds.groupBy("custkey", "feed", "precedence")
        .agg(
            F.max(
                F.struct("o_orderdate", "o_orderkey", "o_orderstatus", "cents")
            ).alias("r")
        )
        .select(
            "custkey",
            "feed",
            "precedence",
            F.col("r.o_orderstatus").alias("status"),
            F.col("r.cents").alias("cents"),
        )
    )
    return (
        latest.groupBy("custkey")
        .agg(
            F.min(
                F.struct("precedence", "feed", "status", "cents")
            ).alias("s"),
            F.count(F.lit(1)).alias("n_feeds_present"),
        )
        .select(
            "custkey",
            F.col("s.feed").alias("chosen_source"),
            F.col("s.status").alias("status"),
            F.col("s.cents").alias("cents"),
            "n_feeds_present",
        )
    )


# ---------------------------------------------------------------------------
# Fallback-key enrichment — primary match, then regional default
# ---------------------------------------------------------------------------

FALLBACK_ORACLE = """
WITH dim AS (SELECT * FROM customer WHERE c_custkey % 10 != 0),
defaults AS (
    SELECT c_nationkey, min(c_custkey) AS default_custkey
    FROM customer GROUP BY c_nationkey
),
staged AS (
    SELECT o.o_orderkey,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN d.c_custkey IS NOT NULL THEN 'primary'
                WHEN f.default_custkey IS NOT NULL THEN 'fallback'
                ELSE 'unmatched' END AS match_stage
    FROM orders o
    LEFT JOIN dim d ON o.o_custkey = d.c_custkey
    LEFT JOIN defaults f ON f.c_nationkey = o.o_custkey % 25
)
SELECT match_stage,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM staged GROUP BY match_stage
"""


@query("join_fallback_keys", oracle=FALLBACK_ORACLE)
def join_fallback_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with a key cascade: enrich orders against an
    (artificially incomplete — every 10th customer dropped) dimension by
    the primary key, and route the misses through a FALLBACK join to a
    per-nation default record — the match-priority pattern every
    dirty-key enrichment needs, audited as per-stage order/revenue
    totals.

    Scale shape: the primary path is the ordinary hash equi-join; only
    the ANTI-join residue (the 10%) re-joins, and the fallback side is
    nation-grain, so it BROADCASTS — the cascade costs one extra
    broadcast probe over the misses, not a second fact shuffle. The
    oracle spells the equivalent double LEFT JOIN + CASE; the staged
    union and the CASE agree because a primary match excludes the row
    from the fallback probe by construction.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.filter(F.pmod("c_custkey", F.lit(10)) != 0).select(
        "c_custkey"
    )
    defaults = cust.groupBy("c_nationkey").agg(
        F.min("c_custkey").alias("default_custkey")
    )
    primary = o.join(dim, o.o_custkey == dim.c_custkey, "left_semi").select(
        F.lit("primary").alias("match_stage"), "cents"
    )
    misses = o.join(dim, o.o_custkey == dim.c_custkey, "left_anti")
    fallback_hit = misses.join(
        broadcast(defaults),
        F.pmod(misses.o_custkey, F.lit(25)) == defaults.c_nationkey,
        "left",
    ).select(
        F.when(F.col("default_custkey").isNotNull(), "fallback")
        .otherwise("unmatched")
        .alias("match_stage"),
        "cents",
    )
    return (
        primary.unionByName(fallback_hit)
        .groupBy("match_stage")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical share rollup — percent-of-parent at two levels
# ---------------------------------------------------------------------------

HIERARCHY_SHARE_ORACLE = """
WITH rev AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
)
SELECT region, nation, cents,
       CAST((CAST(cents AS HUGEINT) * 1000000)
           // CAST(sum(cents) OVER (PARTITION BY region) AS HUGEINT)
           AS BIGINT) AS share_of_region_ppm,
       CAST((CAST(cents AS HUGEINT) * 1000000)
           // CAST(sum(cents) OVER () AS HUGEINT)
           AS BIGINT) AS share_of_total_ppm
FROM rev
"""


@query("hierarchy_share_rollup", oracle=HIERARCHY_SHARE_ORACLE)
def hierarchy_share_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent reporting down a region → nation hierarchy:
    nation revenue with its integer-ppm share of the region and of the
    total — the drill-down table every hierarchy dashboard renders.

    Scale shape: ONE fact aggregate (orders joined through
    customer→nation→region) collapses to nation grain (25 rows);
    nation/region carry explicit broadcast hints (fixed 25/5 rows);
    customer is SF-scaled so it is deliberately UNhinted — Catalyst
    auto-broadcasts it under the threshold and AQE demotes to a shuffle
    join when it outgrows it (the relational.py join_inner_equi rule);
    both parent totals are windows over that dimension-grain table, so
    the shares are free. Shares are integer floor-division ppm — exact,
    and each level's shares sum to ≤ 1e6 with the deficit bounded by
    row count (floor loss), pinned in tests/test_round4h.py. The ppm
    numerator is DECIMAL(38,0) (HUGEINT in the oracle): cents·1e6
    overflows BIGINT once a parent's revenue passes ~9·10¹² cents —
    the round-6 sf10 sweep hit exactly that (ANSI mode raised
    ARITHMETIC_OVERFLOW; with ANSI off it would have wrapped silently).
    `div` on decimals is Spark's exact integral divide returning long,
    so the result column types are unchanged.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("cents")
        )
    )
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        "cents",
        F.expr(
            "CAST(cents AS DECIMAL(38,0)) * 1000000"
        ).alias("_num"),
        F.sum("cents").over(wr).cast("long").alias("_r"),
        F.sum("cents").over(wt).cast("long").alias("_t"),
    ).select(
        "region",
        "nation",
        "cents",
        F.expr("_num div _r").alias("share_of_region_ppm"),
        F.expr("_num div _t").alias("share_of_total_ppm"),
    )


# ---------------------------------------------------------------------------
# Timezone-aware business-hours analytics — convert_timezone coverage
# ---------------------------------------------------------------------------

_MARKETS = ("America/New_York", "Europe/London", "Asia/Tokyo")

TZ_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{m}' AS market, event_type,
       CAST(count(*) FILTER (WHERE
            extract(hour FROM (ts AT TIME ZONE 'UTC' AT TIME ZONE '{m}'))
            BETWEEN 9 AND 16) AS BIGINT) AS n_business,
       CAST(count(*) AS BIGINT) AS n_total
FROM events GROUP BY event_type
"""
    for m in _MARKETS
)


@query("scalar_timezone_business_hours", oracle=TZ_ORACLE)
def scalar_timezone_business_hours(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Business-hours (09:00–16:59 local) event share per market —
    ``convert_timezone`` over three IANA zones, the correctness trap
    every global pipeline hits: the same UTC instant is inside business
    hours in one market and not another, and DST means the offset is a
    function of the DATE, not a constant (which is why this is a zone
    CONVERSION, never an offset addition).

    The session stays pinned to UTC (oracle-parity rule,
    session.RUNTIME_CONFS) and conversion happens per-expression, so
    timestamps keep one canonical storage form with presentation-zone
    math at the edge — the only layout that survives multi-region data
    at 100 TB. Map-side expression + one partial-agg shuffle per market,
    unioned; the DuckDB oracle spells the same conversion as AT TIME
    ZONE chains through the same IANA database.
    """
    ev = load_table(spark, sf_dir, "events")
    out = None
    for m in _MARKETS:
        local_hour = F.hour(F.convert_timezone(F.lit("UTC"), F.lit(m), "ts"))
        a = ev.groupBy("event_type").agg(
            F.count_if(local_hour.between(9, 16)).alias("n_business"),
            F.count(F.lit(1)).alias("n_total"),
        ).select(
            F.lit(m).alias("market"), "event_type", "n_business", "n_total"
        )
        out = a if out is None else out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# Collation-aware matching — Spark 4 COLLATE coverage
# ---------------------------------------------------------------------------

_COLLATE_TERMS = ("SPARK", "Merge", "TABLE", "window")

_COLLATE_VALUES = ", ".join(f"('{t}')" for t in _COLLATE_TERMS)

COLLATION_ORACLE = f"""
WITH terms(term) AS (VALUES {_COLLATE_VALUES}),
w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
SELECT t.term,
       CAST(count(*) AS BIGINT) AS n_ci_matches,
       CAST(count(*) FILTER (WHERE w.word = t.term) AS BIGINT)
           AS n_binary_matches
FROM w JOIN terms t ON w.word = t.term COLLATE NOCASE
GROUP BY t.term
"""


@query("scalar_collation_match", oracle=COLLATION_ORACLE)
def scalar_collation_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive matching via COLLATION (Spark 4 ``COLLATE
    UTF8_LCASE`` vs DuckDB ``COLLATE NOCASE``) — a mixed-case term list
    joined against the all-lowercase corpus: the collated join finds
    every occurrence while the binary comparison inside the same result
    counts 0 for the uppercase terms (pinned in test_round4h), proving
    the collation — not data luck — does the folding.

    Collation beats lower()-wrapping at scale because the comparison
    stays SARGable and a collated column's stats/partitioning remain
    usable — wrapping both sides in lower() re-derives strings per row
    and blinds pruning. One broadcast of the 4-term list; the corpus
    side streams map-only into the join.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.explode(F.split("text", " ")).alias("word"))
    terms = spark.createDataFrame(
        [(t,) for t in _COLLATE_TERMS], "term string"
    )
    joined = w.join(
        broadcast(terms),
        F.expr("word COLLATE UTF8_LCASE = term COLLATE UTF8_LCASE"),
    )
    return joined.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_ci_matches"),
        F.count_if(F.col("word") == F.col("term")).alias(
            "n_binary_matches"
        ),
    )


# ---------------------------------------------------------------------------
# try_* parsing quarantine — the string-ingest sibling of scalar_try_arith
# ---------------------------------------------------------------------------

TRY_PARSE_ORACLE = """
WITH messy AS (
    SELECT o_orderstatus AS status,
           CASE o_orderkey % 5
             WHEN 0 THEN 'not a date'
             WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
             ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS ts_str,
           CASE WHEN o_orderkey % 7 = 0
                THEN 'x' || CAST(o_totalprice AS VARCHAR)
                ELSE printf('%.2f', o_totalprice) END AS num_str,
           o_orderdate, o_totalprice
    FROM orders
),
parsed AS (
    SELECT status,
           coalesce(try_strptime(ts_str, '%Y-%m-%d %H:%M:%S'),
                    try_strptime(ts_str, '%d/%m/%Y')) AS ts,
           try_cast(num_str AS DOUBLE) AS num
    FROM messy
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(ts) AS BIGINT) AS n_ts_parsed,
       CAST(count(num) AS BIGINT) AS n_num_parsed,
       CAST(sum(CAST(epoch_us(ts) AS BIGINT) // 86400000000) AS BIGINT)
           AS sum_epoch_days,
       CAST(sum(CAST(floor(num * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM parsed GROUP BY status
"""


@query("scalar_try_parse", oracle=TRY_PARSE_ORACLE)
def scalar_try_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-on-failure string parsing (``try_to_timestamp`` across two
    date formats, ``try_to_number``) over a deterministically messy
    landing column — the string-ingest sibling of scalar_try_arith and
    the expression-level form of the corrupt-records quarantine: bad
    values become NULLs that the audit counts, never exceptions that
    kill the job and never silent coercions.

    Parsed values are AUDITED, not just counted: epoch-day and
    integer-cent sums over the successes must match the oracle exactly,
    so a format that 'parses' to the wrong instant (dd/MM vs MM/dd is
    THE classic) fails the hash rather than slipping through. Map-only
    expressions + one aggregate; every parse failure is a NULL in a
    column, so the quarantine costs nothing at 100 TB.
    """
    o = load_table(spark, sf_dir, "orders")
    messy = o.select(
        F.col("o_orderstatus").alias("status"),
        F.when(F.pmod("o_orderkey", F.lit(5)) == 0, F.lit("not a date"))
        .when(
            F.pmod("o_orderkey", F.lit(5)) == 1,
            F.date_format("o_orderdate", "dd/MM/yyyy"),
        )
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .alias("ts_str"),
        F.when(
            F.pmod("o_orderkey", F.lit(7)) == 0,
            F.concat(F.lit("x"), F.col("o_totalprice").cast("string")),
        )
        .otherwise(F.format_string("%.2f", "o_totalprice"))
        .alias("num_str"),
    )
    parsed = messy.select(
        "status",
        F.coalesce(
            F.try_to_timestamp("ts_str", F.lit("yyyy-MM-dd HH:mm:ss")),
            F.try_to_timestamp("ts_str", F.lit("dd/MM/yyyy")),
        ).alias("ts"),
        F.expr("try_cast(num_str AS DOUBLE)").alias("num"),
    )
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("ts").alias("n_ts_parsed"),
        F.count("num").alias("n_num_parsed"),
        F.sum(F.expr("unix_micros(ts) div 86400000000"))
        .cast("long")
        .alias("sum_epoch_days"),
        F.sum(F.floor(F.col("num") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Bitmap distinct — EXACT distinct counting with mergeable bounded state
# ---------------------------------------------------------------------------

BITMAP_ORACLE = """
SELECT l_returnflag AS flag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_bitmap_distinct", oracle=BITMAP_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct supplier counts per return flag via bitmap
    aggregation (``bitmap_bit_position`` → ``bitmap_construct_agg`` per
    32k-key bucket → sum of ``bitmap_count``s) — the middle ground the
    sketch family lacks: count_distinct's exactness with HLL's mergeable
    fixed-size state (4 KB per bucket, OR-merge partials), the right
    tool for bounded integer key domains at 100 TB where a shuffle-dedup
    count_distinct repartitions the fact and HLL gives up exactness.

    The mechanism is exotic but the RESULT is plain relational, so the
    oracle is simply COUNT(DISTINCT) — the strongest check an alternate
    physical strategy can get. Two cheap aggregates: (flag, bucket)
    bitmaps first (map-side OR-combine), then a per-flag sum of bucket
    counts; n_rows rides the first pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    buckets = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.expr("bitmap_bucket_number(l_suppkey)").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_count(bitmap_construct_agg("
            "bitmap_bit_position(l_suppkey)))"
        ).alias("cnt"),
        F.count(F.lit(1)).alias("rows_in_bucket"),
    )
    return buckets.groupBy("flag").agg(
        F.sum("rows_in_bucket").cast("long").alias("n_rows"),
        F.sum("cnt").cast("long").alias("n_suppliers"),
    )


# ---------------------------------------------------------------------------
# Array quantifiers — exists / forall / arrays_zip
# ---------------------------------------------------------------------------

QUANTIFIER_ORACLE = """
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(*) FILTER (WHERE list_aggregate(
                list_transform(embedding, x -> x < 0), 'bool_or'))
            AS BIGINT) AS n_has_negative,
       CAST(count(*) FILTER (WHERE list_aggregate(
                list_transform(embedding, x -> abs(x) < 1.0), 'bool_and'))
            AS BIGINT) AS n_all_unit,
       CAST(sum(len(list_filter(list_zip(embedding, list_reverse(embedding)),
                p -> (p[1] >= 0) = (p[2] >= 0)))) AS BIGINT)
           AS n_sign_symmetric_positions
FROM embeddings GROUP BY label
"""


@query("scalar_array_quantifiers", oracle=QUANTIFIER_ORACLE)
def scalar_array_quantifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean-quantifier higher-order functions: ``exists`` (∃
    component < 0), ``forall`` (∀ |component| < 1), and ``arrays_zip`` +
    ``filter`` (per-vector count of positions whose sign matches the
    mirrored position) over the embedding corpus — the predicates data
    validation writes against array columns without ever exploding them.

    All three evaluate inside the row (map-only, zero shuffle before the
    label aggregate) and short-circuit where the semantics allow —
    versus the explode-then-aggregate form, which multiplies the row
    count by the array length just to fold it back. DuckDB mirrors with
    list_aggregate bool_or/bool_and and list_zip/list_filter; float
    comparisons are sign/threshold tests, so no rounding is involved
    anywhere.
    """
    e = load_table(spark, sf_dir, "embeddings")
    zipped = F.expr(
        "size(filter(arrays_zip(embedding, reverse(embedding)),"
        " p -> (p.embedding >= 0) = (p.`1` >= 0)))"
    )
    return e.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.count_if(F.exists("embedding", lambda x: x < 0)).alias(
            "n_has_negative"
        ),
        F.count_if(
            F.forall("embedding", lambda x: F.abs(x) < 1.0)
        ).alias("n_all_unit"),
        F.sum(zipped).cast("long").alias("n_sign_symmetric_positions"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregation — materialized-view maintenance. A 100 TB events
# table is append-only: re-scanning all history to refresh a daily rollup
# is the single most common waste in production pipelines. Because these
# aggregates are algebraic (count/sum/min/max partials merge losslessly),
# the refresh is agg(old-partial ⊎ delta-partial) — history is never
# rescanned, only its |groups|-row summary. The oracle is the FULL
# recompute: merging partials must be exactly equivalent.
# ---------------------------------------------------------------------------

INCR_CUTOFF = "2024-01-21 00:00:00"


@query(
    "incremental_agg",
    oracle=f"""
SELECT event_type,
       count(*) AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value,
       floor((avg(value)) * 10000 + 0.5) / 10000 AS avg_value,
       floor((min(value)) * 100 + 0.5) / 100 AS min_value,
       floor((max(value)) * 100 + 0.5) / 100 AS max_value
FROM events
GROUP BY event_type
""",
)
def incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge a historical partial aggregate with a fresh-delta partial.

    ``old`` stands in for the stored summary table (in production it is
    read back, not recomputed); ``delta`` is the newly-arrived partition.
    avg is NOT stored — it is derived at merge time from the mergeable
    sum/count pair, the textbook algebraic-vs-holistic distinction.
    """
    ev = load_table(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")
    old = partial(ev.where(F.col("ts") < cutoff))
    delta = partial(ev.where(F.col("ts") >= cutoff))
    return (
        old.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            hround(F.sum("s"), 2).alias("total_value"),
            hround(F.sum("s") / F.sum("n"), 4).alias("avg_value"),
            hround(F.min("mn"), 2).alias("min_value"),
            hround(F.max("mx"), 2).alias("max_value"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic mode (most frequent value per group)
#
# Grouped count + per-group top-1 window with a pinned tie-break (Spark's
# ``mode()`` and DuckDB's are both tie-nondeterministic).
# ---------------------------------------------------------------------------

MODE_ORACLE = """
WITH counts AS (
    SELECT lang, source, count(*) AS cnt
    FROM documents
    GROUP BY lang, source
),
ranked AS (
    SELECT lang, source, cnt,
           row_number() OVER (PARTITION BY lang
                              ORDER BY cnt DESC, source) AS rn
    FROM counts
)
SELECT lang, source AS top_source, cnt FROM ranked WHERE rn = 1
"""


@query("agg_mode", oracle=MODE_ORACLE)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent source per language, with a deterministic tie-break.

    Spark's ``mode()`` and DuckDB's both pick an arbitrary winner on tied
    counts, which can never hash-match across engines — so mode is
    computed as grouped counts + per-group top-1 with ``(cnt DESC,
    source)`` ordering. The count aggregate collapses to |lang×source|
    rows before the window, so the window input is dimension-sized no
    matter how large documents grows.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("source").alias("top_source"), "cnt")
    )


# ---------------------------------------------------------------------------
# Interval-overlap self-join: concurrently-shipping orders per customer
#
# Equi-join on the owning customer FIRST, overlap as a residual predicate —
# bounded per-key fan-out instead of a cross join.
# ---------------------------------------------------------------------------

OVERLAP_ORACLE = """
WITH spans AS (
    SELECT o_custkey, o_orderkey,
           min(l_shipdate) AS ship_lo, max(l_shipdate) AS ship_hi
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_custkey, o_orderkey
)
SELECT a.o_custkey AS c_custkey,
       a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       CAST(date_diff('day',
            greatest(a.ship_lo, b.ship_lo)::DATE,
            least(a.ship_hi, b.ship_hi)::DATE) AS BIGINT) AS overlap_days
FROM spans a
JOIN spans b ON a.o_custkey = b.o_custkey
            AND a.o_orderkey < b.o_orderkey
            AND a.ship_lo <= b.ship_hi AND b.ship_lo <= a.ship_hi
"""


@query("join_interval_overlap", oracle=OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of orders from the same customer whose lineitem ship spans
    overlap (concurrently-shipping orders), with the overlap length.

    Interval overlap (``a.lo <= b.hi AND b.lo <= a.hi``) is inherently
    non-equi, so the plan anchors on the EQUI key first: spans aggregate
    to one row per order, the self-join shuffles once on o_custkey, and
    the overlap test runs as a residual predicate inside the sort-merge
    join — per-customer fan-out is orders-per-customer squared (~10² at
    most), never a cross join. At 100 TB the same plan holds; if a single
    key's interval count explodes, the bucketed-range pattern from
    ``join_range_bucketed`` composes on top.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "o_orderkey")
        .agg(
            F.min("l_shipdate").alias("ship_lo"),
            F.max("l_shipdate").alias("ship_hi"),
        )
    )
    a = spans.alias("a")
    b = spans.alias("b")
    return a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.col("a.ship_lo") <= F.col("b.ship_hi"))
        & (F.col("b.ship_lo") <= F.col("a.ship_hi")),
    ).select(
        F.col("a.o_custkey").alias("c_custkey"),
        F.col("a.o_orderkey").alias("order_a"),
        F.col("b.o_orderkey").alias("order_b"),
        F.datediff(
            F.least("a.ship_hi", "b.ship_hi").cast("date"),
            F.greatest("a.ship_lo", "b.ship_lo").cast("date"),
        )
        .cast("long")
        .alias("overlap_days"),
    )


# ---------------------------------------------------------------------------
# Incremental top-k maintenance (TakeOrdered as a merge of segment top-ks)
# ---------------------------------------------------------------------------

INC_TOPK_K = 25
INC_TOPK_CUTOFF = "1998-01-01"

INC_TOPK_ORACLE = f"""
SELECT o_orderkey,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
       strftime(o_orderdate, '%Y-%m-%d') AS order_day
FROM orders
ORDER BY cents DESC, o_orderkey
LIMIT {INC_TOPK_K}
"""


@query("incremental_topk", oracle=INC_TOPK_ORACLE)
def incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k maintenance under append-only ingest: the global top-25 is
    recomputed as top-k(top-k(history) ∪ top-k(delta)) — never a rescan
    of history's full order set.

    Sound because static top-k is a monoid: any row in the merged top-k
    is in its segment's top-k (k-truncation below rank k can never evict
    a global winner). The oracle is the flat one-shot TakeOrdered over
    everything — merging must be exactly equivalent, tie-break included
    (cents desc, orderkey asc pinned on every cut). 100 TB: history
    contributes a k-row summary, so a refresh touches only the delta
    partition plus 2k rows — the TakeOrdered sibling of
    ``incremental_agg``'s partial-merge argument.
    """
    orders = load_table(spark, sf_dir, "orders")
    priced = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
    )
    hist = priced.filter(F.col("order_day") < INC_TOPK_CUTOFF)
    delta = priced.filter(F.col("order_day") >= INC_TOPK_CUTOFF)
    top = lambda df: df.orderBy(  # noqa: E731 - local plan builder
        F.desc("cents"), "o_orderkey"
    ).limit(INC_TOPK_K)
    return top(top(hist).unionByName(top(delta)))


# ---------------------------------------------------------------------------
# As-of join with a match tolerance (pandas merge_asof tolerance=)
#
# pandas merge_asof's ``tolerance=`` — the range-join predicate bounds BOTH
# sides, so stale candidates are dropped before the argmax, shrinking the join,
# not filtering after it.
# ---------------------------------------------------------------------------

ASOF_TOL_DAYS = 7

ASOF_TOL_ORACLE = f"""
WITH j AS (
    SELECT e.event_id, o.o_orderkey, o.o_orderdate
    FROM events e JOIN orders o
      ON e.user_id = o.o_custkey
     AND o.o_orderdate <= e.ts
     AND date_diff('day', o.o_orderdate, CAST(e.ts AS DATE))
         <= {ASOF_TOL_DAYS}
),
m AS (SELECT event_id, max(o_orderdate) AS md FROM j GROUP BY event_id),
best AS (
    SELECT j.event_id, max(j.o_orderkey) AS o_orderkey, m.md
    FROM j JOIN m ON j.event_id = m.event_id AND j.o_orderdate = m.md
    GROUP BY j.event_id, m.md
)
SELECT e.event_id, b.o_orderkey,
       strftime(b.md, '%Y-%m-%d') AS order_day,
       CAST(date_diff('day', b.md, CAST(e.ts AS DATE)) AS BIGINT)
           AS gap_days
FROM events e LEFT JOIN best b USING (event_id)
"""


@query("join_asof_tolerance", oracle=ASOF_TOL_ORACLE)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left as-of join with a 7-day tolerance: each event keeps its user's
    latest prior order only if it is at most 7 days old; stale or absent
    history yields NULLs (pandas ``merge_asof(..., tolerance=)``).

    The tolerance lives IN the join predicate, not in a post-filter: the
    range condition bounds both sides, so candidate sets shrink before the
    argmax aggregate runs — on long order histories that is the difference
    between scanning a user's lifetime and scanning one week. The final
    left join back to events restores unmatched rows; it is event-grain on
    both sides, never multiplying. 100 TB: same hash-shuffle shape as
    join_asof plus the event-id-grain left join.
    """
    t = load_tables(spark, sf_dir, ("events", "orders"))
    e = t["events"]
    j = e.join(
        t["orders"],
        (F.col("user_id") == F.col("o_custkey"))
        & (F.col("o_orderdate") <= F.col("ts"))
        & (
            F.datediff(F.to_date("ts"), F.col("o_orderdate"))
            <= ASOF_TOL_DAYS
        ),
    )
    best = j.groupBy("event_id").agg(
        F.max(F.struct("o_orderdate", "o_orderkey")).alias("m")
    )
    return (
        e.select("event_id", F.to_date("ts").alias("eday"))
        .join(best, "event_id", "left")
        .select(
            "event_id",
            F.col("m.o_orderkey").alias("o_orderkey"),
            F.date_format("m.o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.datediff("eday", F.col("m.o_orderdate"))
            .cast("long")
            .alias("gap_days"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted percentiles — quantity-weighted price quantiles per group
# ---------------------------------------------------------------------------

WEIGHTED_PCT_ORACLE = """
WITH v AS (
    SELECT l_returnflag AS flag,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS w
    FROM lineitem GROUP BY 1, 2
),
c AS (
    SELECT flag, cents, w,
           CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents) AS BIGINT)
               AS cumw,
           CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS totw
    FROM v
)
SELECT flag, CAST(max(totw) AS BIGINT) AS w_total,
       CAST(min(CASE WHEN 2 * cumw >= totw THEN cents END) AS BIGINT)
           AS p50_cents,
       CAST(min(CASE WHEN 10 * cumw >= 9 * totw THEN cents END) AS BIGINT)
           AS p90_cents
FROM c GROUP BY flag
"""


@query("agg_weighted_percentile", oracle=WEIGHTED_PCT_ORACLE)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED percentiles (quantity-weighted p50/p90 of price per
    return flag) — the operator percentile_approx cannot express and
    plain percentile gets wrong (every unit of quantity counts, not every
    row).

    Scale shape: compact to (group, value)-grain with one hash aggregate
    (weights sum map-side), then cumulative weight runs per group over
    VALUE-grain rows (the pareto_frontier/partition_range_bounds
    justification: the window never sees fact rows), and the quantile is
    min(value | k·cumw ≥ p·totw) — integer cross-multiplied, no float
    division anywhere, so it hashes exactly. Weights floor-round to
    BIGINT (TPC-H quantities are integral).
    """
    li = load_table(spark, sf_dir, "lineitem")
    v = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.floor(F.col("l_quantity") + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
        .groupBy("flag", "cents")
        .agg(F.sum("q").cast("long").alias("w"))
    )
    wcum = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("flag").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = v.select(
        "flag",
        "cents",
        F.sum("w").over(wcum).cast("long").alias("cumw"),
        F.sum("w").over(wtot).cast("long").alias("totw"),
    )
    return c.groupBy("flag").agg(
        F.max("totw").cast("long").alias("w_total"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents")))
        .cast("long")
        .alias("p50_cents"),
        F.min(
            F.when(10 * F.col("cumw") >= 9 * F.col("totw"), F.col("cents"))
        )
        .cast("long")
        .alias("p90_cents"),
    )
