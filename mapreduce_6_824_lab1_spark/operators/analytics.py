"""Event, business and data-quality analytics.

- events: funnels and funnel latency, cohort retention and LTV, anomaly
  fences, transitions, path mining, pattern matching, attribution, A/B and
  chi-square tests, Markov chains, forecasts, rolling WAU, session-duration
  histograms and concurrency;
- business: RFM segments, market baskets and FP-growth, Pareto frontiers,
  ABC classes, supplier scorecards and weighted sampling;
- data quality and planning: the Gopher-style gate, table expectations,
  assertion gates, Benford digits, range-partition bounds and the skew and
  join-cardinality audits.

The product-analytics layer a training-data/event pipeline runs on its
``events`` and TPC-H tables (reference has no equivalent — driver extension
mandate, SURVEY.md §2.C lineage). Each key picks the scale-correct plan over
the obvious one; the section comment beside a key says why.

Scale notes per query are in each docstring; the common rule for the user
analytics: everything aggregates per ``user_id`` (150 distinct per fixture,
millions in prod) BEFORE any join, so shuffle traffic is O(users), not
O(events).

Oracle parity: ``events.ts`` goes through ``catalog.load_table`` (ns→µs
normalization, FIXTURES.md); output timestamps are second-precision strings;
week buckets are ``date_trunc('week', …)`` (ISO Monday) on both engines;
week offsets are integer-day differences divided by 7 (cast to BIGINT) so
no engine-specific "week diff" semantics are involved.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from mapreduce_6_824_lab1_spark.catalog import load_table
from mapreduce_6_824_lab1_spark.functions.numeric import hround, sql_hround
from mapreduce_6_824_lab1_spark.functions.prefix import bucketed_running_sum
from mapreduce_6_824_lab1_spark.operators.temporal import (
    _IVL_SPAN_US,
    TS_FMT_DUCK,
    TS_FMT_SPARK,
)
from mapreduce_6_824_lab1_spark.operators.text_analysis import _KNUTH, _MOD
from mapreduce_6_824_lab1_spark.registry import query

FUNNEL_STEPS = ("view", "click", "purchase")

FUNNEL_ORACLE = f"""
WITH s1 AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
    WHERE e.event_type = '{FUNNEL_STEPS[1]}' GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
    WHERE e.event_type = '{FUNNEL_STEPS[2]}' GROUP BY e.user_id
)
SELECT * FROM (
    SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type,
           (SELECT count(*) FROM s1) AS users
    UNION ALL
    SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3)
)
"""


@query("events_funnel", oracle=FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: users counted at step N only
    if step N's event happened strictly AFTER their first step-N-1 event.

    Plan: three per-user min-aggregates, each joined to the previous stage
    on ``user_id`` — every join and aggregate shares the user_id hash
    partitioning, so stages 2 and 3 reuse the shuffle. Traffic is O(users)
    after the first aggregate. 100 TB: identical; the per-step filter
    pushes ``event_type`` into the scan, and a longer funnel is just more
    stages on the same key.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )

    def stage(step_type: str, prev: DataFrame | None) -> DataFrame:
        e = events.filter(F.col("event_type") == step_type)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col("t_prev"))
        return e.groupBy("user_id").agg(F.min("ts").alias("t_prev"))

    s1 = stage(FUNNEL_STEPS[0], None)
    s2 = stage(FUNNEL_STEPS[1], s1)
    s3 = stage(FUNNEL_STEPS[2], s2)
    counts = [
        s.agg(F.count(F.lit(1)).alias("users")).withColumn(
            "step", F.lit(i + 1)
        ).withColumn("event_type", F.lit(FUNNEL_STEPS[i]))
        for i, s in enumerate((s1, s2, s3))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.select("step", "event_type", "users")


COHORT_ORACLE = f"""
WITH cohorts AS (
    SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
    FROM events
)
SELECT strftime(c.cohort_week, '{TS_FMT_DUCK}') AS cohort_week,
       CAST(datediff('day', c.cohort_week, a.active_week) / 7 AS BIGINT)
           AS week_offset,
       count(*) AS active_users
FROM cohorts c JOIN activity a ON c.user_id = a.user_id
GROUP BY 1, 2
"""


@query("cohort_retention", oracle=COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week, counted
    in every later week they were active (the classic retention triangle).

    Plan: per-user min-week aggregate + per-(user, week) distinct — both
    shuffle once on user_id and the join reuses that partitioning; the
    final count shuffles the tiny (cohort, offset) grid. 100 TB: the
    distinct is the dominant cost and is exactly a partial-aggregated
    dedup; nothing here is O(events²).
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    week = F.date_trunc("week", F.col("ts"))
    cohorts = events.groupBy("user_id").agg(
        F.min(week).alias("cohort_week")
    )
    activity = events.select(
        "user_id", week.alias("active_week")
    ).distinct()
    return (
        cohorts.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_week", TS_FMT_SPARK).alias("cohort_week"),
            (
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Anomaly detection — the built-in two-pass z-score formulation that
# pandas_normalize's docstring names as its scale escape hatch: aggregate
# per-group moments (tiny), broadcast them back, flag outliers map-side.
# No Python, no per-group Arrow batch, no giant-group failure mode — the
# group count bounds the broadcast, not the group SIZE.
# ---------------------------------------------------------------------------

ANOMALY_Z = 3.0


@query(
    "anomaly_zscore",
    oracle=f"""
WITH m AS (
    SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
    FROM events GROUP BY event_type
)
SELECT event_id, e.event_type,
       floor(((value - mu) / sd) * 10000 + 0.5) / 10000 AS zscore
FROM events e JOIN m ON e.event_type = m.event_type
WHERE abs((value - mu) / sd) > {ANOMALY_Z}
""",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events more than 3 sigma from their type's mean (two-pass, map-side).

    Pass 1 is one partial-agg shuffle producing |groups| rows; pass 2 is a
    broadcast join + filter — the full table is scanned exactly twice and
    never shuffled. Compare ``pandas_normalize``: same math, but that
    formulation shuffles every row into per-group Arrow batches. This is
    the shape that survives a 10-billion-row group.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.functions import broadcast

    m = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(broadcast(m), "event_type")
        .where(F.abs(z) > ANOMALY_Z)
        .select("event_id", "event_type", hround(z, 4).alias("zscore"))
    )


# ---------------------------------------------------------------------------
# Funnel latency — time-to-convert distributions between funnel stages.
# events_funnel counts who converts; this measures HOW FAST: per-user
# first-qualifying timestamps per stage (same strictly-after chaining),
# then per-transition latency percentiles. Latencies are exact integer
# microseconds divided once by 1e6 in a pinned shape, and the percentile
# pair (Spark ``percentile`` == DuckDB ``quantile_cont``) is the same
# engine-portable pairing agg_percentiles established.
# ---------------------------------------------------------------------------


FUNNEL_LATENCY_ORACLE = f"""
WITH s1 AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
    WHERE e.event_type = '{FUNNEL_STEPS[1]}' GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
    WHERE e.event_type = '{FUNNEL_STEPS[2]}' GROUP BY e.user_id
),
lat AS (
    SELECT '{FUNNEL_STEPS[0]}->{FUNNEL_STEPS[1]}' AS transition,
           CAST(epoch_us(s2.t2) - epoch_us(s1.t1) AS DOUBLE) / 1000000.0
               AS lat_s
    FROM s1 JOIN s2 ON s1.user_id = s2.user_id
    UNION ALL
    SELECT '{FUNNEL_STEPS[1]}->{FUNNEL_STEPS[2]}',
           CAST(epoch_us(s3.t3) - epoch_us(s2.t2) AS DOUBLE) / 1000000.0
    FROM s2 JOIN s3 ON s2.user_id = s3.user_id
)
SELECT transition,
       count(*) AS n_users,
       {sql_hround("quantile_cont(lat_s, 0.50)", 4)} AS p50_s,
       {sql_hround("quantile_cont(lat_s, 0.90)", 4)} AS p90_s,
       {sql_hround("avg(lat_s)", 4)} AS avg_s
FROM lat
GROUP BY transition
"""


@query("events_funnel_latency", oracle=FUNNEL_LATENCY_ORACLE)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert between funnel stages (view→click, click→purchase):
    per-user first-qualifying timestamps with the same strictly-after
    chaining as ``events_funnel``, then count/p50/p90/mean of the latency
    per transition.

    Scale shape inherits the funnel's: three per-user min-aggregates
    chained on the user_id hash partitioning, so every stage join reuses
    one shuffle; the latency table is O(converting users) and the final
    aggregate has 2 groups. Latency arithmetic is pinned — integer µs
    difference, ONE divide by 1e6, percentile==quantile_cont — so the
    driver hash is exact."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )

    def stage(step_type: str, prev: DataFrame | None, out: str) -> DataFrame:
        e = events.filter(F.col("event_type") == step_type)
        if prev is not None:
            prev_t = prev.columns[-1]
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col(prev_t))
        return e.groupBy("user_id").agg(F.min("ts").alias(out))

    s1 = stage(FUNNEL_STEPS[0], None, "t1")
    s2 = stage(FUNNEL_STEPS[1], s1, "t2")
    s3 = stage(FUNNEL_STEPS[2], s2, "t3")
    lat12 = (
        s1.join(s2, "user_id")
        .select(
            F.lit(f"{FUNNEL_STEPS[0]}->{FUNNEL_STEPS[1]}").alias("transition"),
            (
                (F.unix_micros("t2") - F.unix_micros("t1")).cast("double")
                / F.lit(1000000.0)
            ).alias("lat_s"),
        )
    )
    lat23 = (
        s2.join(s3, "user_id")
        .select(
            F.lit(f"{FUNNEL_STEPS[1]}->{FUNNEL_STEPS[2]}").alias("transition"),
            (
                (F.unix_micros("t3") - F.unix_micros("t2")).cast("double")
                / F.lit(1000000.0)
            ).alias("lat_s"),
        )
    )
    return (
        lat12.unionByName(lat23)
        .groupBy("transition")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            hround(F.expr("percentile(lat_s, 0.50)"), 4).alias("p50_s"),
            hround(F.expr("percentile(lat_s, 0.90)"), 4).alias("p90_s"),
            hround(F.avg("lat_s"), 4).alias("avg_s"),
        )
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (user-journey bigrams)
#
# lag over (user, time) partitions — state is one row per partition, never the
# whole user history.
# ---------------------------------------------------------------------------

TRANSITIONS_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
)
SELECT prev_type AS from_type, event_type AS to_type, count(*) AS cnt
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


@query("events_transitions", oracle=TRANSITIONS_ORACLE)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive event types per user.

    ``lag`` over (user, time) then a bigram hash aggregate — the standard
    user-journey matrix. The window's state is a single preceding row per
    partition; ordering ties are pinned with event_id so both engines see
    the same sequence. Output is |types|² rows at most — the aggregate
    collapses everything map-side before the final shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Top-k user journey prefixes (sequence mining)
#
# Rank-truncate per user BEFORE building the path string — the per-user state
# is the first k events, never the whole history.
# ---------------------------------------------------------------------------

PATH_LEN = 3
PATH_TOPK = 10

PATH_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
),
paths AS (
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY rn) AS path,
           count(*) AS n
    FROM seq WHERE rn <= {PATH_LEN}
    GROUP BY user_id
    HAVING count(*) = {PATH_LEN}
)
SELECT path, count(*) AS n_users
FROM paths
GROUP BY path
ORDER BY n_users DESC, path
LIMIT {PATH_TOPK}
"""


@query("events_path_topk", oracle=PATH_ORACLE)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common first-3-event journeys across users.

    ``row_number`` over (user, time) with an immediate ``rn <= 3`` filter
    bounds per-user state to the path prefix before any string is built —
    the full event history never leaves the window operator. Path
    cardinality is at most |event_types|³, so the final count + top-k is
    a tiny aggregate; ties at the cut are pinned (count desc, path asc).
    100 TB: one shuffle on user_id (window), one on the ≤|types|³ path
    table; the limit is a TakeOrdered, no global sort materialized.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.select(
            "user_id", "event_type", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= PATH_LEN)
    )
    paths = (
        seq.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") == PATH_LEN)
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline): cheapest price for every achievable size
#
# Collapse to one row per price point with a hash aggregate FIRST; the final
# dominance window runs over the bounded price domain, not the row count.
# ---------------------------------------------------------------------------

PARETO_ORACLE = """
WITH pts AS (
    SELECT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
           max(p_size) AS best_size,
           count(*) AS n_parts
    FROM part
    GROUP BY CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
),
ranked AS (
    SELECT price_cents, best_size, n_parts,
           max(best_size) OVER (ORDER BY price_cents
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS best_prev
    FROM pts
)
SELECT price_cents, best_size, n_parts
FROM ranked
WHERE best_prev IS NULL OR best_size > best_prev
"""


@query("pareto_frontier", oracle=PARETO_ORACLE)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of the part catalog: points where no part is both cheaper
    and at-least-as-large (minimize price, maximize size).

    The naive skyline is an O(n²) dominance self-join. Instead: hash-agg
    to one row per price point (keeping the max size there — everything
    else at that price is dominated by definition), then a running-max
    window ordered by price keeps a point iff it beats every cheaper
    point's best size. The single-partition window is over the price
    DOMAIN (cents granularity, bounded range — 1000 distinct values in
    the fixtures), not the part count, so it does not grow with data
    volume. 100 TB: one partial-agg shuffle + a domain-sized window; the
    classic distributed-skyline local-prune step is subsumed by the
    price-point aggregate.
    """
    part = load_table(spark, sf_dir, "part")
    pts = part.groupBy(
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents")
    ).agg(
        F.max("p_size").alias("best_size"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    w = Window.orderBy("price_cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = pts.withColumn("best_prev", F.max("best_size").over(w))
    return ranked.filter(
        F.col("best_prev").isNull()
        | (F.col("best_size") > F.col("best_prev"))
    ).select("price_cents", "best_size", "n_parts")


# ---------------------------------------------------------------------------
# Weighted deterministic sampling (acceptance ∝ order value)
#
# Fixed-hash threshold acceptance (same Knuth-hash family as
# sample_split/mix_sources_*) — map-only, RNG-free, and samples are nested
# under weight changes.
# ---------------------------------------------------------------------------

SAMPLE_W_ORACLE = f"""
WITH priced AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
),
mx AS (SELECT max(cents) AS mx FROM priced),
marked AS (
    SELECT o_orderstatus, cents,
           CASE WHEN (o_orderkey * {_KNUTH}) % {_MOD}
                     < (cents * {_MOD}) // mx.mx
                THEN 1 ELSE 0 END AS kept
    FROM priced CROSS JOIN mx
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(CASE WHEN kept = 1 THEN cents END), 0) AS BIGINT)
           AS kept_cents,
       {sql_hround("CAST(sum(kept) AS DOUBLE) / count(*)", 4)} AS kept_frac
FROM marked
GROUP BY o_orderstatus
"""


@query("sample_weighted", oracle=SAMPLE_W_ORACLE)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted Bernoulli sample of orders (P[keep] ∝ o_totalprice),
    audited per order status.

    Acceptance is a pure function of the key: keep iff
    knuth(o_orderkey) mod 2³² < cents·2³²/max_cents — integer arithmetic
    end to end (cents ≤ ~10⁷, so cents·2³² fits BIGINT with 10³ margin).
    Like mix_sources_* the sample is NESTED: raising max_cents (new data)
    only ever evicts, never reshuffles membership, which keeps
    incremental pipeline reruns stable. 100 TB: max is one broadcast
    scalar, admission is map-only, the audit is one partial-agg shuffle
    on status.
    """
    orders = load_table(spark, sf_dir, "orders")
    priced = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    mx = priced.agg(F.max("cents").alias("mx"))
    marked = priced.crossJoin(broadcast(mx)).select(
        "o_orderstatus",
        "cents",
        F.when(
            F.pmod(F.col("o_orderkey") * _KNUTH, F.lit(_MOD))
            < F.expr(f"(cents * {_MOD}) div mx"),
            1,
        )
        .otherwise(0)
        .alias("kept"),
    )
    return marked.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("kept") == 1, F.col("cents"))), F.lit(0)
        )
        .cast("long")
        .alias("kept_cents"),
        hround(
            F.sum("kept").cast("double") / F.count(F.lit(1)), 4
        ).alias("kept_frac"),
    )


# ---------------------------------------------------------------------------
# Robust outlier detection: median/MAD (integer-exact two-pass)
# ---------------------------------------------------------------------------

MAD_K = 6  # flag |x - med| > K * MAD (~4 sigma if normal; MAD≈0.674σ)

ANOMALY_MAD_ORACLE = f"""
WITH t AS (
    SELECT event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
),
med AS (
    SELECT event_type,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS med
    FROM t GROUP BY event_type
),
dev AS (
    SELECT t.event_type, t.cents, med.med,
           abs(t.cents - med.med) AS adev
    FROM t JOIN med USING (event_type)
),
mad AS (
    SELECT event_type,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(max(d.med) AS BIGINT) AS med_cents,
       CAST(max(m.mad) AS BIGINT) AS mad_cents,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN d.adev > {MAD_K} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


@query("anomaly_mad_robust", oracle=ANOMALY_MAD_ORACLE)
def anomaly_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per event type via median/MAD — the
    heavy-tail-safe complement of ``anomaly_zscore`` (one planted extreme
    value drags a mean+stddev fence toward itself; the median and the
    median-absolute-deviation barely move).

    Exact and integer end-to-end: both medians are ``percentile_disc``
    over integer cents (engine-agreement pinned in customer_rfm's
    machinery), and the fence is the integer comparison
    |x−med| > K·MAD. Two aggregate passes with the per-type statistics
    broadcast back — the same two-pass broadcast-moments shape as
    anomaly_zscore, so the robust version costs the same at 100 TB:
    no per-row window, no sort of the full data.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
    )
    med = t.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)"
        ).alias("med")
    )
    dev = t.join(broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)"
        ).alias("mad")
    )
    return (
        dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").cast("long").alias("med_cents"),
            F.max("mad").cast("long").alias("mad_cents"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    F.col("adev") > MAD_K * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# ABC / Pareto-share classification of parts by revenue
# ---------------------------------------------------------------------------

ABC_ORACLE = """
WITH rev AS (
    SELECT l_partkey,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem
    GROUP BY l_partkey
),
ranked AS (
    SELECT l_partkey, cents,
           sum(cents) OVER (ORDER BY cents DESC, l_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
           sum(cents) OVER () AS total
    FROM rev
),
classed AS (
    SELECT l_partkey, cents,
           CASE WHEN cum * 100 <= total * 80 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B'
                ELSE 'C' END AS abc
    FROM ranked
)
SELECT abc,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS class_cents
FROM classed
GROUP BY abc
"""


@query("abc_classification", oracle=ABC_ORACLE)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto-share) inventory classification: parts covering the
    first 80% of cumulative revenue are class A, to 95% B, the tail C.

    The cumulative share is an integer comparison (cum·100 ≤ total·80) on
    exact cent sums — no ratio ever floats. The running sum orders by
    (revenue desc, partkey) so ties split deterministically.

    Scale shape: parts grow linearly with SF (unlike pareto_frontier's
    bounded price domain), so the running revenue sum must NOT be a
    single-partition global window over the part-grain aggregate. It
    reuses distributed_sort's bucket+offset decomposition: per-part
    revenue buckets by a fixed cents width (the per-part revenue DOMAIN
    is SF-independent — lineitems-per-part is constant in TPC-H — so the
    bucket count is bounded while buckets fill up), the cumsum windows
    WITHIN each bucket, and each bucket's starting revenue is the
    broadcast exclusive prefix over whole-bucket sums (bucket-grain,
    dimension-sized). Equal cents always share a bucket, so the
    (cents desc, partkey) order composes exactly across the cut. The
    grand total rides in as a broadcast 1-row crossJoin, not an
    unpartitioned window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                "long"
            )
        ).cast("long").alias("cents")
    )
    total = rev.agg(F.sum("cents").cast("long").alias("total"))
    ranked = bucketed_running_sum(
        rev,
        "cents",
        [F.desc("cents"), F.asc("l_partkey")],
        # ascending bucket == descending cents; width 16384 cents bounds
        # the bucket count by the SF-independent per-part revenue domain
        F.expr("-(cents div 16384)"),
        name="cum",
    ).crossJoin(F.broadcast(total))
    # DECIMAL(38,0) like the other widened ppm sites: cum·100 passes
    # BIGINT range once total cents nears 9·10¹⁶ (DuckDB's windowed sum
    # is HUGEINT already, so the oracle needs no change)
    classed = ranked.withColumn(
        "abc",
        F.when(
            F.expr(
                "CAST(cum AS DECIMAL(38,0)) * 100"
                " <= CAST(total AS DECIMAL(38,0)) * 80"
            ),
            "A",
        )
        .when(
            F.expr(
                "CAST(cum AS DECIMAL(38,0)) * 100"
                " <= CAST(total AS DECIMAL(38,0)) * 95"
            ),
            "B",
        )
        .otherwise("C"),
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").cast("long").alias("class_cents"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles)
#
# Quintile CUTOFFS (12 scalars) are the only global computation — broadcast
# back for a map-side bucket assignment. The textbook ntile() formulation is a
# single-partition window over every customer; cutoff buckets are value-based,
# so they also stay stable under reordering.
# ---------------------------------------------------------------------------

_RFM_METRICS = ("recency_days", "frequency", "monetary_cents")
_RFM_PS = (0.2, 0.4, 0.6, 0.8)


def _bucket_sql(metric: str) -> str:
    cmps = " + ".join(
        f"CAST({metric} > {metric}_c{i} AS BIGINT)"
        for i in range(1, len(_RFM_PS) + 1)
    )
    return f"CAST(1 + {cmps} AS BIGINT)"


_RFM_CUTS_SQL = ", ".join(
    f"percentile_disc({p}) WITHIN GROUP (ORDER BY {m}) AS {m}_c{i}"
    for m in _RFM_METRICS
    for i, p in enumerate(_RFM_PS, start=1)
)

RFM_ORACLE = f"""
WITH per_cust AS (
    SELECT o_custkey AS custkey,
           CAST(date_diff('day', max(o_orderdate),
                          (SELECT max(o_orderdate) FROM orders)) AS BIGINT)
               AS recency_days,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS monetary_cents
    FROM orders
    GROUP BY o_custkey
),
cuts AS (SELECT {_RFM_CUTS_SQL} FROM per_cust)
SELECT custkey, recency_days, frequency, monetary_cents,
       {_bucket_sql("recency_days")} AS r_bucket,
       {_bucket_sql("frequency")} AS f_bucket,
       {_bucket_sql("monetary_cents")} AS m_bucket,
       {_bucket_sql("recency_days")} * 100
           + {_bucket_sql("frequency")} * 10
           + {_bucket_sql("monetary_cents")} AS rfm
FROM per_cust CROSS JOIN cuts
"""


@query("customer_rfm", oracle=RFM_ORACLE)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quintile-bucket every customer on recency,
    frequency, and monetary value (r_bucket 1 = most recent; f/m bucket 5
    = heaviest — buckets ascend with the metric VALUE).

    The classic ntile(5) formulation is a single-partition global sort of
    the whole customer table — a scale wall. Value-quantile cutoffs
    (percentile_disc, 12 scalars in ONE aggregate pass) broadcast back
    instead, making assignment map-side; ties share a bucket, so the
    result is reorder-stable and engine-portable (no row-numbering to
    disagree on). All metrics are integers; bucket arithmetic is integer
    comparisons. 100 TB: one shuffle to customer grain, one scalar
    aggregate, one broadcast — nothing global ever sorts.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).cast("long").alias("monetary_cents"),
    )
    ref = orders.agg(F.max("o_orderdate").alias("ref_day"))
    per_cust = (
        per_cust.crossJoin(broadcast(ref))
        .select(
            "custkey",
            F.datediff("ref_day", "last_day").cast("long").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        )
    )
    cuts = per_cust.agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY {m})"
            ).alias(f"{m}_c{i}")
            for m in _RFM_METRICS
            for i, p in enumerate(_RFM_PS, start=1)
        ]
    )
    out = per_cust.crossJoin(broadcast(cuts))
    r, f_, m_ = (F.expr(_bucket_sql(m)) for m in _RFM_METRICS)
    return out.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        r.alias("r_bucket"),
        f_.alias("f_bucket"),
        m_.alias("m_bucket"),
        (
            F.expr(_bucket_sql("recency_days")) * 100
            + F.expr(_bucket_sql("frequency")) * 10
            + F.expr(_bucket_sql("monetary_cents"))
        ).alias("rfm"),
    )


# ---------------------------------------------------------------------------
# Market-basket pair support (co-occurrence within orders)
#
# The pair generator is an equi-join on the order key — fan-out is per-basket
# k², bounded by basket size, never corpus².
# ---------------------------------------------------------------------------

BASKET_TOPK = 20

BASKET_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS p1, b.l_partkey AS p2,
       CAST(count(*) AS BIGINT) AS support
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
ORDER BY support DESC, p1, p2
LIMIT {BASKET_TOPK}
"""


@query("basket_pair_support", oracle=BASKET_ORACLE)
def basket_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs most often bought together (pair support — the
    counting core of frequent-itemset mining).

    Baskets are assembled with ONE shuffle — ``collect_set`` on the ORDER
    key (partial-merged map-side, and it dedups multi-line repeats of the
    same part for free) — then pairs are generated JVM-side from the
    sorted basket array (nested ``transform`` + ``slice`` keeps only
    p1 < p2, one ``explode``): per-order fan-out is k·(k-1)/2 at basket
    size k, bounded by how much one customer buys, never by corpus size.
    The top-k cut is pinned (support desc, p1, p2) and plans as a
    TakeOrdered. This replaced a distinct + equi-self-join formulation
    (round 6): same pair set, one fewer shuffle and no join — ~20% faster
    at sf0.1 and strictly better at scale (the join shuffled the item
    list twice more). 100 TB: the pair table aggregates with map-side
    partials; a hot-basket cap (drop baskets with size(parts) > bound) is
    the standard guard if baskets were unbounded — the fixture's max
    basket is 17.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (p1, k) -> "
                "transform(slice(parts, k + 2, size(parts) - k - 1), "
                "p2 -> struct(p1 AS p1, p2 AS p2))))"
            )
        ).alias("c")
    ).select("c.p1", "c.p2")
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), "p1", "p2")
        .limit(BASKET_TOPK)
    )


# ---------------------------------------------------------------------------
# First/last-touch attribution of user value
#
# First/last touch are row_number endpoints over one user-partitioned shuffle;
# revenue joins in at user grain (events-count rows never multiply).
# ---------------------------------------------------------------------------

ATTR_ORACLE = """
WITH ranked AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rf,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rl
    FROM events
),
totals AS (
    SELECT user_id,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events GROUP BY user_id
),
attr AS (
    SELECT r.event_type, 'first' AS role, t.total_cents
    FROM ranked r JOIN totals t USING (user_id) WHERE r.rf = 1
    UNION ALL
    SELECT r.event_type, 'last' AS role, t.total_cents
    FROM ranked r JOIN totals t USING (user_id) WHERE r.rl = 1
)
SELECT event_type,
       CAST(coalesce(sum(CASE WHEN role = 'first' THEN 1 END), 0) AS BIGINT)
           AS first_touch_users,
       CAST(coalesce(sum(CASE WHEN role = 'first' THEN total_cents END), 0)
            AS BIGINT) AS first_touch_cents,
       CAST(coalesce(sum(CASE WHEN role = 'last' THEN 1 END), 0) AS BIGINT)
           AS last_touch_users,
       CAST(coalesce(sum(CASE WHEN role = 'last' THEN total_cents END), 0)
            AS BIGINT) AS last_touch_cents
FROM attr
GROUP BY event_type
"""


@query("events_attribution", oracle=ATTR_ORACLE)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch attribution: credit each user's total
    event value to the event type that opened and the one that closed
    their history.

    Both endpoints come from row_number in the two directions over ONE
    user-partitioned shuffle (two sorts share the exchange); per-user
    totals join at user grain — the credited amount is computed once per
    user, so no event-grain row ever multiplies. The union-then-pivot
    shape keeps types that only ever open (or only close) journeys without
    an outer join. 100 TB: everything after the user shuffle is user-grain
    or |types|-grain.
    """
    e = load_table(spark, sf_dir, "events")
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ranked = e.select(
        "user_id",
        "event_type",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    totals = e.groupBy("user_id").agg(
        F.sum(cents).cast("long").alias("total_cents")
    )
    firsts = (
        ranked.filter(F.col("rf") == 1)
        .join(totals, "user_id")
        .select("event_type", F.lit("first").alias("role"), "total_cents")
    )
    lasts = (
        ranked.filter(F.col("rl") == 1)
        .join(totals, "user_id")
        .select("event_type", F.lit("last").alias("role"), "total_cents")
    )
    attr = firsts.unionByName(lasts)
    is_first = F.col("role") == "first"
    return attr.groupBy("event_type").agg(
        F.coalesce(F.sum(F.when(is_first, 1)), F.lit(0))
        .cast("long")
        .alias("first_touch_users"),
        F.coalesce(F.sum(F.when(is_first, F.col("total_cents"))), F.lit(0))
        .cast("long")
        .alias("first_touch_cents"),
        F.coalesce(F.sum(F.when(~is_first, 1)), F.lit(0))
        .cast("long")
        .alias("last_touch_users"),
        F.coalesce(F.sum(F.when(~is_first, F.col("total_cents"))), F.lit(0))
        .cast("long")
        .alias("last_touch_cents"),
    )


# ---------------------------------------------------------------------------
# Composite document quality gate (Gopher-style rule battery)
#
# Every rule is integer arithmetic on one scan — ratio thresholds are cross-
# multiplied (10·nonalpha ≤ chars) so no float ever exists to round differently
# per engine.
# ---------------------------------------------------------------------------

MIN_WORDS = 5
MAX_WORDS = 5000
MIN_MEAN_WORDLEN = 2
MAX_MEAN_WORDLEN = 12
MAX_NONALPHA_PER10 = 1  # non-[a-z ] chars must be <= 1/10 of text

QUALITY_GATE_ORACLE = f"""
WITH scored AS (
    SELECT source,
           len(string_split(text, ' ')) AS n_words,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g'))
               AS n_nonalpha
    FROM documents
),
flagged AS (
    SELECT source,
           CAST(n_words >= {MIN_WORDS} AS INT) AS ok_minwords,
           CAST(n_words <= {MAX_WORDS} AS INT) AS ok_maxwords,
           CAST(n_chars - (n_words - 1) >= {MIN_MEAN_WORDLEN} * n_words
                AND n_chars - (n_words - 1) <= {MAX_MEAN_WORDLEN} * n_words
                AS INT) AS ok_wordlen,
           CAST(n_nonalpha * 10 <= n_chars * {MAX_NONALPHA_PER10} AS INT)
               AS ok_charset
    FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ok_minwords * ok_maxwords * ok_wordlen * ok_charset)
            AS BIGINT) AS n_pass,
       CAST(sum(1 - ok_minwords) AS BIGINT) AS n_fail_minwords,
       CAST(sum(1 - ok_maxwords) AS BIGINT) AS n_fail_maxwords,
       CAST(sum(1 - ok_wordlen) AS BIGINT) AS n_fail_wordlen,
       CAST(sum(1 - ok_charset) AS BIGINT) AS n_fail_charset
FROM flagged
GROUP BY source
"""


@query("quality_gopher_filter", oracle=QUALITY_GATE_ORACLE)
def quality_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate: word-count bounds, mean word
    length bounds, and character-set purity, audited per source (rule
    thresholds adapted to the fixture corpus scale).

    Every rule is INTEGER arithmetic on one scan: mean word length is
    cross-multiplied (2·w ≤ letters ≤ 12·w, with letters = chars − spaces
    under the pinned single-space tokenization) so no ratio is ever a
    float, and the charset rule compares 10·nonalpha ≤ chars the same way.
    Per-rule failure counts localize WHY a source loses documents — the
    audit a curation pipeline actually needs. 100 TB: map-only scoring,
    one partial-agg shuffle on source.
    """
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("long")
    n_chars = F.length("text").cast("long")
    n_nonalpha = (
        F.length("text")
        - F.length(F.regexp_replace("text", "[^a-z ]", ""))
    ).cast("long")
    letters = n_chars - (n_words - 1)
    flagged = d.select(
        "source",
        (n_words >= MIN_WORDS).cast("int").alias("ok_minwords"),
        (n_words <= MAX_WORDS).cast("int").alias("ok_maxwords"),
        (
            (letters >= MIN_MEAN_WORDLEN * n_words)
            & (letters <= MAX_MEAN_WORDLEN * n_words)
        )
        .cast("int")
        .alias("ok_wordlen"),
        (n_nonalpha * 10 <= n_chars * MAX_NONALPHA_PER10)
        .cast("int")
        .alias("ok_charset"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.col("ok_minwords")
            * F.col("ok_maxwords")
            * F.col("ok_wordlen")
            * F.col("ok_charset")
        )
        .cast("long")
        .alias("n_pass"),
        F.sum(1 - F.col("ok_minwords")).cast("long").alias("n_fail_minwords"),
        F.sum(1 - F.col("ok_maxwords")).cast("long").alias("n_fail_maxwords"),
        F.sum(1 - F.col("ok_wordlen")).cast("long").alias("n_fail_wordlen"),
        F.sum(1 - F.col("ok_charset")).cast("long").alias("n_fail_charset"),
    )


# ---------------------------------------------------------------------------
# Frequent itemsets via MLlib FPGrowth (parallel FP-growth / PFP)
# ---------------------------------------------------------------------------

FP_MIN_COUNT = 3
FP_MAX_SIZE = 3

FPGROWTH_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
singles AS (
    SELECT CAST(l_partkey AS VARCHAR) AS itemset, 1 AS sz, count(*) AS c
    FROM items GROUP BY l_partkey
),
pairs AS (
    SELECT CAST(a.l_partkey AS VARCHAR) || ',' ||
           CAST(b.l_partkey AS VARCHAR) AS itemset, 2 AS sz, count(*) AS c
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
),
triples AS (
    SELECT CAST(a.l_partkey AS VARCHAR) || ',' ||
           CAST(b.l_partkey AS VARCHAR) || ',' ||
           CAST(e.l_partkey AS VARCHAR) AS itemset, 3 AS sz, count(*) AS c
    FROM items a
    JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    JOIN items e
      ON a.l_orderkey = e.l_orderkey AND b.l_partkey < e.l_partkey
    GROUP BY a.l_partkey, b.l_partkey, e.l_partkey
)
SELECT itemset, CAST(sz AS BIGINT) AS size, CAST(c AS BIGINT) AS freq
FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs
      UNION ALL SELECT * FROM triples)
WHERE c >= {FP_MIN_COUNT}
"""


@query("basket_fpgrowth", oracle=FPGROWTH_ORACLE)
def basket_fpgrowth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All frequent itemsets (absolute support >= 3, size <= 3) over order
    baskets — level-wise (Apriori-style) mining expressed as DataFrame
    pair/triple expansion from sorted basket arrays.

    Originally ran MLlib's parallel FP-growth; the round-6 scale sweep
    killed that with a Java heap OOM at 10× data: under an ABSOLUTE
    support threshold, minSupport relative to 1.5M baskets is ~2e-6, so
    virtually every item in the 2M-part universe stays "frequent" and
    PFP's Java-serialized conditional trees grow with the item universe,
    not the answer. With the size cap at 3, the same lattice slice is
    exact counting: expand each sorted basket's pairs and triples
    JVM-side (nested ``transform``+``slice``, one explode per level —
    the basket_pair_support idiom), hash-aggregate each level with
    map-side partials, filter support >= 3. Per-basket fan-out is
    C(k,3) at basket size k (fixture max 17) — bounded by how much one
    customer buys, never by corpus or item-universe size, and the
    aggregates spill; sf1 now runs in seconds where PFP died. For
    unbounded baskets the standard hot-basket cap (drop size(parts) >
    bound) applies, as in basket_pair_support. The oracle enumerates the
    identical 1/2/3-way join lattice; by the Apriori property the size
    cap loses no information about what was checked.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    baskets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    singles = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.col("l_partkey").cast("string").alias("itemset"),
            F.lit(1).cast("long").alias("size"),
            "freq",
        )
    )
    pair_rows = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (p1, i) -> "
                "transform(slice(parts, i + 2, size(parts) - i - 1), "
                "p2 -> struct(p1 AS p1, p2 AS p2))))"
            )
        ).alias("c")
    ).select("c.p1", "c.p2")
    pairs = (
        pair_rows.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat_ws(",", "p1", "p2").alias("itemset"),
            F.lit(2).cast("long").alias("size"),
            "freq",
        )
    )
    triple_rows = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (p1, i) -> "
                "flatten(transform(slice(parts, i + 2, size(parts) - i - 1),"
                " (p2, j) -> "
                "transform(slice(parts, i + j + 3, size(parts) - i - j - 2), "
                "p3 -> struct(p1 AS p1, p2 AS p2, p3 AS p3))))))"
            )
        ).alias("c")
    ).select("c.p1", "c.p2", "c.p3")
    triples = (
        triple_rows.groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat_ws(",", "p1", "p2", "p3").alias("itemset"),
            F.lit(3).cast("long").alias("size"),
            "freq",
        )
    )
    return (
        singles.unionByName(pairs)
        .unionByName(triples)
        .filter(F.col("freq") >= FP_MIN_COUNT)
        .select("itemset", "size", F.col("freq").cast("long").alias("freq"))
    )


# ---------------------------------------------------------------------------
# Sequence pattern matching (CEP-lite / MATCH_RECOGNIZE analogue)
# ---------------------------------------------------------------------------

# lazy quantifier = first purchase CLOSES the open view-chain (earliest-
# completion semantics, like CEP's AFTER MATCH SKIP PAST LAST ROW)
CONVERSION_PATTERN = "v[vc]*?p"
DIRECT_PATTERN = "vp"

PATTERN_ORACLE = f"""
WITH seq AS (
    SELECT user_id,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS s
    FROM events
    GROUP BY user_id
)
SELECT user_id,
       CAST(length(s) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, '{CONVERSION_PATTERN}')) AS BIGINT)
           AS n_conversions,
       CAST(len(regexp_extract_all(s, '{DIRECT_PATTERN}')) AS BIGINT)
           AS n_direct
FROM seq
"""


@query("events_pattern_match", oracle=PATTERN_ORACLE)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection over each user's event stream — the
    CEP / MATCH_RECOGNIZE shape: count conversions (a view leading to a
    purchase through only views/clicks; signup/error break the chain) and
    direct view→purchase bigrams.

    Event types compress to one symbol each (the five types have distinct
    initials), so a user's entire history becomes a ~1-byte-per-event
    string and the pattern machine is a regex — leftmost non-overlapping
    with a LAZY quantifier, i.e. the first purchase closes the open chain
    (CEP's skip-past-last-row). Both engines' regex engines agree on this
    fragment (alternation-free, no backrefs). 100 TB: one shuffle to
    user grain; per-user state is the symbol string, bounded by activity,
    and the regex scan is linear — the standard distributed-CEP layout
    (symbolize, co-locate by key, run the automaton per key).
    """
    e = load_table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("sym"),
                        )
                    )
                ),
                lambda x: x["sym"],
            ),
            "",
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.regexp_count("s", F.lit(CONVERSION_PATTERN))
        .cast("long")
        .alias("n_conversions"),
        F.regexp_count("s", F.lit(DIRECT_PATTERN))
        .cast("long")
        .alias("n_direct"),
    )


# ---------------------------------------------------------------------------
# A/B test z-score (two-proportion test on hash-assigned variants)
# ---------------------------------------------------------------------------

AB_ZTEST_ORACLE = """
WITH assigned AS (
    SELECT user_id,
           (user_id * 2654435761) % 4294967296 % 2 AS variant,
           CASE WHEN max(CASE WHEN event_type = 'purchase'
                              THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                              ELSE 0 END) > 9000
                THEN 1 ELSE 0 END AS converted
    FROM events
    GROUP BY user_id
),
counts AS (
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(converted) AS BIGINT) AS conv
    FROM assigned GROUP BY variant
),
wide AS (
    SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
           max(CASE WHEN variant = 0 THEN conv END) AS c0,
           max(CASE WHEN variant = 1 THEN n END) AS n1,
           max(CASE WHEN variant = 1 THEN conv END) AS c1
    FROM counts
)
SELECT n0, c0, n1, c1,
       floor((CAST(c0 AS DOUBLE) / n0) * 10000 + 0.5) / 10000 AS p0,
       floor((CAST(c1 AS DOUBLE) / n1) * 10000 + 0.5) / 10000 AS p1,
       CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN NULL
            ELSE floor((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1))
                 * 10000 + 0.5) / 10000 END AS z
FROM wide
"""


@query("events_ab_ztest", oracle=AB_ZTEST_ORACLE)
def events_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic 50/50 experiment split:
    variant = knuth(user_id) mod 2, conversion = any purchase over $90
    (the any-purchase metric saturates at 100% in the fixtures); the
    pooled-variance z statistic decides whether variants differ.

    Everything until the final statistic is exact integers (user-grain
    conversion flags, per-variant counts); the z-score itself is ONE
    pinned-shape IEEE expression evaluated on identical inputs in both
    engines (the rolling-corr technique). Hash assignment makes the
    experiment reproducible and nested — adding users never reshuffles
    existing assignments (the same property the samplers pin).
    100 TB: one shuffle to user grain, one 2-row aggregate, and the
    statistic is driver-free scalar arithmetic in the plan.
    """
    e = load_table(spark, sf_dir, "events")
    purchase_cents = F.when(
        F.col("event_type") == "purchase",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
    ).otherwise(0)
    assigned = e.groupBy("user_id").agg(
        (F.max(purchase_cents) > 9000).cast("int").alias("converted")
    ).select(
        F.pmod(F.pmod(F.col("user_id") * 2654435761, F.lit(4294967296)), 2)
        .alias("variant"),
        "converted",
    )
    counts = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = counts.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (p1 - p0) / F.sqrt(
        pp
        * (1 - pp)
        * (
            F.lit(1).cast("double") / F.col("n0")
            + F.lit(1).cast("double") / F.col("n1")
        )
    )
    hr4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    # degenerate experiment (0% or 100% pooled conversion): zero pooled
    # variance, the statistic is undefined -- honestly NULL on both sides
    degenerate = (
        (F.col("c0") + F.col("c1") == 0)
        | (F.col("c0") + F.col("c1") == F.col("n0") + F.col("n1"))
    )
    return wide.select(
        "n0", "c0", "n1", "c1",
        hr4(p0).alias("p0"),
        hr4(p1).alias("p1"),
        F.when(~degenerate, hr4(z)).alias("z"),
    )


# ---------------------------------------------------------------------------
# Session duration histogram (composition: sessionize → bucket → count)
# ---------------------------------------------------------------------------

SESSION_HIST_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     < INTERVAL 30 MINUTE
                THEN 0 ELSE 1 END AS new_s
    FROM events
),
sess AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
durs AS (
    SELECT user_id, sid,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS dur_s,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
)
SELECT CASE WHEN dur_s = 0 THEN '0_single'
            WHEN dur_s < 600 THEN '1_under10m'
            WHEN dur_s < 1800 THEN '2_10to30m'
            ELSE '3_over30m' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(dur_s) AS BIGINT) AS total_seconds
FROM durs
GROUP BY 1
"""


@query("session_duration_hist", oracle=SESSION_HIST_ORACLE)
def session_duration_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of session lengths: sessionize (30-min gap), measure
    each session's span in whole seconds, bucket into named duration
    classes — the one-glance session-health report.

    Durations are integer microseconds floor-divided to seconds, so the
    bucket edges are exact integer comparisons on both engines (the same
    lag/cumsum sessionization the window_session oracle pins). Single-
    event sessions land in their own bucket rather than polluting the
    short-session class. 100 TB: one user shuffle for the session window,
    then session-grain rows only — the histogram is a 4-row aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        F.when(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            < 30 * 60 * 1_000_000,
            0,
        )
        .otherwise(1)
        .alias("new_s"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("sid", F.sum("new_s").over(w_run))
    durs = sess.groupBy("user_id", "sid").agg(
        F.expr(
            "(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000"
        ).alias("dur_s"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bucket = (
        F.when(F.col("dur_s") == 0, "0_single")
        .when(F.col("dur_s") < 600, "1_under10m")
        .when(F.col("dur_s") < 1800, "2_10to30m")
        .otherwise("3_over30m")
    )
    return durs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("dur_s").cast("long").alias("total_seconds"),
    )


# ---------------------------------------------------------------------------
# Data-quality expectations — Deequ-style constraint audit, fused per scan
#
# A production ingest runs this before any query in the rest of the registry
# can be trusted or scheduled. Every constraint is a conditional count folded
# into one of TWO fact-table scans (orders once — its FK join is made 1:1 via a
# distinct dimension key, so single-table rules ride the join aggregate — and
# lineitem once) — never one job per rule.
# ---------------------------------------------------------------------------

EXPECTATIONS_ORACLE = """
WITH o AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_pk,
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
               AS null_custkey,
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
               AS orphans
    FROM orders o
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON o.o_custkey = c.c_custkey
),
lo AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
               AS orphans,
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NOT NULL
                                   AND l.l_shipdate < o.o_orderdate)
                AS BIGINT) AS ship_before_order,
           CAST(count(*) FILTER (WHERE l.l_quantity <= 0) AS BIGINT)
               AS bad_qty,
           CAST(count(*) FILTER (WHERE l.l_discount < 0
                                    OR l.l_discount > 0.1) AS BIGINT)
               AS bad_discount
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT constraint_name, n_checked, n_violations,
       n_violations = 0 AS passed
FROM (
    SELECT 'orders_pk_unique' AS constraint_name, n AS n_checked,
           dup_pk AS n_violations FROM o
    UNION ALL SELECT 'orders_custkey_not_null', n, null_custkey FROM o
    UNION ALL SELECT 'orders_fk_customer', n, orphans FROM o
    UNION ALL SELECT 'lineitem_fk_orders', n, orphans FROM lo
    UNION ALL SELECT 'lineitem_ship_after_order', n, ship_before_order FROM lo
    UNION ALL SELECT 'lineitem_quantity_positive', n, bad_qty FROM lo
    UNION ALL SELECT 'lineitem_discount_domain', n, bad_discount FROM lo
) t
"""


def _tall(wide: DataFrame, rules: list[tuple[str, str]]) -> DataFrame:
    """1-row wide metrics frame -> (constraint_name, n_checked, n_violations)
    rows via ``inline`` — pure map-side expansion of an already-aggregated
    single row, so adding rules never adds jobs."""
    return wide.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("constraint_name"),
                        F.col("n").alias("n_checked"),
                        F.col(col).alias("n_violations"),
                    )
                    for name, col in rules
                ]
            )
        )
    )


@query("table_expectations", oracle=EXPECTATIONS_ORACLE)
def table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table data-quality expectation audit (the Deequ pattern):
    PK uniqueness, NOT NULL, two referential-integrity rules, and three
    domain rules, reported as a tall (constraint, checked, violations,
    passed) table.

    Scale design: rules are FUSED per fact-table SCAN — the FK probe
    side is first reduced to DISTINCT keys, which makes the left join
    provably 1:1, so the single-table orders rules (PK uniqueness, NOT
    NULL) ride the SAME aggregate as the FK orphan count over ONE orders
    scan (round-10: previously a separate bare-orders job — the fusion
    cut 3 jobs to 2 and halves the orders I/O, which at 100 TB is a full
    fact-table pass saved; the distinct() on the dimension is
    key-grain, costs one small shuffle, and also makes n_checked robust
    to a dup-keyed dimension instead of silently inflating). The
    lineitem→orders join carries the FK rule plus three domain rules in
    one aggregate — it joins on the PK side and needs o_orderdate, so it
    stays a plain left join. 7 rules = 2 fact scans + 1 dimension
    distinct, and the ratio holds at 100 TB because adding a rule on a
    covered table adds a column, not a pass. Complements table_profile
    (per-column single-table profiling, curation.py).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    cust_keys = customer.select("c_custkey").distinct()
    o = (
        orders.join(
            cust_keys, orders.o_custkey == cust_keys.c_custkey, "left"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
            .cast("long")
            .alias("dup_pk"),
            F.count_if(F.col("o_custkey").isNull()).alias("null_custkey"),
            F.count_if(F.col("c_custkey").isNull()).alias("orphans"),
        )
    )
    lo = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            lineitem.l_orderkey == orders.o_orderkey,
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("o_orderkey").isNull()).alias("orphans"),
            F.count_if(
                F.col("o_orderkey").isNotNull()
                & (F.col("l_shipdate") < F.col("o_orderdate"))
            ).alias("ship_before_order"),
            F.count_if(F.col("l_quantity") <= 0).alias("bad_qty"),
            F.count_if(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
            ).alias("bad_discount"),
        )
    )

    tall = (
        _tall(
            o,
            [
                ("orders_pk_unique", "dup_pk"),
                ("orders_custkey_not_null", "null_custkey"),
                ("orders_fk_customer", "orphans"),
            ],
        )
        .unionByName(
            _tall(
                lo,
                [
                    ("lineitem_fk_orders", "orphans"),
                    ("lineitem_ship_after_order", "ship_before_order"),
                    ("lineitem_quantity_positive", "bad_qty"),
                    ("lineitem_discount_domain", "bad_discount"),
                ],
            )
        )
    )
    return tall.withColumn("passed", F.col("n_violations") == 0)


# ---------------------------------------------------------------------------
# Range-partitioner boundary planning — exact balanced splits
#
# The exact version of what Spark's RangePartitioner samples for. Value-grain
# compaction first (one hash shuffle), then the distributed_sort bucket+offset
# trick for cumulative counts — no single-partition window over fact-grain data
# anywhere.
# ---------------------------------------------------------------------------

_RB_K = 8  # target partition count
_RB_BUCKET = 100_000  # $1000 coarse buckets over extendedprice cents

RANGE_BOUNDS_ORACLE = f"""
WITH v AS (
    SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY 1
),
cum AS (
    SELECT cents,
           CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum_rows
    FROM v
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
tgt AS (
    SELECT CAST(i AS BIGINT) AS bucket_id,
           (i * n + {_RB_K - 1}) // {_RB_K} AS target_rows
    FROM generate_series(1, {_RB_K - 1}) AS gs(i), tot
)
SELECT t.bucket_id, t.target_rows,
       CAST(min(c.cents) AS BIGINT) AS split_cents,
       CAST(min(c.cum_rows) AS BIGINT) AS rows_le_split
FROM tgt t JOIN cum c ON c.cum_rows >= t.target_rows
GROUP BY t.bucket_id, t.target_rows
"""


@query("partition_range_bounds", oracle=RANGE_BOUNDS_ORACLE)
def partition_range_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact balanced range-partition boundaries for lineitem ordered by
    extendedprice — the planning step behind ``repartitionByRange`` /
    RangePartitioner, computed exactly instead of by reservoir sampling.
    Split i is the smallest value whose cumulative row count reaches
    ceil(i·N/k).

    Scale shape (the same trick distributed_sort pins): compact to value
    grain with one hash aggregate, then cumulative counts WITHOUT a
    single-partition window — a windowed local cumsum per coarse value
    bucket plus a broadcast per-bucket offset join (bucket table is
    ~100 rows). The k−1 targets are a broadcast literal join against the
    value-grain table, then an argmin struct-fold. No sort or window ever
    touches fact-grain data, so the plan survives 100 TB where the naive
    ``row_number() OVER (ORDER BY price)`` collapses to one task.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    v = (
        li.select(cents.alias("cents"))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bkt", F.expr(f"cents div {_RB_BUCKET}"))
    )
    wloc = (
        Window.partitionBy("bkt")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = v.withColumn("local_cum", F.sum("cnt").over(wloc))
    btot = v.groupBy("bkt").agg(F.sum("cnt").alias("bkt_rows"))
    woff = (
        Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # dimension-sized: ~100 coarse buckets, same shape as distributed_sort
    offsets = btot.select(
        "bkt", F.coalesce(F.sum("bkt_rows").over(woff), F.lit(0)).alias("off")
    )
    cum = local.join(broadcast(offsets), "bkt").select(
        "cents", (F.col("local_cum") + F.col("off")).alias("cum_rows")
    )

    tot = li.agg(F.count(F.lit(1)).alias("n"))
    tgt = (
        spark.range(1, _RB_K)
        .select(F.col("id").alias("bucket_id"))
        .crossJoin(broadcast(tot))
        .select(
            "bucket_id",
            F.expr(f"(bucket_id * n + {_RB_K - 1}) div {_RB_K}").alias(
                "target_rows"
            ),
        )
    )
    hit = cum.join(
        broadcast(tgt), F.col("cum_rows") >= F.col("target_rows")
    )
    return hit.groupBy("bucket_id", "target_rows").agg(
        F.min("cents").alias("split_cents"),
        F.min("cum_rows").alias("rows_le_split"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test — event type vs weekday
# ---------------------------------------------------------------------------

CHI2_ORACLE = """
WITH obs AS (
    SELECT event_type, CAST(isodow(ts) - 1 AS BIGINT) AS weekday,
           CAST(count(*) AS BIGINT) AS n_obs
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT event_type, weekday, n_obs,
           CAST(sum(n_obs) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
           CAST(sum(n_obs) OVER (PARTITION BY weekday) AS BIGINT) AS ct,
           CAST(sum(n_obs) OVER () AS BIGINT) AS n
    FROM obs
)
SELECT event_type, weekday, n_obs,
       CAST(floor((CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000
                  + 0.5) AS BIGINT) AS expected_micro,
       CAST(floor(((CAST(n_obs AS DOUBLE)
                    - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(n_obs AS DOUBLE)
                      - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) AS contrib_micro
FROM m
"""


@query("events_chi_square", oracle=CHI2_ORACLE)
def events_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event type × weekday: per-cell
    observed counts, expected counts under independence, and the χ²
    contribution — sum(contrib)/1e6 is the statistic, dof =
    (|types|−1)(6). The A/B sibling of events_ab_ztest for >2 categories.

    Scale shape: ONE fact-grain hash aggregate builds the contingency
    table; every marginal (row/column/grand totals) is a window over that
    |types|×7-row table, so the statistic costs one shuffle regardless of
    event count. Expected/contrib are pinned-shape IEEE expressions
    (identical operation sequence both engines) quantized to integer
    micro-units, the house rule for hash-exact floats. rt·ct stays in
    BIGINT (≤ n², overflow-safe until n ≈ 3·10⁹ cells — salt the product
    into DOUBLE first beyond that, documented not needed at fixture
    scales).
    """
    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.select("event_type", F.weekday("ts").cast("long").alias("weekday"))
        .groupBy("event_type", "weekday")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    rt = F.sum("n_obs").over(Window.partitionBy("event_type")).cast("long")
    ct = F.sum("n_obs").over(Window.partitionBy("weekday")).cast("long")
    # dimension-sized global window: |types|x7 rows, same shape family as
    # partition_range_bounds' bucket-offset table
    n = F.sum("n_obs").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    ).cast("long")
    m = obs.select("event_type", "weekday", "n_obs", rt.alias("rt"),
                   ct.alias("ct"), n.alias("n"))
    exp = (F.col("rt") * F.col("ct")).cast("double") / F.col("n").cast(
        "double"
    )
    diff = F.col("n_obs").cast("double") - exp
    return m.select(
        "event_type",
        "weekday",
        "n_obs",
        F.floor(exp * 1000000 + F.lit(0.5)).cast("long").alias(
            "expected_micro"
        ),
        F.floor((diff * diff / exp) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("contrib_micro"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — fraud/quality screening on amounts
# ---------------------------------------------------------------------------

_BENFORD_PPM = {
    str(d): int(_math.floor(_math.log10(1 + 1 / d) * 1_000_000 + 0.5))
    for d in range(1, 10)
}

_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN '{d}' THEN {ppm}" for d, ppm in _BENFORD_PPM.items()
) + " END"

BENFORD_ORACLE = f"""
WITH d AS (
    SELECT substring(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS digit
    FROM orders
),
obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_orders FROM d GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
SELECT digit, n_orders,
       CAST((CAST(n_orders AS HUGEINT) * 1000000) // n AS BIGINT) AS observed_ppm,
       CAST({_BENFORD_CASE_SQL} AS BIGINT) AS benford_ppm
FROM obs, tot
"""


@query("stats_benford_digits", oracle=BENFORD_ORACLE)
def stats_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts: observed
    first-significant-digit frequencies (integer ppm) next to the Benford
    expectation log10(1+1/d) — the classic screen for fabricated or
    truncated monetary data.

    The first digit comes from the STRING form of exact integer cents
    (never log10 on the engine — libm digits differ across JVMs/libcs),
    and the Benford expectations are Python-computed integer literals
    baked into both query and oracle, so no float ever crosses an engine
    boundary. One fact aggregate over ≤9 groups + a broadcast grand
    total; map-side combine makes the shuffle 9 rows per task at any
    scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    d = orders.select(
        F.substring(cents.cast("string"), 1, 1).alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = orders.agg(F.count(F.lit(1)).alias("n"))
    benford = F.coalesce(
        *[
            F.when(F.col("digit") == dd, F.lit(ppm))
            for dd, ppm in _BENFORD_PPM.items()
        ]
    )
    return obs.crossJoin(broadcast(tot)).select(
        "digit",
        "n_orders",
        F.expr("(CAST(n_orders AS DECIMAL(38,0)) * 1000000) div n").alias("observed_ppm"),
        benford.cast("long").alias("benford_ppm"),
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnosis — the decision input for salting / AQE skew-join
# ---------------------------------------------------------------------------

_SKEW_TOPN = 10


def _skew_sql(name: str, table: str, key: str) -> str:
    return f"""
SELECT '{name}' AS key_name, n_rows, n_keys,
       CAST((CAST(max_c AS HUGEINT) * 1000000) // n_rows AS BIGINT) AS top1_ppm,
       CAST((CAST(top10 AS HUGEINT) * 1000000) // n_rows AS BIGINT) AS top10_ppm
FROM (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(c) AS BIGINT) AS max_c
      FROM (SELECT {key} AS k, CAST(count(*) AS BIGINT) AS c
            FROM {table} GROUP BY 1)) s,
     (SELECT CAST(sum(c) AS BIGINT) AS top10
      FROM (SELECT CAST(count(*) AS BIGINT) AS c, {key} AS k
            FROM {table} GROUP BY {key}
            ORDER BY c DESC, k LIMIT {_SKEW_TOPN})) t
"""


SKEW_ORACLE = " UNION ALL ".join(
    [
        _skew_sql("orders.o_custkey", "orders", "o_custkey"),
        _skew_sql("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        _skew_sql("events.user_id", "events", "user_id"),
    ]
)


def _skew_audit(df: DataFrame, name: str, key: str) -> DataFrame:
    kc = df.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    s = kc.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").cast("long").alias("max_c"),
    )
    t = (
        kc.orderBy(F.desc("c"), "k")
        .limit(_SKEW_TOPN)
        .agg(F.sum("c").cast("long").alias("top10"))
    )
    return s.crossJoin(broadcast(t)).select(
        F.lit(name).alias("key_name"),
        "n_rows",
        "n_keys",
        F.expr("(CAST(max_c AS DECIMAL(38,0)) * 1000000) div n_rows").alias("top1_ppm"),
        F.expr("(CAST(top10 AS DECIMAL(38,0)) * 1000000) div n_rows").alias("top10_ppm"),
    )


@query("diagnose_partition_skew", oracle=SKEW_ORACLE)
def diagnose_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnosis for three hot keys: row and
    distinct-key counts plus the ppm share of the heaviest key and the
    top-10 keys — the numbers that decide between a plain hash join,
    salting (join_skew_salted), and AQE skew-split (pinned live in
    test_scale_stress).

    Scale shape per key: one key-grain hash aggregate (map-side combine),
    then dimension-sized folds — the top-10 head is TakeOrderedAndProject
    over key-grain rows, never fact rows. This is exactly the planning
    pass a 100 TB join should buy BEFORE shuffling: its cost is the
    partial-agg scan, its output is 1 row, and a top1_ppm in the
    hundreds of thousands says the plain join will stall on one task.
    """
    out = None
    for name, table, key in (
        ("orders.o_custkey", "orders", "o_custkey"),
        ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        ("events.user_id", "events", "user_id"),
    ):
        a = _skew_audit(load_table(spark, sf_dir, table), name, key)
        out = a if out is None else out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# Equi-join cardinality estimation — Σ |A_k|·|B_k| on key-grain tables
# ---------------------------------------------------------------------------


def _card_sql(name: str, ta: str, ka: str, tb: str, kb: str) -> str:
    return f"""
SELECT '{name}' AS join_name,
       (SELECT CAST(count(*) AS BIGINT) FROM {ta}) AS rows_left,
       (SELECT CAST(count(*) AS BIGINT) FROM {tb}) AS rows_right,
       CAST(count(*) AS BIGINT) AS shared_keys,
       CAST(sum(ca * cb) AS BIGINT) AS est_rows
FROM (SELECT {ka} AS k, CAST(count(*) AS BIGINT) AS ca
      FROM {ta} GROUP BY 1) a
JOIN (SELECT {kb} AS k, CAST(count(*) AS BIGINT) AS cb
      FROM {tb} GROUP BY 1) b USING (k)
"""


CARDINALITY_ORACLE = " UNION ALL ".join(
    [
        _card_sql(
            "orders*customer", "orders", "o_custkey", "customer", "c_custkey"
        ),
        _card_sql(
            "lineitem*orders", "lineitem", "l_orderkey", "orders", "o_orderkey"
        ),
    ]
)


def _card_audit(
    spark: SparkSession, sf_dir: str, name: str, ta: str, ka: str, tb: str, kb: str
) -> DataFrame:
    a = load_table(spark, sf_dir, ta)
    b = load_table(spark, sf_dir, tb)
    ga = a.groupBy(F.col(ka).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
    gb = b.groupBy(F.col(kb).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
    est = ga.join(gb, "k").agg(
        F.count(F.lit(1)).alias("shared_keys"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("est_rows"),
    )
    na = a.agg(F.count(F.lit(1)).alias("rows_left"))
    nb = b.agg(F.count(F.lit(1)).alias("rows_right"))
    return (
        est.crossJoin(broadcast(na))
        .crossJoin(broadcast(nb))
        .select(
            F.lit(name).alias("join_name"),
            "rows_left",
            "rows_right",
            "shared_keys",
            "est_rows",
        )
    )


@query("estimate_join_cardinality", oracle=CARDINALITY_ORACLE)
def estimate_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-join output cardinality WITHOUT running the join:
    |A ⋈ B| = Σ_k |A_k|·|B_k| over the shared key domain — the CBO/AQE
    statistic that predicts shuffle write volume before committing to a
    plan (and the quantity diagnose_partition_skew's shares are ratios
    of).

    Scale shape: two key-grain partial aggregates + one key-grain join —
    for an N-row fact with K distinct keys this costs O(K) shuffle rows
    instead of the join's O(N); the identity est_rows == actual join
    count is pinned in tests/test_round4g.py, which is what makes this
    an EXACT planning primitive rather than a histogram guess.
    """
    return _card_audit(
        spark, sf_dir, "orders*customer", "orders", "o_custkey",
        "customer", "c_custkey",
    ).unionByName(
        _card_audit(
            spark, sf_dir, "lineitem*orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey",
        )
    )


# ---------------------------------------------------------------------------
# Max concurrency — distributed sweep-line over session intervals
# ---------------------------------------------------------------------------

MAX_CONCURRENCY_ORACLE = f"""
WITH pts AS (
    SELECT CAST(epoch_us(ts) AS BIGINT) AS t, CAST(1 AS BIGINT) AS d,
           event_id
    FROM events
    UNION ALL
    SELECT CAST(epoch_us(ts) + {_IVL_SPAN_US} AS BIGINT), CAST(-1 AS BIGINT),
           event_id
    FROM events
),
sweep AS (
    SELECT t, d,
           CAST(sum(d) OVER (ORDER BY t, d, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS conc
    FROM pts
)
SELECT strftime(make_timestamp(t), '%Y-%m-%d') AS day,
       CAST(max(conc) AS BIGINT) AS max_concurrent,
       CAST(count(*) AS BIGINT) AS n_points
FROM sweep
GROUP BY 1
"""


def concurrency_sweep(pts: DataFrame) -> DataFrame:
    """Distributed sweep-line over (t, d, event_id) boundary points:
    hour-bucketed local running sums + broadcast bucket offsets. Factored
    so property tests can drive it with synthetic/adversarial tie sets
    (tests/test_properties.py). The bucket is a monotone function of t,
    so the global (t, d, event_id) order restricted to a bucket equals
    the bucket-local order — prefix sums compose exactly across the cut.
    Returns one row per point: (t, conc)."""
    pts = pts.withColumn("bkt", F.expr("t div 3600000000"))
    wloc = (
        Window.partitionBy("bkt")
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = pts.withColumn("local_sum", F.sum("d").over(wloc))
    btot = pts.groupBy("bkt").agg(F.sum("d").alias("bd"))
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = btot.select(
        "bkt", F.coalesce(F.sum("bd").over(woff), F.lit(0)).alias("off")
    )  # hour-grain: dimension-sized single-partition window
    return local.join(broadcast(offsets), "bkt").select(
        "t", (F.col("local_sum") + F.col("off")).cast("long").alias("conc")
    )


@query("events_max_concurrency", oracle=MAX_CONCURRENCY_ORACLE)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent activity per day when every event opens a
    30-minute window — the capacity-planning number (how many sessions
    were alive at once), via the classic sweep line: +1/−1 boundary
    points, globally ordered running sum, per-day max. Ends sort before
    coincident starts (d = −1 first), matching half-open [s, e)
    intervals.

    The global ordered prefix sum is the scale problem — a naive
    ``sum() OVER (ORDER BY t)`` is a single-partition window over 2N
    fact rows. This plan reuses distributed_sort's bucket+offset trick
    at the SWEEP grain: points bucket by hour, the running sum is
    windowed WITHIN each hour bucket, and each bucket's starting
    concurrency is the broadcast cumulative sum of whole-bucket deltas
    (hour-grain, dimension-sized). The oracle spells the single-window
    form DuckDB can afford single-node; results are identical because
    prefix sums compose associatively across the bucket cut.
    """
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(
        F.unix_micros("ts").alias("t"),
        F.lit(1).cast("long").alias("d"),
        "event_id",
    )
    ends = ev.select(
        (F.unix_micros("ts") + F.lit(_IVL_SPAN_US)).alias("t"),
        F.lit(-1).cast("long").alias("d"),
        "event_id",
    )
    sweep = concurrency_sweep(starts.unionByName(ends))
    return (
        sweep.select(
            F.date_format(F.timestamp_micros("t"), "yyyy-MM-dd").alias(
                "day"
            ),
            "conc",
        )
        .groupBy("day")
        .agg(
            F.max("conc").cast("long").alias("max_concurrent"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


# ---------------------------------------------------------------------------
# Two-step Markov transitions — matrix multiply as a relational join
# ---------------------------------------------------------------------------

MARKOV2_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type AS a,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS b
    FROM events
),
t AS (
    SELECT a, b, CAST(count(*) AS BIGINT) AS c
    FROM seq WHERE b IS NOT NULL GROUP BY a, b
),
r AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM t GROUP BY a)
SELECT t1.a AS src, t2.b AS dst,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(sum((CAST(t1.c AS HUGEINT) * t2.c * 1000000)
                // (CAST(r1.ra AS HUGEINT) * r2.ra)) AS BIGINT)
           AS p2_micro
FROM t t1
JOIN t t2 ON t1.b = t2.a
JOIN r r1 ON r1.a = t1.a
JOIN r r2 ON r2.a = t2.a
GROUP BY t1.a, t2.b
"""


@query("events_markov_2step", oracle=MARKOV2_ORACLE)
def events_markov_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step transition matrix P² of the per-user event chain —
    matrix multiplication expressed as the relational join it is:
    P²[a,c] = Σ_b P[a,b]·P[b,c] becomes transitions ⋈ transitions on the
    middle state, grouped by the endpoints (the companion of
    embedding_gram_matrix's X^T X: same pattern, sparse form).

    Floats are eliminated, not tolerated: each path term quantizes as
    (c_ab·c_bc·10⁶) div (r_a·r_b) — exact BIGINT per term (products
    ≤ ~10¹⁵ at fixture scales; at larger scales pre-divide the larger
    count), summed exactly, so the result is order-insensitive where a
    sum of IEEE ratio products would hash-differ per engine. One
    user-keyed window builds the chain, everything after is
    state-grain (|types|² rows).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    t = seq.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    r = t.groupBy("a").agg(F.sum("c").cast("long").alias("ra"))
    t1 = t.alias("t1")
    t2 = t.alias("t2")
    joined = (
        t1.join(t2, F.col("t1.b") == F.col("t2.a"))
        .join(broadcast(r.alias("r1")), F.col("r1.a") == F.col("t1.a"))
        .join(broadcast(r.alias("r2")), F.col("r2.a") == F.col("t2.a"))
        .select(
            F.col("t1.a").alias("src"),
            F.col("t2.b").alias("dst"),
            F.expr(
                "(CAST(t1.c AS DECIMAL(38,0)) * t2.c * 1000000)"
                " div (CAST(r1.ra AS DECIMAL(38,0)) * r2.ra)"
            ).alias("term"),
        )
    )
    return joined.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.sum("term").cast("long").alias("p2_micro"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast + backtest — the baseline every model must beat
# ---------------------------------------------------------------------------

FORECAST_ORACLE = """
WITH mx AS (SELECT date_trunc('day', max(ts)) AS last_day FROM events),
hist AS (
    SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
           CAST(extract(hour FROM ts) AS BIGINT) AS hour,
           date_trunc('day', ts) AS d
    FROM events, mx WHERE date_trunc('day', ts) < mx.last_day
),
rates AS (
    SELECT dow, hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT d) AS BIGINT) AS n_days
    FROM hist GROUP BY dow, hour
),
spine AS (SELECT unnest(generate_series(0, 23)) AS hour),
actual AS (
    SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour,
           CAST(count(*) AS BIGINT) AS actual
    FROM events, mx WHERE date_trunc('day', ts) = mx.last_day
    GROUP BY 1
)
SELECT CAST(s.hour AS BIGINT) AS hour,
       CAST(coalesce(r.n_events // r.n_days, 0) AS BIGINT) AS predicted,
       CAST(coalesce(a.actual, 0) AS BIGINT) AS actual,
       CAST(abs(coalesce(r.n_events // r.n_days, 0)
                - coalesce(a.actual, 0)) AS BIGINT) AS abs_err
FROM spine s
LEFT JOIN (SELECT r.*
           FROM rates r, mx
           WHERE r.dow = isodow(mx.last_day) - 1) r ON r.hour = s.hour
LEFT JOIN actual a ON a.hour = s.hour
"""


@query("events_forecast_baseline", oracle=FORECAST_ORACLE)
def events_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive hourly forecast with an in-query backtest: predict
    the final day's hourly event counts as the historical mean for that
    (weekday, hour) cell, and score |predicted − actual| per hour — the
    baseline every fancier forecaster must beat, and the shape of every
    backtest job (train window strictly BEFORE the scored day).

    Exact integers end to end: the mean is BIGINT floor-division of two
    counts, the 24-row hour spine comes from a generated sequence (the
    date_spine_gaps recipe — no collect), and the held-out day is
    excluded from training by a broadcast max-date join, so there is no
    leakage by construction. One fact aggregate for the rates, one for
    the actuals; everything else is dimension-grain.
    """
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.date_trunc("day", F.max("ts")).alias("last_day"))
    with_day = ev.crossJoin(broadcast(mx)).select(
        F.weekday("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
        F.date_trunc("day", "ts").alias("d"),
        "last_day",
    )
    rates = (
        with_day.filter(F.col("d") < F.col("last_day"))
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("d").alias("n_days"),
        )
    )
    target_dow = mx.select(
        F.weekday("last_day").cast("long").alias("tdow")
    )
    pred = (
        rates.crossJoin(broadcast(target_dow))
        .filter(F.col("dow") == F.col("tdow"))
        .select("hour", F.expr("n_events div n_days").alias("predicted"))
    )
    actual = (
        with_day.filter(F.col("d") == F.col("last_day"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    spine = spark.range(0, 24).select(F.col("id").alias("hour"))
    return (
        spine.join(broadcast(pred), "hour", "left")
        .join(broadcast(actual), "hour", "left")
        .select(
            "hour",
            F.coalesce("predicted", F.lit(0)).cast("long").alias(
                "predicted"
            ),
            F.coalesce("actual", F.lit(0)).cast("long").alias("actual"),
            F.abs(
                F.coalesce("predicted", F.lit(0))
                - F.coalesce("actual", F.lit(0))
            )
            .cast("long")
            .alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve — cumulative revenue by cohort age
# ---------------------------------------------------------------------------

LTV_ORACLE = """
WITH firsts AS (
    SELECT o_custkey,
           min(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT))
               AS cohort_m
    FROM orders GROUP BY o_custkey
),
rev AS (
    SELECT f.cohort_m,
           CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
               - f.cohort_m AS age,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
)
SELECT printf('%04d-%02d', (cohort_m - 1) // 12, ((cohort_m - 1) % 12) + 1)
           AS cohort,
       age, n_orders, cents,
       CAST(sum(cents) OVER (PARTITION BY cohort_m ORDER BY age)
            AS BIGINT) AS cum_cents
FROM rev
"""


@query("cohort_revenue_ltv", oracle=LTV_ORACLE)
def cohort_revenue_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curves: revenue per (acquisition-month
    cohort, months-since-acquisition age) with the running cumulative —
    the LTV table behind payback-period decisions, the revenue sibling of
    ``cohort_retention``'s count triangle.

    Scale shape: first-order months are one customer-grain aggregate
    joined back co-partitioned on the customer key (both sides hash the
    same key — one shuffle each, no re-shuffle for the join); months are
    INTEGER year·12+month so age needs no date arithmetic at fact grain;
    the cumulative runs over the (cohort × age) table, months², which is
    dimension-sized forever. Money is exact integer cents.
    """
    o = load_table(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    with_m = o.select(
        "o_custkey",
        m.alias("om"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    firsts = with_m.groupBy("o_custkey").agg(F.min("om").alias("cohort_m"))
    rev = (
        with_m.join(firsts, "o_custkey")
        .groupBy("cohort_m", (F.col("om") - F.col("cohort_m")).alias("age"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        F.format_string(
            "%04d-%02d",
            F.expr("(cohort_m - 1) div 12").cast("int"),
            (F.pmod(F.col("cohort_m") - 1, F.lit(12)) + 1).cast("int"),
        ).alias("cohort"),
        "age",
        "n_orders",
        "cents",
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
    )


# ---------------------------------------------------------------------------
# Supplier scorecard — the vendor-KPI composite
# ---------------------------------------------------------------------------

SCORECARD_ORACLE = """
SELECT s.s_name AS supplier,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       CAST((CAST(count(*) FILTER (WHERE l.l_returnflag = 'R') AS HUGEINT)
            * 1000000) // count(*) AS BIGINT) AS return_ppm,
       CAST(sum(CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
                     AS BIGINT)) AS BIGINT)
           // CAST(count(*) AS BIGINT) AS avg_ship_lag_days
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_name
"""


@query("supplier_scorecard", oracle=SCORECARD_ORACLE)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vendor KPI scorecard: volume, breadth (distinct parts), exact
    integer revenue, return rate (ppm), and mean order→ship lag (integer
    floor days) per supplier — the multi-metric composite procurement
    reviews run, all five KPIs folded into ONE aggregate.

    Scale shape: lineitem⋈orders is the co-partitioned fact join (both
    keyed by order); supplier joins for the name UNhinted — it is
    SF-scaled (smallest fact-family table), so Catalyst auto-broadcasts
    it below the threshold and AQE shuffle-joins beyond, instead of a
    forced hint OOMing the driver at 100 TB — and every
    metric is a conditional/aggregated expression in the same pass — the
    table_expectations fusion rule applied to reporting: adding a KPI
    adds a column, not a job. Lag can be negative in this fixture
    (ship_before_order is a known audited violation) and floor-division
    semantics match `div` on both engines for the aggregate because the
    SUM is divided, not per-row values.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        s, li.l_suppkey == s.s_suppkey
    )
    return j.groupBy(F.col("s_name").alias("supplier")).agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.count_distinct("l_partkey").alias("n_parts"),
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("revenue_cents"),
        F.expr(
            "(CAST(count_if(l_returnflag = 'R') AS DECIMAL(38,0)) * 1000000)"
            " div count(*)"
        ).alias("return_ppm"),
        F.expr(
            "CAST(sum(CAST(datediff(l_shipdate, o_orderdate) AS BIGINT))"
            " div count(*) AS BIGINT)"
        ).alias("avg_ship_lag_days"),
    )


# ---------------------------------------------------------------------------
# Hard data gate — assert_true kills the job instead of reporting
# ---------------------------------------------------------------------------

ASSERT_GATE_ORACLE = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS min_cents
FROM orders GROUP BY o_orderstatus
"""


@query("quality_assert_gate", oracle=ASSERT_GATE_ORACLE)
def quality_assert_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD data gate: ``assert_true`` inline in the pipeline kills the
    job on the first violating row (here: non-positive order totals,
    which the fixture never has) — the fail-stop complement to
    ``table_expectations``' report-and-continue audit. Use the audit for
    stewardship dashboards; use the gate where downstream writes must
    never see a violating row (an invalid row costs a failed job, a
    leaked row costs a poisoned table).

    The assertion is a map-side expression fused into the scan — zero
    cost on the happy path at any scale, no extra pass. The gate's
    teeth are pinned in tests/test_round4h.py: the same plan over a
    frame containing one violating row must RAISE, not filter. The
    passing pipeline's aggregate is ordinary and oracle-checked.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    gated = o.select(
        "o_orderstatus",
        F.when(
            F.assert_true(
                cents > 0, F.lit("order with non-positive total")
            ).isNull(),
            cents,
        ).alias("cents"),
    )
    return gated.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("cents").cast("long").alias("min_cents"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users — exact WAU/DAU without a distinct-in-window
# ---------------------------------------------------------------------------

ROLLING_WAU_ORACLE = """
WITH ud AS (
    SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
bounds AS (SELECT max(day) AS mx FROM ud),
fan AS (
    SELECT ud.day + to_days(CAST(i AS INT)) AS window_day,
           ud.user_id, i
    FROM ud, unnest(generate_series(0, 6)) AS gs(i), bounds
    WHERE ud.day + to_days(CAST(i AS INT)) <= bounds.mx
)
SELECT strftime(window_day, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT CASE WHEN i = 0 THEN user_id END) AS BIGINT)
           AS dau,
       CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
       CAST((CAST(count(DISTINCT CASE WHEN i = 0 THEN user_id END)
                  AS HUGEINT)
           * 1000000) // count(DISTINCT user_id) AS BIGINT)
           AS stickiness_ppm
FROM fan GROUP BY window_day
"""


@query("events_rolling_wau", oracle=ROLLING_WAU_ORACLE)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day active users per day (WAU) next to same-day
    actives (DAU) and the DAU/WAU stickiness ratio — the engagement
    metric every product dashboard leads with, and a deliberately hard
    operator: COUNT DISTINCT is not algebraic, so no window frame can
    roll it.

    The scale-correct form: dedup events to (day, user) grain FIRST (one
    shuffle — the only fact-grain pass), then each user-day fans out to
    the ≤7 window-days it supports via a sequence explode, turning the
    rolling window into a plain equi-GROUP BY with a distinct aggregate.
    The 7× fan-out happens at user-day grain (bounded by users×days),
    never event grain — the difference between this and the naive
    spine-range-join is what survives 100 TB. Days with no trailing
    context still report correctly because membership, not history
    length, defines the window; trailing days beyond max(day) are
    clipped on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    mx = ud.agg(F.max("day").alias("mx"))
    fan = (
        ud.crossJoin(broadcast(mx))
        .select(
            "user_id",
            "mx",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            "day",
        )
        .select(
            "user_id",
            "i",
            F.expr("day + make_interval(0, 0, 0, i)").alias("window_day"),
            "mx",
        )
        .filter(F.col("window_day") <= F.col("mx"))
    )
    return fan.groupBy(
        F.date_format("window_day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count_distinct(
            F.when(F.col("i") == 0, F.col("user_id"))
        ).alias("dau"),
        F.count_distinct("user_id").alias("wau"),
        F.expr(
            "(CAST(count(DISTINCT CASE WHEN i = 0 THEN user_id END)"
            " AS DECIMAL(38,0)) * 1000000)"
            " div count(DISTINCT user_id)"
        ).alias("stickiness_ppm"),
    )
