"""Time-window semantics on the ``events`` stream-analogue table.

The reference is batch-only (MIT 6.824 Lab 1; /root/reference/README.md:1-2),
so this surface comes from the driver's extension mandate. Batch-mode
``F.window`` / ``F.session_window`` are the SAME functions Structured
Streaming uses — the streaming variants in
:mod:`mapreduce_6_824_lab1_spark.streaming` reuse these aggregations
verbatim, which is exactly how a 100 TB pipeline shares logic between its
backfill (batch) and live (streaming) paths.

Oracle parity notes: ``events.ts`` is microsecond precision; every output
timestamp is formatted to a second-precision string on BOTH sides
(SURVEY.md §7.3c). Session gap boundary is pinned STRICT (< gap merges):
Spark merges events whose window [ts, ts+gap) overlaps the session, i.e.
``next_ts - prev_ts < gap``; the oracle's lag/cumsum uses ``<`` likewise.

The family also holds the batch time-series keys: date spines and gap
detection, multi-resolution rollups, forward fill and interpolation,
EWMA/OHLC/TWAP/decay smoothing, sliding medians and rolling correlations,
gaps-and-islands, running distinct counts and interval-union length.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from mapreduce_6_824_lab1_spark.catalog import load_table
from mapreduce_6_824_lab1_spark.functions.numeric import hround
from mapreduce_6_824_lab1_spark.registry import query

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

TUMBLING_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS window_start,
       event_type,
       count(*) AS cnt,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM events
GROUP BY 1, 2
"""


def tumbling_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling window aggregation — shared by batch and streaming."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


@query("window_tumbling", oracle=TUMBLING_ORACLE)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1-hour tumbling window.

    100 TB: one hash shuffle on (hour, type) with map-side partials; window
    assignment is a pure projection (no expand — tumbling = 1 window/row).
    """
    return tumbling_agg(load_table(spark, sf_dir, "events"))


@query(
    "window_sliding",
    oracle=f"""
SELECT strftime(base - k * INTERVAL 15 MINUTE, '{TS_FMT_DUCK}') AS window_start,
       event_type,
       count(*) AS cnt,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM (
    -- make_timestamp keeps the value timezone-naive (to_timestamp would
    -- produce TIMESTAMPTZ and strftime would then depend on session tz)
    SELECT make_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) * 1000000)
               AS base,
           event_type, value
    FROM events
) e, (SELECT unnest([0, 1, 2, 3]) AS k) ks
GROUP BY 1, 2
""",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes (each event lands in 4 windows).

    Spark expands each row into window_len/slide copies (Expand) then hash
    aggregates; the oracle mirrors that expansion explicitly. 100 TB: the 4×
    expand happens AFTER scan-side filters, and partial agg collapses it
    before the shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


SESSION_GAP_MIN = 30

SESSION_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     < INTERVAL {SESSION_GAP_MIN} MINUTE
                THEN 0 ELSE 1 END AS new_s
    FROM events
),
sess AS (
    SELECT user_id, ts, value,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       count(*) AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM sess
GROUP BY user_id, sid
"""


@query("window_session", oracle=SESSION_ORACLE)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization per user with a 30-minute inactivity gap.

    Uses native ``session_window`` (merging-window state machine). The oracle
    derives identical sessions with the classic lag/gap/cumsum pattern — the
    two formulations agreeing is itself the correctness check for the gap
    boundary. 100 TB: one shuffle on user_id; sessions merge locally
    per key. Streaming variant: same groupBy with a watermark
    (see streaming module notes).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", TS_FMT_SPARK).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Dynamic-gap sessionization — per-event inactivity timeout (purchases hold
# a session open longer than passive views: the standard engagement-
# weighted session model). Spark's merging-session state machine takes the
# gap as an EXPRESSION; the relational oracle generalizes the lag/cumsum
# pattern to a running max of (ts + gap) — with variable gaps the previous
# EVENT is no longer the latest-expiring one, so the break test must
# compare against the running maximum, not lag(ts).
# ---------------------------------------------------------------------------

DYN_GAP_DEFAULT_MIN = 20
DYN_GAP_PURCHASE_MIN = 40

SESSION_DYNAMIC_ORACLE = f"""
WITH g AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN event_type = 'purchase'
                THEN INTERVAL {DYN_GAP_PURCHASE_MIN} MINUTE
                ELSE INTERVAL {DYN_GAP_DEFAULT_MIN} MINUTE END AS gap
    FROM events
),
flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts < max(ts + gap) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 0 ELSE 1 END AS new_s
    FROM g
),
sess AS (
    SELECT user_id, ts, value,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       count(*) AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM sess
GROUP BY user_id, sid
"""


@query("window_session_dynamic", oracle=SESSION_DYNAMIC_ORACLE)
def window_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization where each event carries its own gap duration.

    Same one-shuffle profile as ``window_session``; the gap expression is
    evaluated map-side. Session end is exclusive on both engines: an event
    arriving exactly at the previous session's expiry starts a new session.
    """
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", f"{DYN_GAP_PURCHASE_MIN} minutes"
    ).otherwise(f"{DYN_GAP_DEFAULT_MIN} minutes")
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", TS_FMT_SPARK).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Event-time RANGE frame: rolling last-hour stats per user
# ---------------------------------------------------------------------------

RANGE_US = 3_600_000_000  # one hour in microseconds

TIME_RANGE_ORACLE = f"""
SELECT event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT)
           AS sum_cents_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {RANGE_US} PRECEDING AND CURRENT ROW)
"""


@query("window_time_range", oracle=TIME_RANGE_ORACLE)
def window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling one-hour event count and value sum per user — the RANGE
    frame keyed on EVENT TIME ([t-1h, t] inclusive), where the tumbling/
    sliding windows bucket time instead.

    The frame bound is integer microseconds over ``unix_micros(ts)``, so
    both engines evaluate the identical inclusive interval — an INTERVAL-
    typed bound would tie the comparison to each engine's timestamp
    coercion rules. RANGE (not ROWS) makes simultaneous events peers:
    every row at the same instant sees the same frame, so the result is
    insensitive to tie order — no tiebreak column needed, unlike every
    ROWS frame in this module. 100 TB: one shuffle on user_id; frame
    state is bounded by each user's one-hour event rate, independent of
    history length.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-RANGE_US, 0)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(cents).over(w).cast("long").alias("sum_cents_1h"),
    )


ROLLUP_ORACLE = f"""
WITH base AS (
    SELECT date_trunc('hour', ts) AS hour_b, date_trunc('day', ts) AS day_b,
           event_type, value
    FROM events
)
SELECT CASE WHEN GROUPING(hour_b) = 0 THEN 'hour' ELSE 'day' END AS resolution,
       strftime(coalesce(hour_b, day_b), '{TS_FMT_DUCK}') AS bucket,
       event_type,
       count(*) AS cnt,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM base
GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type))
"""


@query("rollup_multires", oracle=ROLLUP_ORACLE)
def rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (hypertable-style continuous aggregate):
    hourly AND daily per-type aggregates in ONE pass via GROUPING SETS.

    Plan: a single Expand (×2) feeding one hash aggregate — one scan, one
    shuffle, versus two full passes if the resolutions ran separately.
    100 TB: this is how downsample hierarchies are built; adding weekly/
    monthly costs one more Expand row, not another scan. Map-side partials
    apply per grouping set.
    """
    events = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour_b"),
        F.date_trunc("day", "ts").alias("day_b"),
        "event_type",
        "value",
    )
    return (
        events.groupingSets(
            [["hour_b", "event_type"], ["day_b", "event_type"]],
            "hour_b",
            "day_b",
            "event_type",
        )
        .agg(
            F.grouping("hour_b").alias("_ghour"),
            F.count(F.lit(1)).alias("cnt"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.when(F.col("_ghour") == 0, F.lit("hour"))
            .otherwise(F.lit("day"))
            .alias("resolution"),
            F.date_format(F.coalesce("hour_b", "day_b"), TS_FMT_SPARK).alias(
                "bucket"
            ),
            "event_type",
            "cnt",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Calendar spine — "which days had NO orders" can't be answered by any
# aggregation of rows that exist; it needs a generated dimension. The spine
# comes from sequence() over a broadcast 1-row (min, max) aggregate — no
# collect, no driver round-trip, no hand-maintained calendar table — then
# an anti-join against the observed dates.
# ---------------------------------------------------------------------------


@query(
    "date_spine_gaps",
    oracle="""
WITH span AS (
    SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
),
spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM span
)
SELECT strftime(d, '%Y-%m-%d') AS gap_day
FROM spine
WHERE d NOT IN (SELECT DISTINCT o_orderdate FROM orders)
""",
)
def date_spine_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days inside the order span with zero orders (generated date spine).

    100 TB: the spine is O(days) regardless of fact size; the observed-date
    side collapses to DISTINCT dates (partial-agg shuffle of |days| rows)
    before the broadcast anti-join. The fact table itself never shuffles.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql.functions import broadcast

    span = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    spine = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    observed = o.select(F.col("o_orderdate").alias("d")).distinct()
    return (
        spine.join(broadcast(observed), "d", "left_anti")
        .select(F.date_format("d", "yyyy-MM-dd").alias("gap_day"))
    )


# ---------------------------------------------------------------------------
# Time-series resampling with forward fill — the spine pattern's second
# act: regularize an irregular event series onto a daily grid, carrying the
# last observation forward across gap days (LOCF). The grid is O(days ×
# |groups|) regardless of fact size; the fact table contributes one
# partial-agg shuffle and never joins at raw-row grain.
# ---------------------------------------------------------------------------


@query(
    "timeseries_ffill",
    oracle="""
WITH span AS (
    SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
),
spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM span
),
daily AS (
    SELECT o_orderpriority AS prio, o_orderdate AS d,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1, 2
),
grid AS (
    SELECT p.prio, s.d FROM spine s
    CROSS JOIN (SELECT DISTINCT o_orderpriority AS prio FROM orders) p
)
SELECT g.prio,
       strftime(g.d, '%Y-%m-%d') AS day,
       CASE WHEN daily.cents IS NULL THEN 0 ELSE 1 END AS observed,
       coalesce(last_value(daily.cents IGNORE NULLS)
                    OVER (PARTITION BY g.prio ORDER BY g.d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0) AS filled_cents
FROM grid g LEFT JOIN daily ON daily.prio = g.prio AND daily.d = g.d
""",
)
def timeseries_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue per order priority on a complete date spine, gaps
    filled with the last observed value (LOCF; 0 before the first
    observation). Money aggregates as integer cents, so the carried value
    is engine-exact. One fact shuffle (the daily partial agg), a generated
    spine, and one window per group — at 100 TB the window runs over
    |days| rows per group, not over the fact table."""
    from pyspark.sql.functions import broadcast

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").alias("d"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    span = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    spine = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    dims = o.select(F.col("o_orderpriority").alias("prio")).distinct()
    grid = spine.crossJoin(broadcast(dims))
    joined = grid.join(broadcast(daily), ["prio", "d"], "left")
    w = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "prio",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.when(F.col("cents").isNull(), 0).otherwise(1).alias("observed"),
        F.coalesce(
            F.last("cents", ignorenulls=True).over(w), F.lit(0)
        ).alias("filled_cents"),
    )


# ---------------------------------------------------------------------------
# Time-series resampling with LINEAR interpolation — the spine pattern's
# third act. LOCF (timeseries_ffill) repeats the last value; interpolation
# draws the straight line between the bracketing observations, the standard
# resampling rule for sensor/metric series (pandas ``interpolate``,
# InfluxDB/Timescale gap-fill). Outside the observed span there is no
# bracket, so those rows stay NULL — an honest edge, not an extrapolation.
# ---------------------------------------------------------------------------


@query(
    "timeseries_interpolate",
    oracle="""
WITH span AS (
    SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
),
spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM span
),
daily AS (
    SELECT o_orderpriority AS prio, o_orderdate AS d,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1, 2
),
grid AS (
    SELECT p.prio, s.d FROM spine s
    CROSS JOIN (SELECT DISTINCT o_orderpriority AS prio FROM orders) p
),
ctx AS (
    SELECT g.prio, g.d, daily.cents,
           last_value(daily.cents IGNORE NULLS)
               OVER (PARTITION BY g.prio ORDER BY g.d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_cents,
           last_value(CASE WHEN daily.cents IS NOT NULL THEN g.d END
                      IGNORE NULLS)
               OVER (PARTITION BY g.prio ORDER BY g.d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_d,
           first_value(daily.cents IGNORE NULLS)
               OVER (PARTITION BY g.prio ORDER BY g.d
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_cents,
           first_value(CASE WHEN daily.cents IS NOT NULL THEN g.d END
                       IGNORE NULLS)
               OVER (PARTITION BY g.prio ORDER BY g.d
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_d
    FROM grid g LEFT JOIN daily ON daily.prio = g.prio AND daily.d = g.d
)
SELECT prio,
       strftime(d, '%Y-%m-%d') AS day,
       CASE WHEN cents IS NOT NULL THEN 'obs'
            WHEN prev_cents IS NOT NULL AND next_cents IS NOT NULL
                THEN 'interp'
            ELSE 'edge' END AS kind,
       CASE WHEN cents IS NOT NULL THEN cents
            WHEN prev_cents IS NOT NULL AND next_cents IS NOT NULL
                THEN CAST(floor(
                         CAST(prev_cents AS DOUBLE)
                         + CAST(next_cents - prev_cents AS DOUBLE)
                           * (CAST(date_diff('day', prev_d, d) AS DOUBLE)
                              / CAST(date_diff('day', prev_d, next_d)
                                     AS DOUBLE))
                         + 0.5) AS BIGINT)
            ELSE NULL END AS value_cents
FROM ctx
""",
)
def timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue per order priority on a complete date spine, gap days
    LINEARLY interpolated between the bracketing observations; days before
    the first / after the last observation stay NULL (kind='edge').

    Interpolation arithmetic is pinned engine-portable: observations are
    exact integer cents; the interpolated value is computed in ONE shape on
    both engines — prev + (next−prev) · (Δprev / Δspan) with every operand
    explicitly cast to double before the multiply/divide, then
    floor(x+0.5) back to BIGINT — so the IEEE result is bit-identical and
    the driver hash is exact.

    Scale shape is identical to ``timeseries_ffill``: one fact-table
    partial agg (the daily rollup), a generated O(days) spine broadcast
    against it, and per-group windows over |days| rows — two window passes
    (backward carry + forward carry) instead of LOCF's one. The fact table
    never shuffles at row grain, so 100× the orders only grows the first
    partial agg."""
    from pyspark.sql.functions import broadcast

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").alias("d"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    span = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    spine = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    dims = o.select(F.col("o_orderpriority").alias("prio")).distinct()
    grid = spine.crossJoin(broadcast(dims))
    joined = grid.join(broadcast(daily), ["prio", "d"], "left")
    back = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("cents").isNotNull(), F.col("d"))
    ctx = joined.select(
        "prio",
        "d",
        "cents",
        F.last("cents", ignorenulls=True).over(back).alias("prev_cents"),
        F.last(obs_d, ignorenulls=True).over(back).alias("prev_d"),
        F.first("cents", ignorenulls=True).over(fwd).alias("next_cents"),
        F.first(obs_d, ignorenulls=True).over(fwd).alias("next_d"),
    )
    bracketed = F.col("prev_cents").isNotNull() & F.col("next_cents").isNotNull()
    interp = F.floor(
        F.col("prev_cents").cast("double")
        + (F.col("next_cents") - F.col("prev_cents")).cast("double")
        * (
            F.datediff("d", "prev_d").cast("double")
            / F.datediff("next_d", "prev_d").cast("double")
        )
        + F.lit(0.5)
    ).cast("long")
    return ctx.select(
        "prio",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.when(F.col("cents").isNotNull(), F.lit("obs"))
        .when(bracketed, F.lit("interp"))
        .otherwise(F.lit("edge"))
        .alias("kind"),
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .when(bracketed, interp)
        .alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# Gaps and islands: maximal runs of consecutive active days per user
#
# The island key is integer arithmetic on a row_number, NOT a self-join on
# day-1 (the naive consecutive-day join is O(n²) on dense users).
# ---------------------------------------------------------------------------

ISLANDS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
keyed AS (
    SELECT user_id, day,
           date_diff('day', DATE '2024-01-01', day)
             - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
    FROM days
)
SELECT user_id,
       strftime(min(day), '%Y-%m-%d') AS run_start,
       count(*) AS run_days
FROM keyed
GROUP BY user_id, island
"""


@query("window_gaps_islands", oracle=ISLANDS_ORACLE)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal consecutive-day activity runs per user (gaps and islands).

    ``day_ordinal - row_number()`` is constant within a consecutive run, so
    one window + one aggregate finds every maximal island. The window
    partitions by user (bounded state), and the distinct day set is tiny
    relative to raw events — the naive alternative, a self-join on
    ``day - 1``, re-shuffles the full activity table per hop and is
    quadratic on dense users at 100 TB.
    """
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    keyed = days.withColumn(
        "island",
        F.datediff("day", F.lit("2024-01-01").cast("date"))
        - F.row_number().over(w),
    )
    return keyed.groupBy("user_id", "island").agg(
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("run_start"),
        F.count(F.lit(1)).alias("run_days"),
    ).select("user_id", "run_start", "run_days")


# ---------------------------------------------------------------------------
# Cumulative distinct users per day (running count distinct)
#
# Dedupe-to-first-occurrence THEN running count — ``count(DISTINCT) OVER (ORDER
# BY …)`` is unbounded per-row state and most engines (Spark included) refuse
# it.
# ---------------------------------------------------------------------------

CUMDISTINCT_ORACLE = """
WITH firsts AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
    GROUP BY user_id
),
per_day AS (
    SELECT first_day AS day, count(*) AS new_users
    FROM firsts GROUP BY first_day
)
SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
FROM per_day
"""


@query("window_cumulative_distinct", oracle=CUMDISTINCT_ORACLE)
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, per day.

    ``count(DISTINCT) OVER (ORDER BY day)`` needs unbounded per-row state
    and Spark rejects it outright. The scalable rewrite: each user
    contributes exactly once at their FIRST day (one hash aggregate),
    daily new-user counts follow, and the running sum is a window over
    the ~days-sized frame — O(users) shuffle, O(days) window, regardless
    of raw event volume. The final single-partition window is over one
    row per day (bounded), not per event.
    """
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# Truncated EWMA over the daily value series (integer-exact)
#
# Truncated exponential weights as k explicit ``lag`` columns over ONE window
# pass, in pure integer arithmetic (powers of two), so both engines produce
# bit-identical results; the naive recursive definition is a sequential scan no
# engine parallelizes.
# ---------------------------------------------------------------------------

EWMA_K = 8  # truncation depth; alpha = 1/2 => weight 2^(K-1-k) for lag k

_EWMA_NUM_SQL = " + ".join(
    f"coalesce(lag(day_cents, {k}) OVER w, 0) * {1 << (EWMA_K - 1 - k)}"
    for k in range(EWMA_K)
)
_EWMA_DEN_SQL = " + ".join(
    f"(CASE WHEN lag(day_cents, {k}) OVER w IS NOT NULL"
    f" THEN {1 << (EWMA_K - 1 - k)} ELSE 0 END)"
    for k in range(EWMA_K)
)

EWMA_ORACLE = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS day_cents
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
smoothed AS (
    SELECT event_type, day, day_cents,
           {_EWMA_NUM_SQL} AS num,
           {_EWMA_DEN_SQL} AS den
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, day_cents,
       num // den AS ewma_cents
FROM smoothed
"""


@query("timeseries_ewma", oracle=EWMA_ORACLE)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha=1/2, depth 8) of the
    per-event-type daily value series, in exact integer arithmetic.

    The recursive EWMA definition (s_t = αx_t + (1-α)s_{t-1}) is a
    sequential dependency; truncating at K=8 steps (weight < 1% beyond)
    turns it into K shifted reads of ONE sort — all ``lag`` columns share
    a single window frame, so Spark evaluates them in one pass. With
    α=1/2 the weights are powers of two: numerator and denominator stay
    in BIGINT and the floor-divided result is bit-identical across
    engines — no float accumulation order to disagree on.
    100 TB: the daily pre-aggregate collapses raw events to
    |types|×|days| rows (the only full shuffle); the window partitions
    are day-count sized, trivially parallel per type.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).cast("long").alias("day_cents")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    num = reduce(
        lambda a, k: a
        + F.coalesce(F.lag("day_cents", k).over(w), F.lit(0))
        * F.lit(1 << (EWMA_K - 1 - k)),
        range(1, EWMA_K),
        F.col("day_cents") * F.lit(1 << (EWMA_K - 1)),
    )
    den = reduce(
        lambda a, k: a
        + F.when(
            F.lag("day_cents", k).over(w).isNotNull(),
            F.lit(1 << (EWMA_K - 1 - k)),
        ).otherwise(0),
        range(1, EWMA_K),
        F.lit(1 << (EWMA_K - 1)),
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_cents",
        (num.alias("num")),
        (den.alias("den")),
    ).select(
        "event_type",
        "day",
        "day_cents",
        F.expr("num div den").alias("ewma_cents"),
    )


# ---------------------------------------------------------------------------
# Exact sliding median of event values (bounded ROWS frame)
#
# Exact, via a bounded ROWS frame list — constant per-row state; a percentile
# over an unbounded frame would be per-row-quadratic.
# ---------------------------------------------------------------------------

MEDIAN_WIN = 5

MEDIAN_ORACLE = f"""
WITH framed AS (
    SELECT user_id, event_id,
           list(CAST(floor(value * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {MEDIAN_WIN - 1} PRECEDING
                     AND CURRENT ROW) AS l
    FROM events
)
SELECT user_id, event_id,
       list_sort(l)[CAST((len(l) + 1) // 2 AS INT)] AS med_cents,
       CAST(len(l) AS BIGINT) AS n_win
FROM framed
"""


@query("window_sliding_median", oracle=MEDIAN_ORACLE)
def window_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (lower) median of each user's last 5 event values — robust
    per-event baseline for anomaly scoring, where the mean (anomaly_zscore)
    is outlier-sensitive.

    No engine has an exact median window function; percentile_approx is
    rank-nondeterministic across partitionings. A 5-row ROWS frame
    collected to an array + sort + middle element IS exact, with O(w log w)
    per-row cost at constant w — per-row state never exceeds the frame.
    Values are integer cents so the result admits a bit-exact cross-engine
    hash. 100 TB: one shuffle on user_id; frame state is 5 longs per row
    regardless of history length.
    """
    e = load_table(spark, sf_dir, "events")
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(MEDIAN_WIN - 1), 0)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    framed = e.select(
        "user_id",
        "event_id",
        F.collect_list(cents).over(wf).alias("l"),
    )
    return framed.select(
        "user_id",
        "event_id",
        F.element_at(
            F.array_sort("l"),
            F.expr("CAST((size(l) + 1) div 2 AS INT)"),
        ).alias("med_cents"),
        F.size("l").cast("long").alias("n_win"),
    )


# ---------------------------------------------------------------------------
# Rolling correlation over the daily (count, value) series
# ---------------------------------------------------------------------------

CORR_WIN = 8

ROLLCORR_ORACLE = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS x,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
sums AS (
    SELECT event_type, day,
           CAST(count(*) OVER w AS BIGINT) AS n,
           CAST(sum(x) OVER w AS BIGINT) AS sx,
           CAST(sum(y) OVER w AS BIGINT) AS sy,
           CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
           CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
           CAST(sum(y * y) OVER w AS BIGINT) AS syy
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN {CORR_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n AS n_win,
       CASE WHEN n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                       * 1000000 + 0.5) / 1000000
            ELSE NULL END AS corr8
FROM sums
"""


@query("window_rolling_corr", oracle=ROLLCORR_ORACLE)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 8-day Pearson correlation between daily event count and
    daily value per event type — does activity volume track revenue, and
    when does the relationship break?

    ``corr() OVER frame`` exists in both engines but accumulates floats in
    engine-specific order — it can never hash-match. Instead the five
    algebraic sums (Σx, Σy, Σxy, Σx², Σy²) run as INTEGER window sums
    (exact, order-insensitive) over one shared frame, and the correlation
    is a single pinned-shape IEEE expression over those exact integers —
    both engines perform the identical sqrt/divide on identical inputs
    (the text_collocations_pmi technique, lifted to window frames).
    Degenerate frames (n<2 or zero variance) are honestly NULL.
    100 TB: daily pre-agg is the only full shuffle; six window aggregates
    share one frame over |types|×|days| rows.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).cast("long").alias("y"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(CORR_WIN - 1), 0)
    )
    sums = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.floor(
        num.cast("double")
        / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
        * 1000000
        + F.lit(0.5)
    ) / 1000000
    return sums.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").alias("n_win"),
        F.when(
            (F.col("n") >= 2) & (varx > 0) & (vary > 0), corr
        ).alias("corr8"),
    )


# ---------------------------------------------------------------------------
# OHLC candle downsampling — one partial-agg shuffle, no per-key sort
#
# Open/close are min/max over a (ts, id, value) struct — algebraic aggregates,
# so the whole candle build is one partial-agg shuffle; the textbook
# row_number() formulation needs a full sort per key first.
# ---------------------------------------------------------------------------

OHLC_ORACLE = """
WITH e AS (
    SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           event_type, ts, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY week, event_type
                              ORDER BY ts, event_id) AS rn_a,
           row_number() OVER (PARTITION BY week, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM e
)
SELECT week, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
       CAST(min(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents,
       CAST(max(cents) AS BIGINT) AS high_cents,
       CAST(min(cents) AS BIGINT) AS low_cents,
       CAST(sum(cents) AS BIGINT) AS volume_cents
FROM r GROUP BY week, event_type
"""


@query("timeseries_ohlc", oracle=OHLC_ORACLE)
def timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC candles per event type: open/close are the values at
    the first/last (ts, event_id) of the window, high/low/volume the
    min/max/sum of integer cents.

    Open and close are min/max over a (ts, event_id, cents) STRUCT —
    lexicographic struct comparison makes first/last-by-time an ALGEBRAIC
    aggregate (partial-merge exact, deterministic because event_id is
    unique). Struct min/max can't live in a hash-agg buffer, so Spark
    plans a SortAggregate — still ONE exchange carrying six partials per
    group (map-side combine), where the textbook row_number formulation
    (what the oracle spells) shuffles EVERY raw row to its window
    partition before any reduction: at 100 TB the struct fold's shuffle
    is group-grain, the window's is fact-grain. sum() stays on
    pre-quantized BIGINT cents (house vector rule); the one-exchange /
    no-Window shape is pinned in test_plans.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return e.groupBy("week", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.struct("ts", "event_id", "cents"))
        .getField("cents")
        .alias("open_cents"),
        F.max(F.struct("ts", "event_id", "cents"))
        .getField("cents")
        .alias("close_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.sum("cents").cast("long").alias("volume_cents"),
    )


# ---------------------------------------------------------------------------
# Interval union length — covered time under overlapping activity windows
# ---------------------------------------------------------------------------

_IVL_SPAN_US = 30 * 60 * 1_000_000  # each event covers [ts, ts+30min)

INTERVAL_UNION_ORACLE = f"""
WITH iv AS (
    SELECT user_id, event_id,
           CAST(epoch_us(ts) AS BIGINT) AS s,
           CAST(epoch_us(ts) + {_IVL_SPAN_US} AS BIGINT) AS e
    FROM events
),
m AS (
    SELECT user_id, s, e, event_id,
           CAST(max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS BIGINT) AS pmax
    FROM iv
),
isl AS (
    SELECT user_id, s, e,
           CAST(sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY s, e, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS island
    FROM m
)
SELECT user_id,
       CAST(sum(cnt) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(mx - mn) AS BIGINT) AS covered_us
FROM (SELECT user_id, island, min(s) AS mn, max(e) AS mx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM isl GROUP BY user_id, island)
GROUP BY user_id
"""


def interval_union_fold(iv: DataFrame) -> DataFrame:
    """Core interval-union fold over (user_id, event_id, s, e) rows —
    factored out so property tests can drive it with synthetic interval
    sets (tests/test_properties.py pins duplication-invariance)."""
    # ONE ordering for BOTH windows — (s, e, event_id). With inconsistent
    # tie orders (s,event_id vs s,e) two same-start intervals could land
    # island flags in a different sequence than their pmax values assumed,
    # splitting one island into two (hypothesis found the 2-interval
    # counterexample; pinned in test_properties).
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.select(
        "user_id", "s", "e", "event_id",
        F.max("e").over(wprev).alias("pmax"),
    )
    flag = F.when(
        F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1
    ).otherwise(0)
    wisl = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = m.select(
        "user_id", "s", "e", F.sum(flag).over(wisl).alias("island")
    )
    per_island = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("mn"), F.max("e").alias("mx"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return per_island.groupBy("user_id").agg(
        F.sum("cnt").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("mx") - F.col("mn")).cast("long").alias("covered_us"),
    )


@query("interval_union_length", oracle=INTERVAL_UNION_ORACLE)
def interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total COVERED time per user when each event opens a 30-minute
    activity window — the interval-union problem (overlaps must count
    once), the measurement behind 'active minutes' metrics.

    Classic two-window solve, both windows over the user's own ordered
    rows (one shuffle total): a running max of interval ends over
    PRECEDING rows detects island starts (s > pmax), a running sum of
    the start flags numbers islands, and each island contributes
    max(end) − min(start) exactly once however deep its overlaps. All
    arithmetic is integer µs — exact. The n_events ≥ n_islands and
    covered ≤ n·span invariants are pinned in tests/test_round4g.py.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_IVL_SPAN_US)).alias("e"),
    )
    return interval_union_fold(iv)


# ---------------------------------------------------------------------------
# Time-weighted average price — duration-weighted means per (type, day)
# ---------------------------------------------------------------------------

TWAP_ORACLE = """
WITH e AS (
    SELECT event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(epoch_us(date_trunc('day', ts)) + 86400000000 AS BIGINT)
               AS day_end_us,
           CAST(epoch_us(ts) AS BIGINT) AS us, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
),
d AS (
    SELECT event_type, day, cents,
           (coalesce(lead(us) OVER (PARTITION BY event_type, day
                                    ORDER BY us, event_id),
                     day_end_us) - us) // 1000000 AS dur_s
    FROM e
)
SELECT event_type, day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(dur_s) AS BIGINT) AS held_s,
       CAST(sum(cents * dur_s) AS BIGINT) AS weighted_cents_s,
       CAST(sum(cents * dur_s) // greatest(sum(dur_s), 1) AS BIGINT)
           AS twap_cents
FROM d GROUP BY event_type, day
"""


@query("timeseries_twap", oracle=TWAP_ORACLE)
def timeseries_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (event type, day): each
    observation holds until the next one (or the day boundary), and the
    mean weights by integer holding seconds — the TWAP every execution/
    billing system computes, where the row-weighted mean is simply
    wrong for irregular arrivals.

    Overflow-proof BY CONSTRUCTION, not by fixture luck: per (type, day)
    the holding durations sum to ≤ 86 400 s whatever the event count, so
    Σ cents·dur_s ≤ max_cents·86 400 ≈ 9·10¹¹ — bounded at ANY corpus
    scale, which is why the weights are day-clipped seconds and not µs.
    One window pass per (type, day) partition (lead + day-end coalesce),
    one aggregate; the division is integer floor-division at the very
    end, so the whole result is exact BIGINT arithmetic.
    """
    ev = load_table(spark, sf_dir, "events")
    day_start = F.date_trunc("day", "ts")
    e = ev.select(
        "event_type",
        F.date_format(day_start, "yyyy-MM-dd").alias("day"),
        (F.unix_micros(day_start) + F.lit(86_400_000_000)).alias(
            "day_end_us"
        ),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
    )
    w = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    d = e.select(
        "event_type",
        "day",
        "cents",
        F.expr(
            "(coalesce(lead(us) over (partition by event_type, day "
            "order by us, event_id), day_end_us) - us) div 1000000"
        ).alias("dur_s"),
    )
    return d.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("dur_s").cast("long").alias("held_s"),
        F.sum(F.col("cents") * F.col("dur_s"))
        .cast("long")
        .alias("weighted_cents_s"),
        F.expr(
            "CAST(sum(cents * dur_s) div greatest(sum(dur_s), 1) AS BIGINT)"
        ).alias("twap_cents"),
    )


# ---------------------------------------------------------------------------
# Recency-decayed revenue — exact power-of-two decay, no libm
# ---------------------------------------------------------------------------

DECAY_HORIZON_D = 20  # weight 2^-age for age ≤ horizon, else 0

DECAY_ORACLE = f"""
WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
d AS (
    SELECT o_orderstatus AS status,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(date_diff('day', o_orderdate, mx.m) AS BIGINT) AS age
    FROM orders, mx
)
SELECT status,
       CAST(count(*) FILTER (WHERE age <= {DECAY_HORIZON_D}) AS BIGINT)
           AS n_recent,
       CAST(sum(CASE WHEN age <= {DECAY_HORIZON_D}
                     THEN cents // (CAST(1 AS BIGINT) << age)
                     ELSE 0 END) AS BIGINT) AS decayed_cents
FROM d GROUP BY status
"""


@query("timeseries_decay_sum", oracle=DECAY_ORACLE)
def timeseries_decay_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed revenue per status: each order contributes
    cents·2^(−age_days), ages beyond 20 days contribute nothing — the
    exponentially-decayed score behind trending/recency rankings, with
    the decay base pinned to 2 so every term is an integer SHIFT
    (floor(cents >> age)), never a libm pow.

    Exactness and overflow safety are structural: each term is ≤ its own
    cents (so the sum is bounded by plain revenue at any scale), both
    engines compute identical floor-shifts, and the whole operator is
    one scan + one partial aggregate against a broadcast max-date. The
    half-life generalizes by rescaling age (e.g. age_days·2 for a
    half-day half-life) — still integer.
    """
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("m"))
    d = orders.crossJoin(broadcast(mx)).select(
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.datediff("m", "o_orderdate").cast("long").alias("age"),
    )
    recent = F.col("age") <= DECAY_HORIZON_D
    return d.groupBy("status").agg(
        F.count_if(recent).alias("n_recent"),
        F.sum(
            F.when(
                recent,
                F.expr("shiftright(cents, cast(age AS int))"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("decayed_cents"),
    )
