"""Structured Streaming surface.

The reference is batch-only (MIT 6.824 Lab 1 — /root/reference/README.md:1-2);
the driver mandates a streaming surface over the ``events`` stream-analogue
table. Pattern: ``readStream`` (file source) → the SAME transformation
functions the batch queries use → ``writeStream`` to a memory sink with an
``availableNow`` trigger. Because availableNow drains the full input and the
sink is read after termination, results are deterministic and each streaming
query is checked against the SAME DuckDB oracle as its batch twin — the
lab's own "distributed vs sequential golden diff" pattern, one more time.

Late-data / state notes for the real cluster (documented, not oracle-able in
a batch driver — SURVEY.md §2.C):
- bound state with ``withWatermark("ts", "10 minutes")`` before windowed
  aggs in append mode (complete mode used here retains all windows);
- streaming dedup at scale: ``dropDuplicatesWithinWatermark(["event_id"])``
  so the seen-keys state is GC'd past the watermark;
- custom stateful ops (e.g. streaming sessionization beyond
  ``session_window``): ``applyInPandasWithState`` with a per-user timeout.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mapreduce_6_824_lab1_spark.catalog import (
    configure,
    detach,
    normalize_events,
)
from mapreduce_6_824_lab1_spark.operators.temporal import (
    TS_FMT_SPARK,
    TUMBLING_ORACLE,
    tumbling_agg,
)
from mapreduce_6_824_lab1_spark.functions.numeric import hround
from mapreduce_6_824_lab1_spark.registry import query


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema must be explicit)."""
    configure(spark)
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # File-stream sources require a directory; glob-filter to the events file.
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events(src)


def _run_to_memory(df: DataFrame, spark: SparkSession, mode: str) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink and return the table.

    The streaming plan is only materialized at ``start()``, so scoping the
    state partitioning (``session.core_partitions``) here covers every
    stream in the module; the session's own value is back before any
    downstream batch aggregation of the sink table runs.
    """
    from mapreduce_6_824_lab1_spark.session import core_partitions

    name = f"mr_stream_{uuid.uuid4().hex[:12]}"
    with core_partitions(spark):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


# Sink-grain ruling (round 7, after the sf10 sweep OOM'd the JVM on a
# session-grain memory sink): a memory sink buffers the ENTIRE result on
# the driver-JVM heap, so it is reserved for AGGREGATE-grade results —
# complete-mode aggregates whose cardinality is domain-bounded (event
# types, top-k, hour×type windows). Any append-mode result that scales
# with the corpus (matched events, stream-stream join rows, per-user
# sessions, deduped events) drains through ``_run_to_parquet`` instead:
# executor-side file sink, exactly-once via the _spark_metadata commit
# log, lazily read back — the 100 TB shape, where the sink is the
# pipeline's durable output, not a debug buffer.

# Output scratch dirs live until interpreter exit: the returned frame is
# a LAZY read of the file-sink output, so the dir must outlive the call
# (unlike input staging scratch, which a finished query has drained).
_OUT_SCRATCH: list[str] = []


def _cleanup_out_scratch() -> None:
    for d in _OUT_SCRATCH:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_out_scratch)


def _run_to_parquet(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Drain an append-mode stream into a PARQUET file sink and return a
    lazy batch read of it (see the sink-grain ruling above). Same
    ``core_partitions`` state sizing as ``_run_to_memory``.

    Disk bound: one result copy per invocation lives until interpreter
    exit — deliberate; the returned frame is LAZY, so an eager rmtree of
    a prior invocation's dir could invalidate a frame a caller still
    holds. A bench/sim session accumulates at most (streaming keys ×
    runs) small sf0.1/sf0.01 results; a sweep session at sf10 a few GB
    in /tmp, all reclaimed at exit.

    The read-back passes the stream's own schema explicitly: a query
    whose result is EMPTY commits a _spark_metadata batch with zero
    data files, and schema inference over a data-less sink dir would
    raise where the memory sink returned an empty, correctly-typed
    table."""
    from mapreduce_6_824_lab1_spark.session import core_partitions

    out = tempfile.mkdtemp(prefix="mr_stream_out_")
    _OUT_SCRATCH.append(out)
    with core_partitions(spark):
        q = (
            df.writeStream.format("parquet")
            .option("path", f"{out}/data")
            .option("checkpointLocation", f"{out}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.schema(df.schema).parquet(f"{out}/data")


def _stamp_mtime(path: str, epoch_s: int) -> None:
    """Pin every file under ``path`` (recursively) to ``epoch_s``.

    FileStreamSource orders the files it discovers by modification time,
    so ``maxFilesPerTrigger=1`` micro-batch order is EXACTLY the staged
    files' mtime order. The staging helpers used to rely on
    ``time.sleep(0.05)`` between writes to separate mtimes — timing-based
    ordering that a coarse-mtime filesystem or clock skew could break
    (round-8 ADVICE: a flush sentinel delivered mid-stream would drop a
    slice from every median). An explicit ``os.utime`` stamp makes the
    order a stated fact instead of a race. Stamps must stay within the
    source's ``maxFileAge`` horizon (default 7 days) of each other, so
    callers derive them from one ``time.time()`` base plus small offsets.
    """
    for p in Path(path).rglob("*"):
        os.utime(p, (epoch_s, epoch_s))


def _stage_event_id_slices(
    df: DataFrame,
    scratch: str,
    keep_cols: list[str] | None = None,
    n: int = 4,
    slice_col: Column | None = None,
) -> None:
    """Write ``df`` as ``n`` event-id-hash slices, one FILE each, so a
    ``maxFilesPerTrigger=1`` file stream delivers exactly ``n``
    micro-batches — the staging recipe shared by the foreachBatch and
    transformWithState keys (state carry-over must span real batch
    boundaries, not one pandas frame). Hash slicing is only valid for
    batch-order-INDEPENDENT operators (as-of enrichment, running
    counts, medians); time-ordered state machines use the sessionizers'
    time-ranged staging (``stateful._stage_time_ranges``) instead.

    Slice ``i`` is mtime-stamped to ``base + 60*i`` (``_stamp_mtime``):
    batch composition AND order are deterministic, and a caller staging
    an extra flush file after these slices stamps it ``base + 3600`` so
    it sorts strictly last.

    ``slice_col`` overrides the slicing expression (default
    ``pmod(event_id, n)``) — a caller feeding a PRE-FILTERED id
    subspace (e.g. only odd event_ids) passes one that still spreads
    rows over all ``n`` residues, or half the slices arrive empty."""
    base = int(time.time())
    if slice_col is None:
        slice_col = F.pmod("event_id", F.lit(n))
    for i in range(n):
        part = df.filter(slice_col == i)
        if keep_cols is not None:
            part = part.select(*keep_cols)
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{scratch}/slice_{i}"
        )
        _stamp_mtime(f"{scratch}/slice_{i}", base + 60 * i)


def _file_stream(
    spark: SparkSession, schema: str | StructType, path: str
) -> DataFrame:
    """File stream over a staged scratch dir, ONE file per micro-batch
    (``maxFilesPerTrigger=1``) in the files' mtime order — the source of
    every staged-batch key. ``recursiveFileLookup`` reaches the part
    files inside each staged ``slice_i``/``batch_i``/``flush`` dir."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


@query("stream_tumbling", oracle=TUMBLING_ORACLE)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 1-hour tumbling counts — literally reuses the batch
    ``tumbling_agg`` transformation, same oracle as ``window_tumbling``."""
    src = _events_stream(spark, sf_dir)
    return _run_to_memory(tumbling_agg(src), spark, mode="complete")


@query(
    "stream_grep",
    oracle=f"""
SELECT event_id, user_id,
       strftime(ts, '{"%Y-%m-%d %H:%M:%S"}') AS ts_s,
       floor((value) * 100 + 0.5) / 100 AS value
FROM events
WHERE event_type = 'error' AND value >= 100
""",
)
def stream_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming filter+project (the paper's distributed grep as a
    stream): append mode, no state, trivially scales to any rate."""
    src = _events_stream(spark, sf_dir)
    out = src.filter((F.col("event_type") == "error") & (F.col("value") >= 100)).select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        hround("value", 2).alias("value"),
    )
    return _run_to_parquet(out, spark)


WATERMARK_DELAY_MIN = 10


@query(
    "stream_tumbling_watermark",
    oracle=f"""
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS cnt,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM events, mx
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= mx.m - INTERVAL {WATERMARK_DELAY_MIN} MINUTE
GROUP BY 1, 2
""",
)
def stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode windowed aggregation with a 10-minute watermark — the
    late-data-bounded form every production stream runs (state for a window
    is dropped once the watermark passes its end; events later than the
    delay are discarded instead of reopening state).

    Under availableNow the final flush batch advances the watermark to
    max(ts) − delay and append emits exactly the finalized windows — so the
    oracle is the batch aggregation restricted to windows whose end ≤ that
    watermark. The exact-equality case (window end == watermark) is a
    documented-ambiguous boundary across Spark releases; it is pinned
    unreachable at every tested SF in tests/test_stream_boundary.py. The
    trailing open window is withheld by design; at 100 TB that bounded
    state (≈ windows/key in flight) is the difference between a stream
    that runs forever and one that OOMs.
    """
    src = _events_stream(spark, sf_dir).withWatermark(
        "ts", f"{WATERMARK_DELAY_MIN} minutes"
    )
    return _run_to_memory(tumbling_agg(src), spark, mode="append")


@query(
    "stream_static_join",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM events
JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live event stream enriched against a static
    dimension (broadcast per micro-batch — the static side is re-resolvable,
    so no state is kept for it). The canonical streaming-enrichment shape;
    the aggregation runs in complete mode on the enriched stream."""
    from pyspark.sql.functions import broadcast

    from mapreduce_6_824_lab1_spark.catalog import load_table

    src = _events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")  # static side
    enriched = src.join(
        broadcast(customer), F.col("user_id") == F.col("c_custkey")
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        hround(F.sum("value"), 2).alias("total_value"),
    )
    return _run_to_memory(agg, spark, mode="complete")


STREAM_JOIN_WINDOW_MIN = 30


@query(
    "stream_stream_join",
    oracle=f"""
SELECT e.event_id AS err_id, p.event_id AS pur_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS err_ts_s
FROM events e
JOIN events p ON e.user_id = p.user_id
WHERE e.event_type = 'error' AND p.event_type = 'purchase'
  AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-range condition: purchases
    within 30 minutes after an error by the same user. Both sides carry
    watermarks — that's what lets the join GC its buffered state once the
    other side can no longer produce matches (the unbounded-state trap of
    naive stream joins). availableNow drains both sides fully, so the
    result equals the batch self-join oracle."""
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pur_id"),
            F.col("user_id").alias("pur_user"),
            F.col("ts").alias("pur_ts"),
        )
        .withWatermark("pur_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("err_user") == F.col("pur_user"))
        & (F.col("pur_ts") > F.col("err_ts"))
        & (
            F.col("pur_ts")
            <= F.col("err_ts") + F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES")
        ),
    ).select(
        "err_id",
        "pur_id",
        F.col("err_user").alias("user_id"),
        F.date_format("err_ts", TS_FMT_SPARK).alias("err_ts_s"),
    )
    return _run_to_parquet(joined, spark)


# ---------------------------------------------------------------------------
# foreachBatch sink — the production pattern for streaming into systems the
# built-in sinks don't cover (and for exactly-once parquet/table writes).
# ---------------------------------------------------------------------------


@query(
    "stream_foreach_batch",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
       count(*) AS cnt,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream purchases into batchId-keyed parquet dirs via foreachBatch.

    Each micro-batch lands in ``batch_<id>/`` with mode=overwrite — the
    canonical idempotent foreachBatch recipe: a retried batch re-runs with
    the SAME id and overwrites its own directory instead of duplicating
    rows, which upgrades at-least-once delivery to exactly-once output.
    The hourly rollup happens on read-back (batch side), so the stream
    itself is stateless append. 100 TB: this is how a stream feeds a
    partitioned lakehouse table without a Delta-style sink — directory-
    per-batch plus an atomic manifest/rename step.
    """
    src = _events_stream(spark, sf_dir)
    purchases = src.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "value"
    )
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_febatch_", ignore_cleanup_errors=True
    ) as scratch:
        def write_batch(bdf: DataFrame, batch_id: int) -> None:
            bdf.write.mode("overwrite").parquet(f"{scratch}/batch_{batch_id}")

        q = (
            purchases.writeStream.foreachBatch(write_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        back = spark.read.option("recursiveFileLookup", "true").parquet(
            scratch
        )
        out = back.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), TS_FMT_SPARK).alias(
                "hour_s"
            )
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        return detach(out)


# ---------------------------------------------------------------------------
# Rate-limited file source — bounding micro-batch size is how a production
# file stream controls end-to-end latency and executor memory: without a
# limit, availableNow's first batch is the ENTIRE backlog (at 100 TB, a
# cluster-killing batch). ``maxFilesPerTrigger`` caps each micro-batch;
# under Trigger.AvailableNow the backlog drains as a sequence of bounded
# batches instead of one unbounded one (this is the documented difference
# from the deprecated Trigger.Once, which ignores source limits).
# ---------------------------------------------------------------------------

RATE_LIMIT_INPUT_FILES = 8
RATE_LIMIT_FILES_PER_TRIGGER = 2


@query(
    "stream_rate_limited",
    oracle="""
SELECT event_type, count(*) AS cnt,
       floor((avg(value)) * 100 + 0.5) / 100 AS avg_value
FROM events
GROUP BY event_type
""",
)
def stream_rate_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a multi-file backlog in bounded micro-batches (complete mode).

    The single events parquet is re-chunked into 8 files in a scratch dir
    so ``maxFilesPerTrigger=2`` yields 4 micro-batches; the complete-mode
    aggregate over the drained stream equals the batch aggregate, so the
    batch oracle checks it exactly. The memory-sink table owns its rows,
    so the scratch input can be removed before returning.
    """
    configure(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")  # ts stays long-ns
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_ratelim_", ignore_cleanup_errors=True
    ) as scratch:
        raw.repartition(RATE_LIMIT_INPUT_FILES).write.mode("overwrite").parquet(
            f"{scratch}/in"
        )
        schema = spark.read.parquet(f"{scratch}/in").schema
        src = normalize_events(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(RATE_LIMIT_FILES_PER_TRIGGER))
            .parquet(f"{scratch}/in")
        )
        agg = src.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            hround(F.avg("value"), 2).alias("avg_value"),
        )
        out = _run_to_memory(agg, spark, mode="complete")
        return detach(out)


@query(
    "stream_sliding_watermark",
    oracle=f"""
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT strftime(base - k * INTERVAL 15 MINUTE, '%Y-%m-%d %H:%M:%S')
           AS window_start,
       event_type,
       count(*) AS cnt,
       floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM (
    SELECT make_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)
               * 1000000) AS base,
           event_type, value
    FROM events
) e, (SELECT unnest([0, 1, 2, 3]) AS k) ks, mx
WHERE base - k * INTERVAL 15 MINUTE + INTERVAL 1 HOUR
      <= mx.m - INTERVAL {WATERMARK_DELAY_MIN} MINUTE
GROUP BY 1, 2
""",
)
def stream_sliding_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode SLIDING windows (1 h / 15 min) under a 10-min watermark.

    Sliding windows multiply state 4× relative to tumbling (every event
    lives in window_len/slide windows), which is exactly why the watermark
    matters more here: without it the stream holds 4× the tumbling state
    forever. Append emits only windows whose END has passed the final
    watermark (max(ts) − delay); the oracle applies the same bound to the
    batch expansion. The window-end == watermark boundary is pinned
    unreachable at tested SFs (tests/test_stream_boundary.py covers the
    15-minute grid too: max(ts) would need to land exactly on second 600
    of a quarter-hour).
    """
    src = _events_stream(spark, sf_dir).withWatermark(
        "ts", f"{WATERMARK_DELAY_MIN} minutes"
    )
    agg = (
        src.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            hround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "cnt",
            "total_value",
        )
    )
    return _run_to_memory(agg, spark, mode="append")


@query(
    "stream_session_window",
    oracle=f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     < INTERVAL 30 MINUTE
                THEN 0 ELSE 1 END AS new_s
    FROM events
),
sess AS (
    SELECT user_id, ts, value,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
agg AS (
    SELECT user_id, min(ts) AS st, max(ts) AS en,
           count(*) AS n_events,
           floor((sum(value)) * 100 + 0.5) / 100 AS total_value
    FROM sess GROUP BY user_id, sid
)
SELECT user_id, strftime(st, '%Y-%m-%d %H:%M:%S') AS session_start,
       n_events, total_value
FROM agg, mx
WHERE en + INTERVAL 30 MINUTE <= mx.m - INTERVAL {WATERMARK_DELAY_MIN} MINUTE
""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native merging-session windows on a stream (append + watermark) —
    the built-in counterpart of ``stream_session_stateful``'s hand-rolled
    applyInPandasWithState sessionizer.

    A session finalizes when the watermark passes its END (last event +
    gap): no in-flight event can extend it, so its state row is emitted
    and dropped — per-key state is bounded by sessions-in-flight, the
    whole point of session windows over an unbounded groupBy. The oracle
    is the batch lag/cumsum sessionization restricted to sessions whose
    end precedes the final watermark (max(ts) − delay); trailing open
    sessions are withheld by design. The end == watermark equality is
    pinned unreachable (µs precision) in tests/test_stream_boundary.py.
    """
    src = _events_stream(spark, sf_dir).withWatermark(
        "ts", f"{WATERMARK_DELAY_MIN} minutes"
    )
    agg = (
        src.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
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
    return _run_to_parquet(agg, spark)


@query(
    "stream_stream_left_outer",
    oracle=f"""
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
-- the join watermark is the MIN of the per-side watermarks, and each side
-- tracks only its own (post-filter) max event time
mx AS (SELECT least((SELECT max(ts) FROM e), (SELECT max(ts) FROM p)) AS m),
matched AS (
    SELECT e.event_id AS err_id, e.user_id, e.ts AS err_ts,
           p.event_id AS pur_id
    FROM e JOIN p ON e.user_id = p.user_id
     AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
),
unmatched AS (
    SELECT e.event_id AS err_id, e.user_id, e.ts AS err_ts,
           CAST(-1 AS BIGINT) AS pur_id
    FROM e, mx
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = e.user_id
          AND p.ts > e.ts
          AND p.ts <= e.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
    )
    AND e.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
        < mx.m - INTERVAL 1 HOUR
)
SELECT err_id, pur_id, user_id,
       strftime(err_ts, '%Y-%m-%d %H:%M:%S') AS err_ts_s
FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
""",
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER time-range join: every error, paired with
    purchases in the next 30 minutes — or emitted once with a null match
    when the watermark PROVES no purchase can still arrive.

    The null-side emission is the part inner joins don't exercise: an
    unmatched left row sits in state until the right-side watermark passes
    its entire match window (err_ts + 30 min), then flushes exactly once.
    Matched rows emit eagerly; the oracle therefore takes ALL matched
    pairs plus unmatched errors whose window closed before the final
    watermark — min of the per-side (post-filter) max event times minus
    the 1 h delay; later unmatched errors are withheld
    by design. Null pur_id is filled with −1 on both engines so the id
    column keeps a stable integer dtype. The window-close == watermark
    µs equality is pinned unreachable in tests/test_stream_boundary.py.
    """
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pur_id"),
            F.col("user_id").alias("pur_user"),
            F.col("ts").alias("pur_ts"),
        )
        .withWatermark("pur_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("err_user") == F.col("pur_user"))
        & (F.col("pur_ts") > F.col("err_ts"))
        & (
            F.col("pur_ts")
            <= F.col("err_ts")
            + F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES")
        ),
        "left_outer",
    ).select(
        "err_id",
        F.coalesce("pur_id", F.lit(-1)).alias("pur_id"),
        F.col("err_user").alias("user_id"),
        F.date_format("err_ts", TS_FMT_SPARK).alias("err_ts_s"),
    )
    return _run_to_parquet(joined, spark)


TOPK_TYPES = 3


@query(
    "stream_topk_complete",
    oracle=f"""
SELECT event_type,
       sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
FROM events
GROUP BY event_type
ORDER BY sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) DESC, event_type
LIMIT {TOPK_TYPES}
""",
)
def stream_topk_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the k highest-volume event types over the whole
    stream, complete mode.

    Ranking needs the FULL aggregate each trigger, which is exactly what
    complete output mode re-emits — the sink always holds the current
    global aggregate, and the top-k cut runs on the sink table (k rows,
    TakeOrderedAndProject). State is one row per group (|event_type|),
    so complete mode is safe here; a high-cardinality key would need the
    append-mode windowed variant instead. Tie-break pinned on event_type
    so both engines cut the same k rows. Values are quantized to integer
    cents PER ROW before summing (as in sql_tpch_q11): a raw double sum
    accumulates in a different order in Spark's incremental streaming
    state than in a batch engine, and a half-cent boundary or two groups
    with near-equal totals could otherwise flip the rank/round between
    engines — the integer sum is exact and order-insensitive.
    """
    src = _events_stream(spark, sf_dir)
    agg = src.groupBy("event_type").agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    sink = _run_to_memory(agg, spark, mode="complete")
    return (
        sink.orderBy(F.desc("cents"), F.asc("event_type"))
        .limit(TOPK_TYPES)
        .select(
            "event_type", (F.col("cents") / 100.0).alias("total_value")
        )
    )


# ---------------------------------------------------------------------------
# Restart / exactly-once across checkpoints — the fault-tolerance contract
# MapReduce's re-execution model provides, in Structured Streaming terms.
# Two SEPARATE query starts share one checkpoint + one file-sink log: the
# first drains half the input, the second (a fresh query object — a
# "restarted job") must resume from the checkpoint, process ONLY the new
# half, and the sink must contain each record exactly once. If the restart
# re-read the backlog, every count in the audit would double and the batch
# oracle would catch it.
# ---------------------------------------------------------------------------


@query(
    "stream_restart_exactly_once",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events
GROUP BY event_type
""",
)
def stream_restart_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split events into two backlog files; run an availableNow parquet-sink
    stream over file 1, terminate it, drop file 2 into the source dir, and
    start a NEW query on the SAME checkpoint. The exactly-once audit is the
    full-table aggregate over the sink — equal to the batch oracle iff the
    restart neither re-processed file 1 nor missed file 2.

    At 100 TB this is the recovery path that makes a streaming ingest
    restartable mid-backlog: the file-source offsets live in the
    checkpoint, the file-sink manifest makes half-written output invisible,
    and both survive the driver's death."""
    configure(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    # no shuffle-partition override: this stream is stateless (no agg, no
    # state store), so the state-partition sizing concern doesn't apply
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_restart_", ignore_cleanup_errors=True
    ) as scratch:
        half = raw.filter(F.col("event_id") % 2 == 0)
        rest = raw.filter(F.col("event_id") % 2 == 1)
        src_dir = f"{scratch}/in"
        half.coalesce(1).write.parquet(src_dir)

        schema = raw.schema
        out_dir, ckpt = f"{scratch}/out", f"{scratch}/ckpt"

        def run_once() -> None:
            stream = (
                spark.readStream.schema(schema)
                .parquet(src_dir)
                .select("event_id", "event_type", "value")
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()  # processes the even half
        # "crash": the first query object is gone; new backlog arrives
        rest.coalesce(1).write.mode("append").parquet(src_dir)
        run_once()  # restarted query resumes from the checkpoint

        sink = spark.read.parquet(out_dir)
        audit = sink.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("value_cents"),
        )
        return detach(audit)


# ---------------------------------------------------------------------------
# Streaming CDC apply — the MERGE that cdc_apply_latest runs once, run
# INCREMENTALLY from a stream of keyed-upsert batches. Without a
# transactional table format the standard recipe is foreachBatch +
# shadow-copy rewrite: each micro-batch unions into the current state and
# rewrites a new state version, latest-wins per key. Latest-wins is an
# associative/commutative max over (o_orderdate, o_orderkey), so the final
# state is independent of batch boundaries and equals the one-shot batch
# MERGE — which is exactly what the shared oracle audits.
# ---------------------------------------------------------------------------


from mapreduce_6_824_lab1_spark.operators.relational import (  # noqa: E402
    CDC_CUTOVER,
    CDC_ORACLE,
)


@query("stream_cdc_apply", oracle=CDC_ORACLE)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream a base-snapshot + keyed-upsert backlog through a foreachBatch
    MERGE: orders before the 1999-01-01 cutover form the initial state;
    later orders arrive as one delta file per calendar year, processed one
    file per micro-batch; every batch compacts (state ∪ batch) to the
    latest row per customer and rewrites the state as a new version
    (shadow copy — the non-transactional stand-in for Delta/Iceberg
    MERGE). The returned audit over the FINAL state must equal the batch
    oracle shared with ``cdc_apply_latest``.

    At 100 TB the per-batch rewrite cost is the known weakness of
    merge-by-rewrite (it is why transactional formats exist); the scale
    notes that stay true here: state and batch co-shuffle once on the
    merge key per batch, the audit never touches raw history, and the
    version chain gives restartability — a crashed batch leaves the prior
    version intact and foreachBatch's batchId makes the rewrite
    idempotent on retry."""
    from pyspark.sql.window import Window

    configure(spark)
    cols = (
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
    )
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet").select(*cols)
    cut = F.lit(CDC_CUTOVER).cast("timestamp")
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_cdc_", ignore_cleanup_errors=True
    ) as scratch:
        state_path = f"{scratch}/state_v0"
        raw.filter(F.col("o_orderdate") < cut).write.parquet(state_path)
        src_dir = f"{scratch}/deltas"
        deltas = raw.filter(F.col("o_orderdate") >= cut)
        for y in sorted(
            r[0]
            for r in deltas.select(F.year("o_orderdate")).distinct().collect()
        ):
            deltas.filter(F.year("o_orderdate") == y).coalesce(1).write.mode(
                "append"
            ).parquet(src_dir)

        current = {"path": state_path}
        latest_w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
        )

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            merged = (
                spark.read.parquet(current["path"])
                .unionByName(bdf.select(*cols))
                .withColumn("rn", F.row_number().over(latest_w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
            new_path = f"{scratch}/state_v{batch_id + 1}"
            # overwrite: a retried batch rewrites the SAME version path,
            # keeping the merge idempotent under foreachBatch redelivery
            merged.write.mode("overwrite").parquet(new_path)
            current["path"] = new_path

        stream = (
            spark.readStream.schema(deltas.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        final = spark.read.parquet(current["path"])
        audit = final.groupBy(
            F.col("o_orderstatus").alias("status")
        ).agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("total_cents"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
                "latest_date"
            ),
            F.sum(
                F.when(F.col("o_orderdate") >= cut, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_from_delta"),
        )
        return detach(audit)


# ---------------------------------------------------------------------------
# Streaming as-of enrichment against a static dimension
# ---------------------------------------------------------------------------

from mapreduce_6_824_lab1_spark.registry import ORACLES as _ORACLES  # noqa: E402


@query("stream_asof_enrich", oracle=_ORACLES["join_asof"])
def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of enrichment: each arriving event is joined to its
    user's latest prior order (static dimension) inside ``foreachBatch`` —
    the standard recipe for enrichment logic Structured Streaming's join
    operators can't express (as-of needs a per-event argmax aggregate,
    which an append-mode stream-static join disallows).

    As-of matching is PER-EVENT independent, so the result is micro-batch-
    invariant by construction: the input is deliberately staged as four
    event-id slices fed one per trigger (maxFilesPerTrigger=1), and the
    union of four per-batch enrichments must equal the one-shot batch
    ``join_asof`` — the oracle IS that operator's oracle, shared verbatim
    from the registry. Each batch writes its own idempotent directory
    (the stream_foreach_batch exactly-once recipe). 100 TB: per batch one
    broadcast-or-shuffle join against the dimension plus an event-grain
    argmax; state never accumulates across batches.

    The result is EVENT-grain (one row per event with a prior order — the
    whole corpus at our fixtures, ~100 M rows at sf10), so per the
    sink-grain ruling it must never ride a driver collect: the per-batch
    parquet output dir joins the ``_OUT_SCRATCH`` exit-time lifecycle and
    the function returns a LAZY read of it (round 8 — this key previously
    escaped the ruling because its whole scratch tree was rmtree'd in
    ``finally``, which forced an eager detach). The input staging slices
    keep the prompt cleanup: a terminated availableNow query has fully
    drained them, and at sf10 they are a corpus-sized disk copy.
    """
    from mapreduce_6_824_lab1_spark.catalog import load_table

    configure(spark)
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")

    def enrich_frame(bdf: DataFrame) -> DataFrame:
        j = bdf.join(
            orders,
            (F.col("user_id") == F.col("o_custkey"))
            & (F.col("o_orderdate") <= F.col("ts")),
        )
        return (
            j.groupBy("event_id")
            .agg(F.max(F.struct("o_orderdate", "o_orderkey")).alias("m"))
            .select(
                "event_id",
                F.col("m.o_orderkey").alias("o_orderkey"),
                F.date_format("m.o_orderdate", "yyyy-MM-dd").alias(
                    "order_day"
                ),
            )
        )

    out = tempfile.mkdtemp(prefix="mr_stream_out_asof_")
    _OUT_SCRATCH.append(out)
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_asofstream_in_", ignore_cleanup_errors=True
    ) as in_scratch:
        _stage_event_id_slices(ev, in_scratch)
        src = _file_stream(spark, ev.schema, in_scratch)

        def enrich(bdf: DataFrame, batch_id: int) -> None:
            enrich_frame(bdf).write.mode("overwrite").parquet(
                f"{out}/data/batch_{batch_id}"
            )

        q = (
            src.writeStream.foreachBatch(enrich)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out}/ckpt")
            .start()
        )
        q.awaitTermination()
    # explicit schema: an all-empty-batch run leaves a data-less out dir
    # where inference would raise (same rationale as _run_to_parquet)
    return (
        spark.read.schema(enrich_frame(ev.limit(0)).schema)
        .option("recursiveFileLookup", "true")
        .parquet(f"{out}/data")
    )


# ---------------------------------------------------------------------------
# Update output mode — emit only CHANGED groups per micro-batch
# ---------------------------------------------------------------------------

UPDATE_MODE_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
GROUP BY 1, 2
"""


@query("stream_update_mode", oracle=UPDATE_MODE_ORACLE)
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the third output semantics next to the
    complete (stream_tumbling) and append+watermark
    (stream_tumbling_watermark) keys already covered: each micro-batch
    emits ONLY the groups that changed, the sink's job is to upsert.

    Fixture recipe: the events table is re-written as 4 hash-split files
    and streamed with ``maxFilesPerTrigger=1``, so the hourly aggregate
    genuinely updates across 4 micro-batches (the memory sink then holds
    one row PER GROUP PER TOUCHING BATCH — more rows than groups, which
    tests/test_round4h.py pins as proof the incremental path ran).
    Counts and integer-cent sums only grow, so the final state is the
    per-group MAX over emissions, audited against the plain batch
    aggregate. At scale update mode is the changelog-to-KV-store
    pattern: sink write volume tracks CHANGED groups per trigger, not
    state size — the reason dashboards upsert instead of replaying
    complete mode's full state."""
    from mapreduce_6_824_lab1_spark.catalog import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(
        prefix="mr_stream_update_", ignore_cleanup_errors=True
    ) as path:
        ev.repartition(4, "event_id").write.mode("overwrite").parquet(path)
        schema = spark.read.parquet(path).schema
        src = normalize_events(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        counts = src.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("total_cents"),
        )
        emissions = _run_to_memory(
            counts.select(
                F.date_format("w.start", TS_FMT_SPARK).alias(
                    "window_start"
                ),
                "event_type",
                "cnt",
                "total_cents",
            ),
            spark,
            mode="update",
        )
        out = emissions.groupBy("window_start", "event_type").agg(
            F.max("cnt").cast("long").alias("cnt"),
            F.max("total_cents").cast("long").alias("total_cents"),
        )
        return detach(out)


# ---------------------------------------------------------------------------
# Stream-stream FULL OUTER join — null emission on BOTH sides
# ---------------------------------------------------------------------------


@query(
    "stream_stream_full_outer",
    oracle=f"""
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
mx AS (SELECT least((SELECT max(ts) FROM e), (SELECT max(ts) FROM p)) AS m),
matched AS (
    SELECT e.event_id AS err_id, p.event_id AS pur_id, e.user_id
    FROM e JOIN p ON e.user_id = p.user_id
     AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
),
unmatched_left AS (
    SELECT e.event_id AS err_id, CAST(-1 AS BIGINT) AS pur_id, e.user_id
    FROM e, mx
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = e.user_id AND p.ts > e.ts
          AND p.ts <= e.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
    )
    AND e.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
        < mx.m - INTERVAL 1 HOUR
),
unmatched_right AS (
    SELECT CAST(-1 AS BIGINT) AS err_id, p.event_id AS pur_id, p.user_id
    FROM p, mx
    WHERE NOT EXISTS (
        SELECT 1 FROM e
        WHERE e.user_id = p.user_id AND p.ts > e.ts
          AND p.ts <= e.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
    )
    AND p.ts < mx.m - INTERVAL 1 HOUR
)
SELECT err_id, pur_id, user_id
FROM (SELECT * FROM matched
      UNION ALL SELECT * FROM unmatched_left
      UNION ALL SELECT * FROM unmatched_right)
""",
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER time-range join — null emission on BOTH
    sides, completing the inner (stream_stream_join) / left-outer
    (stream_stream_left_outer) matrix: unmatched errors flush once the
    right watermark closes their forward window, and unmatched PURCHASES
    flush once the left watermark passes their ts (an error matching a
    purchase must PRECEDE it, so a purchase's entire candidate range is
    in its past — its null row is provable as soon as the watermark
    reaches its own event time, 30 minutes earlier than the symmetric
    left case).

    The oracle takes matched pairs plus each side's unmatched rows whose
    state provably closed before the final min-of-sides watermark;
    boundary-equality unreachability follows the left-outer key's
    µs-precision argument (test_stream_boundary). Null ids fill with −1
    for stable integer dtypes; ts strings are omitted so both null sides
    share one schema.
    """
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pur_id"),
            F.col("user_id").alias("pur_user"),
            F.col("ts").alias("pur_ts"),
        )
        .withWatermark("pur_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("err_user") == F.col("pur_user"))
        & (F.col("pur_ts") > F.col("err_ts"))
        & (
            F.col("pur_ts")
            <= F.col("err_ts")
            + F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES")
        ),
        "full_outer",
    ).select(
        F.coalesce("err_id", F.lit(-1)).alias("err_id"),
        F.coalesce("pur_id", F.lit(-1)).alias("pur_id"),
        F.coalesce("err_user", "pur_user").alias("user_id"),
    )
    return _run_to_parquet(joined, spark)
