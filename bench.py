#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: ``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
"load": {"start": [...], "steal_pct": x}}`` (see :func:`compact_record`).

Each query is fully materialized with a noop-format write (all partitions
computed, nothing collected to the driver — the honest way to time a
distributed plan).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_6_824_lab1_spark import QUERIES  # noqa: E402
from mapreduce_6_824_lab1_spark.session import get_spark  # noqa: E402

# Representative cross-section of the operator surface: MapReduce apps,
# star joins, windows, sessionization, dedup, similarity, text analytics.
# Round 2 swap: join_asof -> join_asof_merge (same semantics, union +
# last-ignorenulls plan instead of range-join candidate blow-up; measured
# ~2x faster at sf0.1 and the scale-safe formulation). Totals before/after
# the swap differ by that one slot; the other 14 queries are unchanged.
HEADLINE = [
    "wordcount",
    "inverted_index",
    "distributed_sort",
    "filter_project",
    "agg_hash",
    "join_inner_equi",
    "join_asof_merge",
    "window_analytic",
    "window_session",
    "window_sliding",
    "topk",
    "scalar_json",
    "dedup_ngram_jaccard",
    "similarity_topk",
    "text_tfidf",
]

# Heaviest post-round-2 registry keys, timed separately so regressions in
# the newer operator surface are visible round-over-round WITHOUT changing
# what "value" (the headline total) measures — the judge compares that
# number across rounds on a fixed query set.
EXTENDED = [
    "dedup_chunks",
    "quality_lm_score",
    "timeseries_ffill",
    "timeseries_ewma",
    "chunk_sliding",
    "window_sliding_median",
    "window_rolling_corr",
    "events_path_topk",
    "cdc_apply_latest",
    "customer_rfm",
    "basket_pair_support",
    "dedup_substring_ngrams",
    "partition_range_bounds",
    "timeseries_ohlc",
    "table_expectations",
    "events_chi_square",
    "pipeline_pretraining_corpus",
    "embedding_gram_matrix",
    "text_bm25_ranking",
    "events_max_concurrency",
    "interval_union_length",
    "agg_weighted_percentile",
    "similarity_knn_graph",
    "cohort_revenue_ltv",
    "supplier_scorecard",
    # round 5: the iterative heavies (loop-structured plans, the ones a
    # regression in scoped shuffle confs or checkpointing shows up in first)
    "similarity_knn_clusters",
    "graph_bfs_frontier",
    # round 6: the three operators the scale sweep forced a rewrite of
    # (block-decomposed pair join, pinned-width bucket exchange,
    # bucket-argmin sampling) — benched so the rewrites stay guarded
    "similarity_join",
    "dedup_embedding",
    "sample_contrastive_negatives",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_stat_sample() -> tuple[int, int] | None:
    """(total_jiffies, steal_jiffies) from the aggregate /proc/stat cpu
    line, or None off-Linux. Two samples bracketing the session give the
    steal fraction DURING the run — the hypervisor-contention signal
    loadavg cannot see (steal only appears under parallel demand)."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError, IndexError):
        return None
    if len(vals) < 8:
        return None
    return sum(vals), vals[7]


def _steal_pct(
    start: tuple[int, int] | None, end: tuple[int, int] | None
) -> float | None:
    if start is None or end is None:
        return None
    dt, ds = end[0] - start[0], end[1] - start[1]
    if dt <= 0:
        return None
    return round(100.0 * ds / dt, 2)


def _worker_census() -> dict[tuple[int, int], dict] | None:
    """Snapshot the Python worker pool: ``{(pid, starttime): {"ppid",
    "cpu_s"}}`` for every live ``pyspark.daemon`` process (the daemon plus
    its forked workers — both carry ``python -m pyspark.daemon`` in
    cmdline; the daemon is the one whose parent is the JVM, workers are
    its children). Keyed by (pid, starttime) so PID reuse can't alias a
    respawned worker to a dead one. Returns None off-Linux. ~2 ms per
    scan. perfbench/run.py reads it for the Python lane's CPU time and
    worker spawns."""
    import glob  # noqa: PLC0415

    pool: dict[tuple[int, int], dict] = {}
    try:
        hz = os.sysconf("SC_CLK_TCK")
    except (AttributeError, ValueError, OSError):
        return None
    for path in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(path, "rb") as fh:
                cmdline = fh.read()
            # stock daemon: `python -m pyspark.daemon pyspark.worker`;
            # the engine's preload daemon replaces the module but keeps
            # the worker-module argument, so match EITHER token — a
            # daemon-module-only match silently censuses nothing under
            # the custom daemon (found the hard way in the first A/B).
            if b"pyspark.daemon" not in cmdline and b"pyspark.worker" not in cmdline:
                continue
            pid = int(path.split("/")[2])
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except (OSError, ValueError, IndexError):
            continue  # process died mid-scan — it shows up as "died"
        # comm (field 2) may embed spaces/parens: parse after last ')'
        after = stat.rsplit(")", 1)[1].split()
        pool[(pid, int(after[19]))] = {
            "ppid": int(after[1]),
            "cpu_s": round((int(after[11]) + int(after[12])) / hz, 2),
        }
    return pool


def _census_delta(
    key: str,
    sec: float,
    w0: dict[tuple[int, int], dict] | None,
    w1: dict[tuple[int, int], dict] | None,
) -> dict | None:
    """Per-query pool-composition delta from two census snapshots."""
    if w0 is None or w1 is None:
        return None
    spawned = [k for k in w1 if k not in w0]
    survivors = [k for k in w1 if k in w0]
    cpu_deltas = [w1[k]["cpu_s"] - w0[k]["cpu_s"] for k in survivors]
    return {
        "key": key,
        "sec": sec,
        "n_before": len(w0),
        "n_after": len(w1),
        "spawned": len(spawned),
        "died": sum(1 for k in w0 if k not in w1),
        "pool_cpu_s": round(sum(cpu_deltas) + sum(w1[k]["cpu_s"] for k in spawned), 2),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Session load context (round-9 ask #5): the 1-min loadavg at bench
    # START is the executable form of the "never bench within ~2 min of a
    # heavy pytest/sim block" rule — after a 32-thread block, load1 decays
    # e^-t/min, so ~2 min settled corresponds to load1 <= ~4 on this box.
    # bench_guard.py reads this field and annotates (never fails) sessions
    # taken in a non-settled window, so floor evidence is self-describing.
    # steal% over the whole session window is the EXTERNAL half of the
    # story: hypervisor contention slows every query uniformly while
    # loadavg stays low (the r10a artifact — 2.2x across 45 queries on a
    # "settled" start; inputs are 17 MB, so cache coldness was immaterial).
    load_start = os.getloadavg()
    cpu_start = _cpu_stat_sample()

    spark = get_spark(app_name="mr-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM once so per-query times measure the plans, not
    # first-touch costs: the first query otherwise pays for loading and
    # JIT-ing Spark's own machinery (parquet reader, shuffle writer, codegen
    # compiler, window exec, noop sink) on top of its own work. Exercise
    # each engine path on the two tiny dimension tables (<3 KB).
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.window import Window  # noqa: PLC0415

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    warm = (
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select(F.explode(F.split("n_name", "_")).alias("w"), "n_nationkey")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"), F.max("n_nationkey").alias("m"))
        .withColumn("r", F.row_number().over(Window.orderBy("w")))
        .orderBy("c", "w")
    )
    materialize(warm)

    # Warm the Arrow/Python lane the same way: the first pandas-batched
    # operator in a session otherwise pays worker-pool spin-up + per-worker
    # numpy/pandas import + Arrow serializer first-touch (~2.5 s measured,
    # round 6) on top of its own work. One tiny mapInPandas over the
    # 25-row nation table absorbs it — same rationale as the JVM warm-up
    # above: per-query times should measure the plans, not cold machinery.
    def _warm_pandas(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            yield pd.DataFrame(
                {"n": [int(np.int64(len(pdf)))]}
            )

    materialize(
        nation.select("n_nationkey").mapInPandas(_warm_pandas, "n long")
    )

    # Per-query steal attribution (round 10, session r10i lesson): the
    # contention that slows a session is BURSTY — a session-average
    # dilutes it, and a guard trip on one query can't be attributed
    # after the fact. Bracketing each query with /proc/stat samples
    # (~µs each) records which queries ran under external contention,
    # so bench_guard.py can annotate a trip with the burst.
    query_steal: dict[str, float] = {}

    def timed(key: str, sink: dict[str, float]) -> None:
        c0 = _cpu_stat_sample()
        t0 = time.perf_counter()
        materialize(QUERIES[key](spark, sf_dir))
        sink[key] = round(time.perf_counter() - t0, 3)
        s = _steal_pct(c0, _cpu_stat_sample())
        if s is not None:
            query_steal[key] = s

    times: dict[str, float] = {}
    for key in HEADLINE:
        timed(key, times)

    ext_times: dict[str, float] = {}
    for key in EXTENDED:
        timed(key, ext_times)

    total = round(sum(times.values()), 3)
    load_end = os.getloadavg()
    record = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "extended": ext_times,
        "extended_total": round(sum(ext_times.values()), 3),
        "sf": sf,
        "load": {
            "start": [round(x, 2) for x in load_start],
            "end": [round(x, 2) for x in load_end],
            "steal_pct": _steal_pct(cpu_start, _cpu_stat_sample()),
            "query_steal_pct": query_steal,
        },
    }
    _append_ledger(record)
    print(json.dumps(compact_record(record)))


def compact_record(record: dict) -> dict:
    """The record's final stdout line. The driver captures only the TAIL
    of stdout (round 14 lost its round-over-round comparison because
    round 13's full record, grown by diagnostics, truncated mid-JSON at
    the capture bound), so this keeps the metric/value/queries/extended
    entries as always plus one small host-load scalar: load1/5/15 at
    start and the session's steal%. The per-query steal map and the end
    load live only in the BENCH_SESSIONS.jsonl ledger line."""
    compact = {
        k: record[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "extended",
            "extended_total",
            "sf",
        )
    }
    load = record["load"]
    compact["load"] = {"start": load["start"], "steal_pct": load["steal_pct"]}
    return compact


def _append_ledger(record: dict) -> None:
    """Append the session record to BENCH_SESSIONS.jsonl (round-10 verdict
    ask #8: one growing ledger instead of a loose file per session).
    The stdout contract above is unchanged — the ledger is evidence for
    tools/floor_medians.py and tools/bench_guard.py, which read it via
    --ledger; loose BENCH_LOCAL_r*.json files from earlier rounds stay
    readable by both tools. ``SPARK_GRAFT_SESSION_LABEL`` names the entry
    (e.g. r11b); otherwise the timestamp identifies it. Best-effort: a
    read-only checkout must not fail the bench."""
    entry = dict(record)
    entry["ts"] = round(time.time(), 1)
    label = os.environ.get("SPARK_GRAFT_SESSION_LABEL")
    if label:
        entry["label"] = label
    path = os.environ.get("SPARK_GRAFT_BENCH_LEDGER") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SESSIONS.jsonl"
    )
    try:
        with open(path, "a") as fh:
            fh.write(json.dumps(entry) + "\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()
