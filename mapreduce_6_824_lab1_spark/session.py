"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the config choices below are the ones that
matter at cluster scale (AQE re-planning, skew-join splitting, partition
coalescing) and are harmless locally. The driver may hand us an arbitrary
session, so anything correctness-critical (session time zone) is *also*
re-applied per-query in :mod:`catalog` via runtime conf.
"""

from __future__ import annotations

import os
import warnings
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable confs that correctness depends on. Applied both at session
# build time and defensively on driver-supplied sessions (catalog.configure).
RUNTIME_CONFS: dict[str, str] = {
    # Oracle parity: DuckDB timestamps are naive; pin Spark to UTC so
    # timestamp arithmetic and formatting agree (SURVEY.md §7.3c).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting and
    # broadcast-join demotion/promotion. Core of the 100 TB story — the
    # static shuffle.partitions number only sets the upper bound.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (toPandas, mapInPandas batches).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS) which Spark's TimestampType (µs)
    # cannot hold; read nanos as raw longs and convert in catalog.load_table
    # (ns div 1000 == DuckDB's ns→µs truncation, keeping oracle parity).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = "2000"


def get_spark(
    app_name: str = "mapreduce-6-824-lab1-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Codegen class cache (STATIC conf — must be set at build time).
        # The 100-entry default thrashes under a many-query session: one
        # 45-key bench session generates several hundred distinct sources,
        # so by the time an iterative key re-plans a shape it compiled
        # minutes ago the entry is evicted and Janino + the JVM JIT pay
        # again (measured round 15: a WARM re-run of similarity_knn_clusters
        # recompiled 27-69 sources whose text was bit-identical to the
        # first run's — OPTIMIZATION_r15.md; census jit_ms 6-10 s
        # inside that one bracket). 2000 entries holds a whole session's
        # working set; the same default-100 eviction happens per executor
        # JVM on a real cluster, where executors are long-lived and the
        # benefit compounds. Scale-independent.
        .config(CODEGEN_CACHE_CONF, CODEGEN_CACHE_ENTRIES)
    )
    if not os.environ.get("SPARK_GRAFT_NO_PRELOAD_DAEMON"):
        # the daemon resolves the module via PYTHONPATH/cwd, not the
        # driver's sys.path — pin the repo root into the env the JVM
        # (and thus the daemon) inherits, so tuned sessions work from
        # any cwd. No-op if the JVM is already up (getOrCreate reuse).
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pp = os.environ.get("PYTHONPATH", "")
        if pkg_root not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + (os.pathsep + pp if pp else "")
            )
        # Fork-warm the Python worker pool: Spark's idle reaper kills
        # pooled workers after a hard-coded 1 minute, so every Arrow
        # stage after a JVM-only gap rebuilds the pool; a daemon that
        # pre-imports numpy/pandas/pyarrow makes each rebuild a bare
        # fork() instead of N full library imports (see preload_daemon).
        # The daemon process inherits this driver's environment in
        # local mode; on a cluster, ship the package and PYTHONPATH via
        # the usual executorEnv/archives channel.
        builder = builder.config(
            "spark.python.daemon.module",
            "mapreduce_6_824_lab1_spark.preload_daemon",
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate on a JVM that already runs a session keeps that
    # session's static confs and only logs it; make the gap visible.
    got = spark.conf.get(CODEGEN_CACHE_CONF)
    if got != CODEGEN_CACHE_ENTRIES:
        warnings.warn(
            f"static conf {CODEGEN_CACHE_CONF} is {got!r}, not the "
            f"requested {CODEGEN_CACHE_ENTRIES!r}: the SparkSession "
            "already running in this JVM kept its own value",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set runtime SQL confs for a block, restoring prior values on exit
    (unset keys are re-unset). The one shared implementation of the
    save/set/restore pattern — operators and tests must use this rather
    than hand-rolling the None-means-unset bookkeeping."""
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def core_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to one wave of cores
    (``defaultParallelism``) for a block — the sizing rule for shuffles
    whose state is small next to the corpus: streaming state stores,
    and the per-round shuffles of iterative loops (BFS frontier,
    PageRank ranks, k-means assignments).

    - Each shuffle partition costs a fixed amount per task, whatever it
      holds: a task launch, and for a stateful stream a state-store
      load and commit per micro-batch (plus a Python worker round-trip
      under ``applyInPandasWithState``). On node-, centroid- or
      aggregate-grain state that fixed cost dominates, so more than one
      wave of tasks only adds idle work (``stream_tumbling``: ~0.05
      CPU-s per state partition per run on 4 cores). An untuned
      200-partition default is 200 such tasks per round.
    - A streaming query freezes its state partitioning into the
      checkpoint at first start; changing it later means rebuilding the
      state. So size it once, from the parallelism the query runs on,
      never from the session default.

    Shuffles whose volume scales with the data size themselves from it
    instead (``connected_components`` sizes its loop from the pair
    count)."""
    cores = spark.sparkContext.defaultParallelism
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(cores)}):
        yield
