"""Cluster-scale configuration profile — the 100 TB deployment story.

Local runs (``session.get_spark``) only need the correctness-critical conf.
On a real cluster (≈1000 executors scanning ~100 TB), the knobs below are
the ones that decide whether the plans in this engine behave as designed.
``cluster_conf()`` returns the profile; ``apply_cluster_profile`` sets the
runtime-settable subset on an existing session (static ones must go on
``spark-submit``).

Rationale per knob (sources: Spark tuning docs + the plan shapes in
PLANS.md):

- shuffle partitions: AQE coalesces DOWN from this cap, never up — so set
  it to ~2-3× total cores and let runtime statistics shrink it per stage.
- maxPartitionBytes 256m: at 100 TB, 128m splits → 800k scan tasks; 256m
  halves scheduler pressure while staying within executor memory for the
  columnar batches this engine produces (narrow projections, see PLANS.md).
- advisoryPartitionSizeInBytes 128m: post-shuffle target AQE coalesces to;
  matches the map-side partial-agg output profile of the groupBy-heavy
  queries here.
- skew-join thresholds: every fact-fact join in this engine is either
  pre-salted (join_skew_salted) or relies on AQE's split — 256m/5×median
  catches the Zipfian keys of events/documents workloads.
- broadcast threshold 64m: region/nation/supplier/customer stay broadcast
  at sf≤1000 for the star joins; beyond that AQE demotes automatically.
- speculation: the lab's 10-second straggler re-issue (MIT 6.824 Lab 1
  coordinator semantics) maps to speculative execution — same idea,
  quantile-triggered.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: conf that must be set before the JVM/session starts (spark-submit --conf)
STATIC_CLUSTER_CONF: dict[str, str] = {
    "spark.executor.memory": "24g",
    "spark.executor.cores": "8",
    "spark.executor.memoryOverhead": "4g",
    "spark.speculation": "true",
    "spark.speculation.quantile": "0.9",
    "spark.speculation.multiplier": "2",
    "spark.sql.shuffle.partitions": "16000",  # ~2x cores for 1000×8 cluster
    "spark.shuffle.service.enabled": "true",
    "spark.dynamicAllocation.enabled": "true",
    # Fork-warmed Python workers (see preload_daemon.py): Spark's
    # hard-coded 1-minute idle reap empties every executor's worker pool
    # during JVM-only stages, so on a 1000-executor pipeline every Arrow
    # stage after a shuffle-heavy gap pays 8×(interpreter+numpy/pandas/
    # pyarrow import) PER EXECUTOR. The preload daemon makes respawn a
    # bare fork. Ship the package via --py-files/archives; PYTHONPATH
    # must reach it in the executor env — if it cannot, disable via
    # SPARK_GRAFT_NO_PRELOAD_DAEMON (cluster_conf() drops this key, same
    # switch session.get_spark honors) or override the conf to
    # `pyspark.daemon` at submit time; otherwise every worker launch
    # fails fleet-wide on the import.
    "spark.python.daemon.module": "mapreduce_6_824_lab1_spark.preload_daemon",
    # One BLAS thread per worker, enforced in the EXECUTOR env rather
    # than by import-order tricks: the package __init__ setdefaults
    # these before importing numpy (the daemon launch imports it first),
    # but executorEnv is the channel that cannot be defeated by a
    # pre-imported numpy or an unexpected daemon environment (ADVICE
    # r12). A worker owns one task slot; 8 workers × N BLAS threads
    # oversubscribes the executor.
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    "spark.executorEnv.NUMEXPR_NUM_THREADS": "1",
}

#: runtime-settable conf (spark.conf.set on a live session)
RUNTIME_CLUSTER_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.files.maxPartitionBytes": "256m",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
}


#: Structured Streaming state-store profile for the stream_* surface.
#: Rationale:
#: - RocksDB provider: the default in-memory HDFS-backed store holds every
#:   key in executor heap — a sessionizer over 10⁹ users OOMs; RocksDB
#:   spills to local SSD and bounds heap by block cache, the supported
#:   store for transformWithState.
#: - changelog checkpointing: uploads per-batch deltas instead of full
#:   RocksDB snapshots — checkpoint cost tracks update rate, not total
#:   state size (decisive once state ≫ batch).
#: - unloadOnCommit=false + maintenance interval: keep stores cached
#:   between batches; compaction happens off the critical path.
#: - shuffle partitions are FROZEN into the state layout at first start
#:   (session.core_partitions carries the local rule: one wave of cores) —
#:   size to target steady-state parallelism before the first checkpoint,
#:   because changing it later means rebuilding state.
STREAMING_CLUSTER_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
    "spark.sql.streaming.stateStore.maintenanceInterval": "60s",
    "spark.sql.streaming.noDataMicroBatches.enabled": "true",
    # Session-window map-side pre-merge: sorts each input partition by
    # (key, start) and merges overlapping sessions BEFORE the stateful
    # shuffle. Measured r14 (SCALING_r14.md, identity-verified,
    # deterministic rate-micro-batch batches, interleaved both
    # orders): on local[32] the extra sort LOSES ~4-10% per batch because
    # the in-memory shuffle it saves is nearly free — so the engine's
    # local default stays off. On a network-shuffle cluster the same
    # workload shape (hundreds of rows per user-session per batch;
    # 10M-row batches collapsed ~125x here) makes shuffle volume the
    # dominant term, which is the regime this profile targets — hence on
    # HERE and off in session.py. Workloads with ~1 row per session per
    # partition get no collapse and only pay the sort: leave it off.
    "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition": (
        "true"
    ),
}


#: Arrow/Python-lane profile for the sanctioned pandas operators
#: (embedding_gram_matrix's partial-Gram fold, the multimodal decode
#: plumbing, udaf_mad_pandas/pandas_normalize). Rationale:
#: - worker reuse (the default, pinned here as load-bearing): the first
#:   pandas-batched operator in a session pays worker spin-up + numpy
#:   import + Arrow serializer first-touch (~2.5 s measured at round 6,
#:   bench.py warms it deliberately); long-lived executors amortize it to
#:   zero only while reuse stays on.
#: - maxRecordsPerBatch 10k (default, pinned): bounds the Arrow batch a
#:   UDF sees. Operators here must NOT size their memory to it —
#:   _partial_gram chunks its n×d×d tensor internally to ~64 MB
#:   regardless of batch size; new pandas operators should follow that
#:   pattern rather than trusting this knob.
#: - executor.pyspark.memory: caps each Python worker so a pandas
#:   operator that materializes a batch-sized intermediate cannot evict
#:   the JVM's shuffle/storage memory on shared executors.
PYTHON_CLUSTER_CONF: dict[str, str] = {
    "spark.python.worker.reuse": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.executor.pyspark.memory": "4g",
}


def cluster_conf() -> dict[str, str]:
    """The full 100 TB profile (static + runtime + streaming + Python).

    Honors ``SPARK_GRAFT_NO_PRELOAD_DAEMON`` exactly like
    :func:`..session.get_spark`: when set, the fork-warming daemon conf
    is omitted so environments where the package is not importable at
    worker launch (mis-shipped --py-files, stripped executor image) can
    fall back to stock ``pyspark.daemon`` without editing code.
    """
    conf = {
        **STATIC_CLUSTER_CONF,
        **RUNTIME_CLUSTER_CONF,
        **STREAMING_CLUSTER_CONF,
        **PYTHON_CLUSTER_CONF,
    }
    if os.environ.get("SPARK_GRAFT_NO_PRELOAD_DAEMON"):
        conf.pop("spark.python.daemon.module", None)
    return conf


def apply_cluster_profile(spark: SparkSession) -> list[str]:
    """Apply the runtime-settable subset; returns the keys that could not be
    set (static conf — must be provided at submit time)."""
    failed: list[str] = []
    for k, v in RUNTIME_CLUSTER_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            failed.append(k)
    return failed
