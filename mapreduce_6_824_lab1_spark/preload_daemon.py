"""Python-worker daemon with the Arrow lane pre-imported (fork warming).

Spark 4.1's ``PythonWorkerFactory`` reaps idle pooled workers after a
HARD-CODED one minute (``IDLE_WORKER_TIMEOUT_NS = MINUTES.toNanos(1)``
in the factory's static initializer — a constant, not a conf; verified
against this build's bytecode and empirically (SCALING_r12.md): a
32-worker pool sits intact for
60 s idle, then collapses to daemon-only within the next poll). Any
Python-lane stage that starts >60 s after the previous one therefore
pays a full pool rebuild, and the dominant rebuild cost is each fresh
worker importing numpy/pandas/pyarrow (~0.7 s CPU per worker, N× in
parallel) — measured live in WORKER_CENSUS.jsonl session r12n, where
``similarity_knn_clusters`` rebuilt 31 workers inside its own timing.

The fix is the classic pre-fork trick: ``spark.python.daemon.module``
lets the engine supply this module in place of ``pyspark.daemon``. The
daemon process is long-lived (the reaper kills only workers), so
imports done HERE before entering the daemon loop are inherited
copy-on-write by every forked worker — including respawns after the
one-minute reap — turning pool rebuild from N×(interpreter + numpy +
pandas + pyarrow import) into N×fork().

Importing this module as ``__main__`` via ``python -m`` also imports
its parent package first, so the engine's own operator modules (which
worker-side cloudpickle references resolve against) are warmed the
same way for free.

At cluster scale this matters MORE than on local[32]: a 100 TB
pipeline interleaves minutes-long JVM-only stages (joins, shuffles,
scans) with Arrow-lane stages (quality UDFs, embedding math), so every
Arrow stage after a JVM gap lands on a freshly-reaped pool across the
whole fleet — preloading moves that cost to one import per executor
process lifetime.

The tuned session factory (:mod:`.session`) enables this module unless
``SPARK_GRAFT_NO_PRELOAD_DAEMON`` is set: the fallback to stock
``pyspark.daemon`` for deployments where the package is not importable
at worker launch (see :func:`.cluster.cluster_conf`). The driver's own
vanilla sessions are unaffected — this is an engine optimization, not a
correctness path.
"""

from __future__ import annotations

import importlib

# BLAS thread pinning does NOT live here — it CANNOT. The factory's
# launch shape, `python -m mapreduce_6_824_lab1_spark.preload_daemon
# <workerModule>`, imports the parent package __init__ (and, through
# its operator imports, numpy) BEFORE this module body runs, so an env
# pin here executes after OpenBLAS has already sized its 32-thread pool
# (ADVICE r12, verified empirically). The pins live at the top of the
# package __init__ — the first code `python -m` executes — with a
# belt-and-suspenders spark.executorEnv.* copy in cluster.py so cluster
# deployments don't depend on the import-order contract. Why 1 thread
# matters: an uncapped preload hands every forked worker a broken
# 32-thread OpenBLAS server that re-initializes per child — measured
# 97.8 s of pool CPU for similarity_knn_clusters' 31-worker stage vs
# 32.3 s pinned (WORKER_CENSUS.jsonl r12o vs ctlA).

for _mod in ("numpy", "pandas", "pyarrow", "pyarrow.parquet"):
    try:
        importlib.import_module(_mod)
    except ImportError:  # environment without the lib: fork cold, as before
        pass

# ORDER CONTRACT: this import must stay AFTER the warm-up imports above
# (so the daemon loop starts with the libraries resident) and must see
# sys.argv UNTOUCHED — pyspark/daemon.py resolves the worker module
# from sys.argv[1] at MODULE IMPORT time (`python -m <daemonModule>
# <workerModule>` is the factory's launch shape), so the pass-through
# works for any `pyspark.*` worker module Spark chooses, not just
# pyspark.worker.
from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
