"""Fork-warmed Python worker daemon (session.py + preload_daemon.py).

Spark 4.1 reaps idle pooled workers after a hard-coded minute
(PythonWorkerFactory.IDLE_WORKER_TIMEOUT_NS — measured live, see
SCALING_r12.md: 33 → 1 processes between t=60 s and t=70 s idle), so every Arrow stage after a JVM-only gap rebuilds the
pool. The tuned session routes worker forking through
``preload_daemon``, which imports numpy/pandas/pyarrow (and, via its
``-m`` parent-package import, the engine itself) once in the
long-lived daemon so respawned workers inherit them copy-on-write.

These tests pin (a) the conf is wired, (b) forked workers REALLY
inherit the modules — observed from inside a plain RDD task, which
never imports numpy on its own, so inheritance is the only way the
probe can see it — and (c) the Arrow lane computes correctly through
the custom daemon.
"""

from __future__ import annotations

import os

import pytest


def test_daemon_module_conf_is_wired(spark):
    if os.environ.get("SPARK_GRAFT_NO_PRELOAD_DAEMON"):
        pytest.skip("preload daemon explicitly disabled for this run")
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "mapreduce_6_824_lab1_spark.preload_daemon"
    )


def test_forked_workers_inherit_preloaded_modules(spark):
    if os.environ.get("SPARK_GRAFT_NO_PRELOAD_DAEMON"):
        pytest.skip("preload daemon explicitly disabled for this run")

    def probe(_it):
        import sys  # noqa: PLC0415

        yield (
            "numpy" in sys.modules,
            "pandas" in sys.modules,
            "pyarrow" in sys.modules,
            "mapreduce_6_824_lab1_spark" in sys.modules,
        )

    # a plain (non-Arrow) RDD task imports none of these itself: True
    # here can only come from the daemon's pre-import surviving the fork
    rows = (
        spark.sparkContext.parallelize(range(4), 4)
        .mapPartitions(probe)
        .collect()
    )
    assert rows and all(r == (True, True, True, True) for r in rows)


def test_arrow_lane_correct_through_custom_daemon(spark):
    df = spark.range(0, 10000, 1, 4)

    def f(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            yield pd.DataFrame({"s": [int(pdf["id"].sum())]})

    got = (
        df.mapInPandas(f, "s long").groupBy().sum("s").collect()[0][0]
    )
    assert got == 10000 * 9999 // 2


def test_forked_workers_have_single_threaded_blas(spark):
    if os.environ.get("SPARK_GRAFT_NO_PRELOAD_DAEMON"):
        pytest.skip("preload daemon explicitly disabled for this run")

    def probe(_it):
        import os as _os  # noqa: PLC0415

        import numpy as np  # noqa: PLC0415

        a = np.random.rand(64, 64)
        _ = a @ a  # force BLAS server init if it were going to happen
        yield (
            _os.environ.get("OPENBLAS_NUM_THREADS"),
            len(_os.listdir("/proc/self/task")),
        )

    rows = (
        spark.sparkContext.parallelize(range(2), 2)
        .mapPartitions(probe)
        .collect()
    )
    # uncapped, this numpy build spawns its full 32-thread OpenBLAS pool
    # AT IMPORT (the r12o fork-storm: 97.8 s pool CPU vs 32.3 control);
    # capped, a worker stays a handful of threads even after a gemm
    for env_val, n_threads in rows:
        assert env_val == "1"
        assert n_threads <= 8, f"worker running {n_threads} threads"


def test_preload_module_importable_and_degrades_without_libs():
    # import must never raise even if an optional lib is missing — the
    # try/except ladder forks cold instead of failing the daemon
    import importlib  # noqa: PLC0415

    mod = importlib.import_module(
        "mapreduce_6_824_lab1_spark.preload_daemon"
    )
    assert hasattr(mod, "manager")


def test_blas_pins_execute_before_numpy_loads_in_daemon_import_order():
    """ADVICE r12 (medium): the pins MUST run before anything in the
    package imports numpy. The daemon launch shape is `python -m
    mapreduce_6_824_lab1_spark.preload_daemon`, which imports the parent
    package __init__ first — so the pins live at the very top of
    __init__, before the operator imports that pull in numpy. Verified
    here empirically in a fresh interpreter with the env scrubbed: if
    the pin ran late, this box's OpenBLAS 0.3.23 would have already
    spawned its full 32-thread pool at numpy import."""
    import json  # noqa: PLC0415
    import subprocess  # noqa: PLC0415
    import sys  # noqa: PLC0415

    code = (
        "import os, json, sys\n"
        "import mapreduce_6_824_lab1_spark.preload_daemon\n"
        "print(json.dumps({\n"
        "    'env': os.environ.get('OPENBLAS_NUM_THREADS'),\n"
        "    'omp': os.environ.get('OMP_NUM_THREADS'),\n"
        "    'numpy_loaded': 'numpy' in sys.modules,\n"
        "    'n_threads': len(os.listdir('/proc/self/task')),\n"
        "}))\n"
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if k
        not in (
            "OPENBLAS_NUM_THREADS",
            "OMP_NUM_THREADS",
            "MKL_NUM_THREADS",
            "NUMEXPR_NUM_THREADS",
        )
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        check=True,
        timeout=120,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["env"] == "1" and got["omp"] == "1"
    # the package import pulls numpy in (operators need it) — the point
    # is the pin preceded it, observable as a near-single-thread process
    assert got["numpy_loaded"] is True
    assert got["n_threads"] <= 8, f"OpenBLAS pool escaped the pin: {got}"


def test_cluster_conf_honors_no_preload_daemon_switch(monkeypatch):
    """ADVICE r12 (low): the cluster profile must offer the same
    SPARK_GRAFT_NO_PRELOAD_DAEMON escape as session.get_spark, so a
    fleet where the package is not importable at worker launch can fall
    back to stock pyspark.daemon without code edits."""
    from mapreduce_6_824_lab1_spark.cluster import cluster_conf

    monkeypatch.delenv("SPARK_GRAFT_NO_PRELOAD_DAEMON", raising=False)
    on = cluster_conf()
    assert (
        on["spark.python.daemon.module"]
        == "mapreduce_6_824_lab1_spark.preload_daemon"
    )
    # the executor-env BLAS pins ride along regardless of the daemon
    for var in ("OPENBLAS", "OMP", "MKL", "NUMEXPR"):
        assert on[f"spark.executorEnv.{var}_NUM_THREADS"] == "1"

    monkeypatch.setenv("SPARK_GRAFT_NO_PRELOAD_DAEMON", "1")
    off = cluster_conf()
    assert "spark.python.daemon.module" not in off
    assert off["spark.executorEnv.OPENBLAS_NUM_THREADS"] == "1"
