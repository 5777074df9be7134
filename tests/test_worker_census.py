"""Worker-pool census helpers in bench.py.

The census is a /proc scan of the ``pyspark.daemon`` process tree;
perfbench/run.py brackets each key with two scans to count the Python
lane's CPU time and worker spawns. These tests pin the delta arithmetic
(pure) and the live-scan contract (shape only — no Spark session is
started here; an empty pool is a valid result).
"""

from __future__ import annotations

import bench


def _w(ppid: int, cpu: float) -> dict:
    return {"ppid": ppid, "cpu_s": cpu}


def test_census_delta_stable_pool():
    w0 = {(10, 100): _w(1, 1.0), (11, 101): _w(10, 2.0)}
    w1 = {(10, 100): _w(1, 1.5), (11, 101): _w(10, 4.0)}
    row = bench._census_delta("k", 1.23, w0, w1)
    assert row["spawned"] == 0 and row["died"] == 0
    assert row["n_before"] == 2 and row["n_after"] == 2
    assert row["pool_cpu_s"] == 2.5  # 0.5 + 2.0


def test_census_delta_respawn_counts_new_worker_cpu():
    # worker (11,101) dies; (12,200) replaces it with 3s of its own CPU —
    # the respawn's CPU must be attributed to the query that paid for it.
    w0 = {(10, 100): _w(1, 1.0), (11, 101): _w(10, 2.0)}
    w1 = {(10, 100): _w(1, 1.5), (12, 200): _w(10, 3.0)}
    row = bench._census_delta("k", 1.0, w0, w1)
    assert row["spawned"] == 1 and row["died"] == 1
    assert row["pool_cpu_s"] == 3.5  # survivor 0.5 + newcomer 3.0


def test_census_delta_pid_reuse_is_not_a_survivor():
    # same PID, different starttime => a different process: the old CPU
    # counter must not be subtracted from the new process's.
    w0 = {(11, 101): _w(10, 50.0)}
    w1 = {(11, 300): _w(10, 1.0)}
    row = bench._census_delta("k", 1.0, w0, w1)
    assert row["spawned"] == 1 and row["died"] == 1
    assert row["pool_cpu_s"] == 1.0


def test_census_delta_none_snapshot_disables():
    assert bench._census_delta("k", 1.0, None, {}) is None
    assert bench._census_delta("k", 1.0, {}, None) is None


def test_live_scan_shape():
    pool = bench._worker_census()
    # off-Linux => None; on Linux => a dict keyed by (pid, starttime)
    if pool is None:
        return
    for (pid, start), info in pool.items():
        assert isinstance(pid, int) and isinstance(start, int)
        assert set(info) == {"ppid", "cpu_s"}

