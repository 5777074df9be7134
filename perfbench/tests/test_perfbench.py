"""Tests for the benchmark's own code.

Fast tests cover spans, pass statistics, the metric catalogue, the inputs
and the exit code.  The tests marked ``spark`` start a local session; the smoke test
runs every workload end to end in both modes.

Run from the repo root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
BENCH_DIR = HERE.parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

import run  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


# -- spans ------------------------------------------------------------------
def test_covered_merges_overlaps_and_clips():
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert spans.covered([(1, 9), (2, 3)], 0, 10) == 8


def test_self_time_on_hand_made_tree():
    t = spans.Trace()
    key = t.add("key", 0.0, 10.0)
    build = t.add("build", 0.0, 3.0, key)
    t.add("plan", 3.0, 4.0, key)
    ex = t.add("exec", 4.0, 9.5, key)
    t.add("job 0", 0.5, 1.5, build)
    j1 = t.add("job 1", 4.5, 6.0, ex)
    t.add("job 2", 5.5, 8.0, ex)  # overlaps job 1: counted once
    t.add("stage 3", 4.6, 5.9, j1)
    assert t.self_time(key) == pytest.approx(0.5)
    assert t.self_time(build) == pytest.approx(2.0)
    assert t.self_time(ex) == pytest.approx(5.5 - 3.5)
    assert t.self_time(j1) == pytest.approx(1.5 - 1.3)
    assert t.children(key) == [build, build + 1, ex]


# -- pass statistics ------------------------------------------------------------
def test_trend_pct_sign_and_flat():
    assert run.trend_pct([5.0, 5.0, 5.0, 5.0]) == 0
    assert run.trend_pct([5.0, 4.0, 3.0]) == pytest.approx(-25.0)
    assert run.trend_pct([3.0, 4.0, 5.0]) == pytest.approx(25.0)


def test_pass_orders_follow_the_seed():
    keys = WORKLOADS["lab_relational"]
    a, b, c = run.pass_orders(keys, 1), run.pass_orders(keys, 1), run.pass_orders(keys, 2)
    first = [next(a) for _ in range(3)]
    assert first == [next(b) for _ in range(3)]
    assert first != [next(c) for _ in range(3)]
    assert all(sorted(o) == sorted(keys) for o in first)


def test_cpu_between_counts_new_workers_whole():
    """JVM + driver CPU delta, plus each worker's delta; a worker that started
    in between counts whole, one that ended is dropped."""
    a = (10.0, {(1, 100): {"cpu_s": 1.0}, (2, 200): {"cpu_s": 2.0}})
    b = (12.5, {(1, 100): {"cpu_s": 1.5}, (3, 300): {"cpu_s": 0.25}})
    assert run.cpu_between(a, b) == pytest.approx(2.5 + 0.5 + 0.25)
    assert run.cpu_between(a, a) == 0


# -- metric catalogue -------------------------------------------------------
def test_metric_names_and_units_are_well_formed():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25, m
    assert "setup_s" in names


def test_workloads_match_benchmark_json_and_registry():
    from mapreduce_6_824_lab1_spark import QUERIES

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    for keys in WORKLOADS.values():
        assert len(set(keys)) == len(keys)
        assert set(keys) <= set(QUERIES)


# -- inputs -----------------------------------------------------------------
def test_inputs_are_the_sf0001_fixtures():
    """One file per table the package loads, with FIXTURES.md's sf0.001 row
    counts, each unchanged since it was copied (SHA256SUMS)."""
    from mapreduce_6_824_lab1_spark.catalog import TABLES

    sums = dict(
        reversed(line.split()) for line in (run.FIXTURES / "SHA256SUMS").read_text().splitlines()
    )
    assert sorted(sums) == sorted(f"{t}.parquet" for t in TABLES)
    for name, digest in sums.items():
        assert hashlib.sha256((run.FIXTURES / name).read_bytes()).hexdigest() == digest, name
    rows = {t: pq.ParquetFile(run.FIXTURES / f"{t}.parquet").metadata.num_rows for t in TABLES}
    assert rows == {
        "region": 5, "nation": 25, "supplier": 10, "part": 200, "customer": 150,
        "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500,
        "embeddings": 500,
    }


# -- entry point ------------------------------------------------------------
def test_fails_without_the_repo(tmp_path):
    """In a directory with only BENCHMARK.json and perfbench/, the command
    exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lab_relational",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_a_failed_key_fails_the_run(monkeypatch, capsys):
    """A run in which a key failed exits non-zero, so a pass that lost a key
    cannot pass for a faster one."""

    class Failed:
        attempted, failed, errors = 10, 1, ["topk: boom"]

    e2e = {name: 1.0 for name in run.load_metrics()["end_to_end"]}
    fake = {"e2e": e2e, "diag": {}, "passes": [{"wall": 1.0, "cpu": 1.0}], "bench": Failed()}
    monkeypatch.setattr(run, "run", lambda *a: fake)
    argv = ["--workload", "lab_relational", "--seed", "1", "--seconds", "1"]
    assert run.main(argv) == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["correct"] is False and out["failed"] == 1


# -- with a live session ----------------------------------------------------
@pytest.fixture(scope="module")
def bench():
    tmp = run.isolate_env()
    b = run.Bench(run.FIXTURES)
    b.setup()
    yield b
    b.stop()
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_steps_sum_to_key_wall(bench):
    """build + plan + execute account for the key's wall time to within
    50 ms or 2%, whichever is larger."""
    for key in ("wordcount", "sql_tpch_q3"):
        r = bench.run_key(key)
        steps = r["build"] + r["plan"] + r["exec"]
        assert steps <= r["wall"]
        assert r["wall"] - steps <= max(0.05, 0.02 * r["wall"]), (key, r)


@pytest.mark.spark
def test_pass_cpu_leaves_out_the_jit_threads(bench):
    assert bench.run_pass(["wordcount"])["cpu"] > 0
    pid = bench.jvm_pid
    before = time.process_time()
    work = run.cpu_sample(pid)[0] - before
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    total = (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")
    assert 0 < work < total  # the JIT has compiled since the JVM started


@pytest.mark.spark
def test_traced_key_builds_a_span_tree(bench):
    tracer = run.Tracer(bench.spark, run.FIXTURES)
    r = bench.run_key("sql_tpch_q3", tracer)
    assert r is not None and bench.failed == 0
    t = tracer.trace
    key = next(i for i, s in enumerate(t.spans) if s.name == "sql_tpch_q3")
    steps = [t.spans[i].name for i in t.children(key)]
    assert steps == ["build", "plan", "exec"]
    assert 0 <= t.self_time(key) <= r["wall"]
    from mapreduce_6_824_lab1_spark.operators.sql_queries import _SQL_TABLES

    m = tracer.take_pass()
    assert m["catalog.schema_jobs"] == len(_SQL_TABLES)  # one per table loaded
    assert m["exec.jobs"] >= m["build.jobs"] >= m["catalog.schema_jobs"]
    assert m["plan.optimization_ms"] > 0
    assert 0 < m["exec.cpu_share"] <= 1.5


@pytest.mark.spark
def test_sink_jobs_are_not_catalog_jobs(bench):
    """sink_partitioned_parquet loads orders, then writes a partitioned copy
    and reads it back, all as ``parquet at ...`` jobs; only the load of the
    input table is a catalog schema job."""
    tracer = run.Tracer(bench.spark, run.FIXTURES)
    assert bench.run_key("sink_partitioned_parquet", tracer) is not None
    m = tracer.take_pass()
    assert m["catalog.schema_jobs"] == 1
    assert m["build.jobs"] >= 3  # schema job, partitioned write, read-back
    assert m["sink.records_written"] == 1500


@pytest.mark.spark
@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    expected = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    for name in expected:
        assert f"\n{name} " in "\n" + p.stdout
