#!/usr/bin/env python3
"""Closed-loop benchmark of the query registry.

One client submits one registry key at a time and waits for it, the way a
pipeline driver submits batch jobs, to a session built by
``session.get_spark`` on ``local[<cpus>]``.  Each key is timed from outside
the package, by its public entry points:

    build    QUERIES[key](spark, data_dir)      (catalog + registry callable)
    plan     df._jdf.queryExecution().executedPlan()          (Catalyst)
    execute  df.write.format("noop") ... .save()   (the write bench.py times)

Run from the repo root:

    python3 perfbench/run.py --workload lab_relational --seed 1 --seconds 10 --trace 0

The inputs are the repo's sf0.001 test fixtures (FIXTURES.md), copied byte
for byte into ``perfbench/fixtures/sf0.001``; the seed fixes the key order of
every pass.  A run:

1. set-up (``setup_s``): ``get_spark`` plus bench.py's tiny JVM and Arrow
   warm-up, in a fresh JVM;
2. check pass, untimed: every key is collected once and compared with its
   DuckDB oracle by ``tools/driver_sim.compare_frames``; a key without an
   oracle must return rows;
3. ``WARM_PASSES`` untimed warm-up passes through the noop sink;
4. timed passes until ``--seconds`` have passed (at least ``MIN_TIMED``),
   each in its own seed-chosen key order; ``pass_cpu_s`` is the median work
   CPU of a timed pass (``cpu_sample``), ``pass_s`` its median wall time.

With ``--trace 1`` the timed passes alternate untraced and traced; the traced
ones read jobs and stages from the status store, streaming progress from a
listener and Python-worker CPU from /proc, and the run prints the per-layer
metrics.  It prints one ``name value unit`` line per metric, and last a JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  It exits 1 if any
key raised or failed its check.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
NEEDED = ("mapreduce_6_824_lab1_spark/__init__.py", "bench.py", "tools/driver_sim.py")

sys.path[:0] = [str(HERE), str(ROOT)]
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The sf0.001 fixtures (lineitem 6,000 rows): small enough that a pass of
# every workload takes a few seconds, so a run holds several timed passes.
FIXTURES = HERE / "fixtures" / "sf0.001"
# Untimed noop passes after the check pass.  The check pass compiles every
# plan shape once (codegen cache hits from then on).  The JVM's JIT keeps
# compiling for twenty passes and more, and pass time falls by a quarter to a
# third over them, most of it in the first few (perfbench/BASELINE.md).  How
# far down that curve a fresh JVM has got by pass 4 depends on how fast the
# shared host ran it, so timing from pass 4 on spread the runs of
# llm_iterative by up to a third; five warm-up passes take the steep part.
# Waiting for the JIT to go quiet would not fit a run of about a minute, so
# each run reports the residual trend (settle.trend_pct,
# settle.jit_ms_per_pass).
WARM_PASSES = 5
MIN_TIMED = 3


def trend_pct(walls: list[float]) -> float:
    """Least-squares slope of pass time over pass index, in % of the median
    pass per pass.  Near 0 when passes are settled; steadily negative while
    the JVM is still warming."""
    n = len(walls)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2.0, statistics.fmean(walls)
    num = sum((i - mx) * (w - my) for i, w in enumerate(walls))
    den = sum((i - mx) ** 2 for i in range(n))
    return 100.0 * num / den / statistics.median(walls)


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def pass_orders(keys: tuple[str, ...], seed: int):
    """Endless stream of key orders, one per pass, fixed by the seed."""
    rng = random.Random(seed)
    while True:
        order = list(keys)
        rng.shuffle(order)
        yield order


def load_metrics() -> dict[str, dict[str, str]]:
    """Metric name -> unit for each of BENCHMARK.json's two metric lists."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        kind: {m["name"]: m["unit"] for m in spec[kind]}
        for kind in ("end_to_end", "per_layer")
    }


def isolate_env() -> Path:
    """Keep every file the run writes (temp dirs, Spark local dirs, the JVM's
    java.io.tmpdir) inside the checkout, and size local mode to the host."""
    tmp = WORK / "tmp" / str(os.getpid())
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return tmp


class Bench:
    """One session, one workload: set-up, check, warm-up and timed passes."""

    def __init__(self, data: Path) -> None:
        self.data = str(data)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- set-up ------------------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Build the session and run bench.py's fixed warm-up; returns
        (session start s, warm-up s)."""
        from mapreduce_6_824_lab1_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        t1 = time.perf_counter()
        warm_up(self.spark, self.data)
        return t1 - t0, time.perf_counter() - t1

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers) to
        exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        workers = python_workers(gateway.proc.pid)
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)

    # -- one key -----------------------------------------------------------
    def run_key(self, key: str, tracer: Tracer | None = None) -> dict | None:
        """Build, plan and execute one key.  Step times exclude the tracer's
        own reads between steps; ``wall`` includes them."""
        from mapreduce_6_824_lab1_spark import QUERIES

        self.attempted += 1
        steps: dict[str, tuple[float, float]] = {}
        t_key = time.perf_counter()
        try:
            if tracer:
                tracer.begin_key(key)
            t = time.perf_counter()
            df = QUERIES[key](self.spark, self.data)
            steps["build"] = (t, time.perf_counter())
            if tracer:
                tracer.step("build", *steps["build"])
            t = time.perf_counter()
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            steps["plan"] = (t, time.perf_counter())
            if tracer:
                tracer.step("plan", *steps["plan"], qe=qe)
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            steps["exec"] = (t, time.perf_counter())
            if tracer:
                tracer.step("exec", *steps["exec"])
                tracer.end_key(key, t_key, time.perf_counter())
        except Exception as exc:  # noqa: BLE001 — a failing key is counted, not fatal
            self.fail(key, exc)
            return None
        out = {name: b - a for name, (a, b) in steps.items()}
        out["wall"] = time.perf_counter() - t_key
        return out

    def fail(self, key: str, why: object) -> None:
        self.failed += 1
        first = (str(why).strip().splitlines() or [type(why).__name__])[0]
        self.errors.append(f"{key}: {first[:200]}")

    def run_pass(self, order: list[str], tracer: Tracer | None = None) -> dict:
        """One pass over ``order``; returns pass wall, pass work CPU and
        per-key walls."""
        cpu0 = cpu_sample(self.jvm_pid)
        t0 = time.perf_counter()
        walls = {}
        for key in order:
            r = self.run_key(key, tracer)
            if r is not None:
                walls[key] = r["wall"]
        wall = time.perf_counter() - t0
        return {"wall": wall, "cpu": cpu_between(cpu0, cpu_sample(self.jvm_pid)), "keys": walls}

    # -- correctness -------------------------------------------------------
    def check_pass(self, order: list[str]) -> None:
        """Collect every key once and compare it with its oracle."""
        import duckdb
        from mapreduce_6_824_lab1_spark import ORACLES, QUERIES
        from tools.driver_sim import compare_frames

        duck = duckdb.connect()
        for table in sorted(Path(self.data).glob("*.parquet")):
            duck.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM '{table}'")
        for key in order:
            self.attempted += 1
            try:
                got = QUERIES[key](self.spark, self.data).toPandas()
            except Exception as exc:  # noqa: BLE001 — a failing key is counted, not fatal
                self.fail(key, exc)
                continue
            if key not in ORACLES:
                if len(got) == 0:
                    self.fail(key, "rows-only key returned 0 rows")
                continue
            msg = compare_frames(got, duck.execute(ORACLES[key]).fetchdf())
            if msg:
                self.fail(key, f"oracle mismatch: {msg}")
        duck.close()


def cpu_sample(jvm_pid: int) -> tuple[float, dict]:
    """Work CPU seconds used so far by the driver JVM and this Python driver,
    and bench.py's census of the Python workers.

    Work CPU is the CPU time of every JVM thread except the JIT compiler
    threads: tasks, scheduler, planner, GC.  How much the JIT still compiles
    in a given pass depends on how fast the shared host ran the JVM so far,
    so its threads are left out (``jvm.jit_ms`` reports them).  The kernel
    does not count time the hypervisor stole from the VM as any process's
    CPU time, which wall time cannot leave out."""
    from bench import _worker_census

    hz = os.sysconf("SC_CLK_TCK")
    jvm = 0.0
    for path in glob.glob(f"/proc/{jvm_pid}/task/*/stat"):
        try:
            with open(path) as fh:
                stat = fh.read()
        except OSError:
            continue  # the thread ended between listing and reading
        comm, fields = stat[stat.index("(") + 1 :].rsplit(")", 1)
        if not comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = fields.split()
            jvm += (int(f[11]) + int(f[12])) / hz
    return jvm + time.process_time(), _worker_census() or {}


def cpu_between(a: tuple[float, dict], b: tuple[float, dict]) -> float:
    """Work CPU seconds between two samples.  A Python worker that started in
    between counts whole; one that ended in between loses its last share
    (a warm pass spawns none: ``pylane.workers_spawned`` is 0)."""
    (own0, w0), (own1, w1) = a, b
    workers = sum(p["cpu_s"] - w0[k]["cpu_s"] if k in w0 else p["cpu_s"] for k, p in w1.items())
    return own1 - own0 + workers


def warm_up(spark, data: str) -> None:
    """bench.py's fixed warm-up: one tiny query through the JVM engine paths
    (parquet scan, join, explode, aggregate, window, sort, noop sink) and one
    through the Arrow/pandas lane, on the two small dimension tables."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    region = spark.read.parquet(f"{data}/region.parquet")
    nation = spark.read.parquet(f"{data}/nation.parquet")
    warm = (
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select(F.explode(F.split("n_name", "_")).alias("w"), "n_nationkey")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"), F.max("n_nationkey").alias("m"))
        .withColumn("r", F.row_number().over(Window.orderBy("w")))
        .orderBy("c", "w")
    )
    warm.write.format("noop").mode("overwrite").save()

    def _warm_pandas(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    nation.select("n_nationkey").mapInPandas(_warm_pandas, "n long").write.format(
        "noop"
    ).mode("overwrite").save()


def python_workers(jvm_pid: int) -> set[int]:
    """Pids of the Python worker daemon a JVM started and of its workers;
    they exit on their own once the JVM is gone."""
    from bench import _worker_census

    pool = {pid: p["ppid"] for (pid, _), p in (_worker_census() or {}).items()}
    daemons = {pid for pid, ppid in pool.items() if ppid == jvm_pid}
    return {pid for pid, ppid in pool.items() if pid in daemons or ppid in daemons}


class Tracer:
    """Spans and per-layer counters for traced passes."""

    def __init__(self, spark, data: Path) -> None:
        self.spark = spark
        self.in_key = False
        spans.tag_table_reads(spark, data, lambda: self.in_key)
        self.trace = spans.Trace()
        self.jvm = spans.JvmStatus(spark)
        self.listener = spans.stream_listener(spark)
        self._offset = time.time() - time.perf_counter()
        self.acc: dict[str, float] = {}
        self._longest: dict | None = None

    def add(self, name: str, v: float) -> None:
        self.acc[name] = self.acc.get(name, 0.0) + v

    def begin_key(self, key: str) -> None:
        from bench import _worker_census

        self.jvm.skip_jobs()  # jobs of untraced passes belong to no traced key
        self.in_key = True
        self._census = _worker_census()
        self._jit_gc = spans.jit_gc_ms(self.spark)
        self._n_progress = len(self.listener.rows)
        self._steps: list[int] = []

    def step(self, name: str, start: float, end: float, qe=None) -> None:
        sid = self.trace.add(name, start + self._offset, end + self._offset)
        self._steps.append(sid)
        self.add(f"{name}.s", end - start)
        if qe is not None:
            phases = qe.tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                if phases.contains(p):
                    self.add(f"plan.{p}_ms", phases.apply(p).durationMs())
        for job in self.jvm.new_jobs():
            self._job(name, sid, job)

    def _job(self, step: str, parent: int, job: dict) -> None:
        start, end = job["start"], job["end"]
        if start is None or end is None:
            return
        jid = self.trace.add(f"job {job['id']}", start, end, parent, call_site=job["name"])
        self.add("exec.jobs", 1)
        if step == "build":
            self.add("build.jobs", 1)
            self.add("build.job_s", end - start)
        if job["description"] == spans.TABLE_READ:
            self.add("catalog.schema_jobs", 1)
            self.add("catalog.schema_job_s", end - start)
        for st in job["stages"]:
            if st["start"] is not None and st["end"] is not None:
                self.trace.add(f"stage {st['id']}", st["start"], st["end"], jid)
            self.add("exec.stages", 1)
            self.add("exec.tasks", st["tasks"])
            self.add("exec.failed_tasks", st["failed_tasks"])
            self.add("exec.task_run_s", st["run_s"])
            self.add("exec.task_cpu_s", st["cpu_s"])
            self.add("exec.shuffle_write_mb", st["shuffle_write_b"] / 2**20)
            self.add("exec.shuffle_read_mb", st["shuffle_read_b"] / 2**20)
            self.add("exec.spill_mb", st["spill_b"] / 2**20)
            if st["python"]:
                self.add("pylane.task_run_s", st["run_s"])
                self.add("pylane.task_cpu_s", st["cpu_s"])
            if st["output_b"] > 0:
                self.add("sink.bytes_written_mb", st["output_b"] / 2**20)
                self.add("sink.records_written", st["output_records"])
                self.add("sink.write_task_s", st["run_s"])
            if self._longest is None or st["run_s"] > self._longest["run_s"]:
                self._longest = st

    def end_key(self, key: str, start: float, end: float) -> None:
        from bench import _census_delta, _worker_census

        self.in_key = False
        kid = self.trace.add(key, start + self._offset, end + self._offset)
        for sid in self._steps:
            self.trace.spans[sid].parent = kid
        self.add("key.self_s", self.trace.self_time(kid))
        for sid in self._steps:
            name = self.trace.spans[sid].name
            if name != "plan":
                self.add(f"{name}.self_s", self.trace.self_time(sid))
        jit, gc = spans.jit_gc_ms(self.spark)
        self.add("jvm.jit_ms", jit - self._jit_gc[0])
        self.add("jvm.gc_ms", gc - self._jit_gc[1])
        pool = _census_delta(key, end - start, self._census, _worker_census())
        if pool is not None:
            self.add("pylane.worker_cpu_s", pool["pool_cpu_s"])
            self.add("pylane.workers_spawned", pool["spawned"])
        last_state: dict[str, dict] = {}
        for row in self.listener.rows[self._n_progress :]:
            d = row["duration_ms"]
            self.add("stream.batches", 1)
            self.add("stream.input_rows", row["input_rows"])
            self.add("stream.trigger_ms", d.get("triggerExecution", 0))
            self.add("stream.add_batch_ms", d.get("addBatch", 0))
            self.add("stream.query_planning_ms", d.get("queryPlanning", 0))
            self.add("stream.wal_commit_ms", d.get("walCommit", 0))
            self.add("stream.commit_offsets_ms", d.get("commitOffsets", 0))
            self.add("stream.state_commit_ms", row["state_commit_ms"])
            last_state[row["query"]] = row
        for row in last_state.values():
            self.add("stream.state_rows", row["state_rows"])
            self.add("stream.state_mem_mb", row["state_mem_b"] / 2**20)

    def take_pass(self) -> dict[str, float]:
        """Per-layer counters of the pass just run, with derived ratios."""
        acc, self.acc = self.acc, {}
        run = acc.get("exec.task_run_s", 0.0)
        acc["exec.cpu_share"] = acc.get("exec.task_cpu_s", 0.0) / run if run else 0.0
        py_run = acc.pop("pylane.task_run_s", 0.0)
        py_cpu = acc.pop("pylane.task_cpu_s", 0.0)
        acc["pylane.wait_share"] = (py_run - py_cpu) / py_run if py_run else 0.0
        trig = acc.pop("stream.trigger_ms", 0.0)
        acc["stream.rows_per_s"] = acc.get("stream.input_rows", 0.0) / (trig / 1e3) if trig else 0.0
        longest, self._longest = self._longest, None
        skew = self.jvm.task_skew(longest) if longest else None
        acc["exec.task_skew"] = skew if skew is not None else 1.0
        return acc


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    keys = WORKLOADS[workload]
    tmp = isolate_env()
    from bench import _cpu_stat_sample, _steal_pct

    bench = Bench(FIXTURES)
    orders = pass_orders(keys, seed)
    try:
        start_s, warm_s = bench.setup()
        bench.check_pass(next(orders))
        warm = [bench.run_pass(next(orders)) for _ in range(WARM_PASSES)]

        tracer = Tracer(bench.spark, FIXTURES) if traced else None
        plain: list[dict] = []
        layered: list[tuple[dict, dict]] = []
        jit0 = spans.jit_gc_ms(bench.spark)[0]
        cpu0, t_end = _cpu_stat_sample(), time.monotonic() + seconds
        while time.monotonic() < t_end or len(plain) < MIN_TIMED or (
            traced and len(layered) < 2
        ):
            use_tracer = tracer if traced and len(plain) > len(layered) else None
            p = bench.run_pass(next(orders), use_tracer)
            if use_tracer:
                layered.append((p, tracer.take_pass()))
            else:
                plain.append(p)
        steal = _steal_pct(cpu0, _cpu_stat_sample())
        jit_per_pass = (spans.jit_gc_ms(bench.spark)[0] - jit0) / (len(plain) + len(layered))
        load1 = os.getloadavg()[0]
        hwm = None
        if traced:
            from pyspark import SparkContext

            hwm = spans.vm_hwm_mb(SparkContext._gateway.proc.pid)
            tracer.trace.write(WORK / "traces" / f"{workload}-seed{seed}.json")
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
        shutil.rmtree(tmp, ignore_errors=True)

    pass_walls = [p["wall"] for p in plain]
    e2e = {
        "setup_s": start_s + warm_s,
        "pass_cpu_s": statistics.median(p["cpu"] for p in plain),
    }
    wall = {
        "pass_s": statistics.median(pass_walls),
        "query_geomean_s": statistics.median(
            geomean(list(p["keys"].values())) for p in plain if p["keys"]
        ),
    }
    diag = {
        **wall,
        "fail_ratio": bench.failed / bench.attempted,
        "settle.trend_pct": trend_pct(pass_walls),
        "timed_passes": len(plain),
        "settle.jit_ms_per_pass": jit_per_pass,
        "host.steal_pct": steal or 0.0,
        "host.load1": load1,
    }
    for key in keys:
        diag[f"wall.{key}"] = statistics.median(p["keys"].get(key, math.nan) for p in plain)
    result = {"e2e": e2e, "diag": diag, "passes": warm + plain}
    if traced:
        per_pass = [m for _, m in layered]
        layer = {
            name: statistics.median(m.get(name, 0.0) for m in per_pass)
            for name in sorted({n for m in per_pass for n in m})
        }
        traced_pass = statistics.median(p["wall"] for p, _ in layered)
        layer.update(
            {
                **wall,
                "session.start_s": start_s,
                "session.warm_s": warm_s,
                "session.jvm_rss_hwm_mb": hwm or 0.0,
                "host.steal_pct": steal or 0.0,
                "host.load1": load1,
                "trace.pass_s": traced_pass,
                "trace.overhead_s": traced_pass - wall["pass_s"],
            }
        )
        result["layer"] = layer
    result["bench"] = bench
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in NEEDED + ("BENCHMARK.json",) if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a repo checkout, missing {missing}", file=sys.stderr)
        return 2
    metrics = load_metrics()["per_layer" if args.trace else "end_to_end"]
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    bench = res["bench"]
    for err in bench.errors:
        print(f"FAIL {err}")
    for what in ("wall", "cpu"):
        print(f"passes.{what} " + " ".join(f"{p[what]:.3f}" for p in res["passes"]))
    for name, v in res["diag"].items():
        print(f"{name} {v:.6g}")
    measured = res["layer"] if args.trace else res["e2e"]
    shown = {name: measured.get(name, 0.0) for name in metrics}
    for name, v in shown.items():
        print(f"{name} {v:.6g} {metrics[name]}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    name: {"value": v, "unit": metrics[name]}
                    for name, v in shown.items()
                },
            }
        )
    )
    # A key that raised is missing from its pass's walls, which would make
    # the pass read faster; a run with any failure is not a measurement.
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
