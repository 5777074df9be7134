"""Tracing for the benchmark: spans with self time, and the engine-side readers.

Spans are recorded from the benchmark's own code around the calls into each
layer (key -> build / plan / execute), plus one span per Spark job and stage
read back from the status store.  They stay in memory and are written once, at
exit.  A span's self time is its duration minus the part of its interval that
its children cover.

Everything here that touches the JVM runs only in traced runs; untraced runs
(the end-to-end numbers) never call it.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from pathlib import Path

# Physical operators that run rows through Python workers; a stage whose
# operation graph names one of these is a Python-lane stage.
PYTHON_OPERATORS = ("Pandas", "Arrow", "Python")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Trace:
    """In-memory span list; parents are referenced by index."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(
        self, name: str, start: float, end: float, parent: int | None = None, **attrs
    ) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def children(self, i: int) -> list[int]:
        return [j for j, s in enumerate(self.spans) if s.parent == i]

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        kids = [(self.spans[j].start, self.spans[j].end) for j in self.children(i)]
        return (s.end - s.start) - covered(kids, s.start, s.end)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [dict(asdict(s), self_s=self.self_time(i)) for i, s in enumerate(self.spans)]
        path.write_text(json.dumps(rows))


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def _seq(s) -> list:
    """A Scala ``Seq`` reached over py4j, as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class JvmStatus:
    """Reads finished jobs and stages from the driver's status store.

    Job ids are dense, so each call returns the jobs started since the
    previous one; in a closed loop that attributes every job (including
    streaming micro-batch jobs, which carry their own job group) to the step
    that was running.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._gateway = sc._gateway
        self._jvm = sc._jvm
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = sc._jsc.statusTracker()
        self._next_job = 0
        self.skip_jobs()

    def skip_jobs(self) -> None:
        """Pass over the jobs run so far without reading them."""
        self._bus.waitUntilEmpty()
        while self._tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1

    def new_jobs(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        out = []
        while self._tracker.getJobInfo(self._next_job) is not None:
            out.append(self._job(self._next_job))
            self._next_job += 1
        return out

    def _job(self, job_id: int) -> dict:
        jd = self._store.job(job_id)
        stages = []
        for sid in _seq(jd.stageIds()):
            sd = self._store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            stages.append(self._stage(sd))
        desc = jd.description()
        return {
            "id": job_id,
            "name": jd.name(),
            "description": desc.get() if desc.isDefined() else None,
            "start": _epoch(jd.submissionTime()),
            "end": _epoch(jd.completionTime()),
            "stages": stages,
        }

    def _stage(self, sd) -> dict:
        graph = self._store.operationGraphForStage(sd.stageId()).rootCluster()
        ops = [c.name() for c in _seq(graph.childClusters())]
        return {
            "id": sd.stageId(),
            "attempt": sd.attemptId(),
            "name": sd.name(),
            "start": _epoch(sd.submissionTime()),
            "end": _epoch(sd.completionTime()),
            "tasks": sd.numTasks(),
            "failed_tasks": sd.numFailedTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "shuffle_write_b": sd.shuffleWriteBytes(),
            "shuffle_read_b": sd.shuffleReadBytes(),
            "spill_b": sd.diskBytesSpilled(),
            "output_b": sd.outputBytes(),
            "output_records": sd.outputRecords(),
            "python": any(p in op for op in ops for p in PYTHON_OPERATORS),
        }

    def task_skew(self, stage: dict) -> float | None:
        """Max over median task run time of one stage."""
        q = self._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._store.taskSummary(stage["id"], stage["attempt"], q)
        if not dist.isDefined():
            return None
        med, top = _seq(dist.get().executorRunTime())
        return top / med if med > 0 else None


# Job description given to the jobs that reading an input table starts.
TABLE_READ = "perfbench: input table read"


def tag_table_reads(spark, data_dir: Path, active) -> None:
    """Give every job that a parquet read of an input table starts the job
    description ``TABLE_READ``, while ``active()`` is true.

    ``catalog.load_table`` reads its table with ``spark.read.parquet``, which
    runs an eager schema-inference job.  Its call site reads ``parquet at
    ...`` like that of any other parquet read or write from Python (a sink
    writing and reading back its output, say); the description is what tells
    them apart in the status store.  Wraps ``DataFrameReader.parquet`` for the
    life of the process.
    """
    from pyspark.sql.readwriter import DataFrameReader

    plain = DataFrameReader.parquet
    sc = spark.sparkContext
    prefix = str(data_dir)

    def parquet(self, *paths, **options):
        if not active() or not any(str(p).startswith(prefix) for p in paths):
            return plain(self, *paths, **options)
        before = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(TABLE_READ)
        try:
            return plain(self, *paths, **options)
        finally:
            sc.setLocalProperty("spark.job.description", before)

    DataFrameReader.parquet = parquet


def jit_gc_ms(spark) -> tuple[int, int]:
    """Total JIT compile and GC time of the driver JVM so far, in ms."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return int(mf.getCompilationMXBean().getTotalCompilationTime()), int(gc)


def stream_listener(spark):
    """Register and return a listener that keeps every streaming progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.rows: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if p.numInputRows == 0 and not p.stateOperators:
                return  # idle trigger, no batch ran
            self.rows.append(
                {
                    "query": str(p.id),
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                    "state_mem_b": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def vm_hwm_mb(pid: int) -> float | None:
    """Peak resident set of a process, from /proc (None off Linux)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None
