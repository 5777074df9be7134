"""Round-9 hardening pins (round-8 VERDICT asks #3 and ADVICE rows):

- staged-file micro-batch ordering is EXPLICIT (``_stamp_mtime``), never
  timing-based — no ``time.sleep`` staging races left in the streaming
  package, and the median key's flush sentinel provably sorts last;
- the ensure_protobuf smoke-failure unwind also evicts the stale
  ``StateMessage_pb2`` attribute from the cached parent package (a
  ``from pyspark.sql.streaming.proto import StateMessage_pb2`` after a
  failed gate must re-import, not serve gencode bound to the evicted
  runtime);
- the sink-grain lint surfaces keys whose source it cannot read instead
  of silently narrowing its own coverage.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _run(code: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, f"stdout={out.stdout}\nstderr={out.stderr}"
    return out.stdout


def test_stamp_mtime_pins_every_file(tmp_path):
    """The ordering primitive itself: every file under the dir gets the
    exact stamp, so FileStreamSource's mtime sort is a stated fact."""
    from mapreduce_6_824_lab1_spark.streaming.jobs import _stamp_mtime

    d = tmp_path / "slice_0"
    (d / "nested").mkdir(parents=True)
    for name in ("part-0.parquet", "_SUCCESS", "nested/part-1.parquet"):
        (d / name).write_bytes(b"x")
    stamp = int(time.time()) + 1234
    _stamp_mtime(str(d), stamp)
    for name in ("part-0.parquet", "_SUCCESS", "nested/part-1.parquet"):
        assert int(os.stat(d / name).st_mtime) == stamp, name


def test_staged_slices_are_mtime_ordered_and_flush_sorts_last(
    spark, tmp_path
):
    """_stage_event_id_slices must leave slice_i strictly mtime-ordered,
    and a flush file stamped per the median key's recipe (+3600) must
    sort strictly after every slice — the property
    ``stream_user_median_tws`` correctness rides on (a flush delivered
    mid-stream would silently drop a slice from every user's median)."""
    from mapreduce_6_824_lab1_spark.streaming.jobs import (
        _stage_event_id_slices,
        _stamp_mtime,
    )
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    scratch = str(tmp_path / "staged")
    _stage_event_id_slices(
        ev, scratch, keep_cols=["user_id", "event_type", "value"]
    )
    flush_dir = tmp_path / "staged" / "flush"
    flush_dir.mkdir()
    (flush_dir / "part-0.parquet").write_bytes(b"x")
    _stamp_mtime(str(flush_dir), int(time.time()) + 3600)

    def newest(i: int) -> float:
        files = list((tmp_path / "staged" / f"slice_{i}").rglob("*"))
        assert files
        return max(os.stat(p).st_mtime for p in files)

    slice_mtimes = [newest(i) for i in range(4)]
    assert slice_mtimes == sorted(slice_mtimes)
    assert len(set(slice_mtimes)) == 4, "slice mtimes must be distinct"
    flush_mtime = min(
        os.stat(p).st_mtime for p in flush_dir.rglob("*")
    )
    assert flush_mtime > max(slice_mtimes) + 600, (
        "flush sentinel must sort strictly (and robustly) last"
    )


def test_time_ranged_staging_is_ordered_disjoint_and_complete(
    spark, tmp_path
):
    """_stage_time_ranges, the two sessionizers' staging: its parts must
    be strictly mtime-ordered (= micro-batch order), pairwise disjoint in
    ``ts`` with time order following mtime order, and together hold every
    input row exactly once — in-order state carry across batches and a
    forward-only watermark both ride on it."""
    from pyspark.sql import functions as F

    from mapreduce_6_824_lab1_spark.streaming.stateful import (
        _events_ts_long_ns,
        _stage_time_ranges,
    )
    from tests.conftest import SF_DIR

    raw = _events_ts_long_ns(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    ).select("ts", "user_id", "event_type", "value")
    scratch = tmp_path / "ranges"
    _stage_time_ranges(raw, str(scratch))

    def mtimes(part):
        files = list(part.rglob("*"))
        assert files
        return [os.stat(p).st_mtime for p in files]

    parts = sorted(scratch.iterdir(), key=lambda d: min(mtimes(d)))
    assert len(parts) == 4
    for earlier, later in zip(parts, parts[1:]):
        assert max(mtimes(earlier)) < min(mtimes(later)), (
            "time-range parts must be strictly mtime-ordered"
        )

    spans, total = [], 0
    for part in parts:
        lo, hi, n = (
            spark.read.parquet(str(part))
            .agg(F.min("ts"), F.max("ts"), F.count(F.lit(1)))
            .first()
        )
        assert n > 0, f"{part.name} is empty"
        spans.append((lo, hi))
        total += n
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo, f"ts ranges overlap or run against mtime: {spans}"
    assert total == raw.count()


def test_no_sleep_based_staging_left_in_streaming_package():
    """The race class is eradicated, not just patched at two sites: no
    ``time.sleep`` CALL remains anywhere in the streaming package source
    (AST call nodes — comments/docstrings mentioning it don't count)."""
    pkg = REPO / "mapreduce_6_824_lab1_spark" / "streaming"
    offenders = []
    for py in pkg.rglob("*.py"):
        tree = ast.parse(py.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "sleep"
            ):
                offenders.append(f"{py.name}:{node.lineno}")
    assert not offenders, (
        f"sleep-based ordering is banned in staging paths: {offenders} — "
        f"use _stamp_mtime (explicit os.utime) instead"
    )


def test_smoke_failure_unwind_evicts_parent_package_attribute():
    """Round-8 ADVICE row 1: after a failed smoke gate the cached parent
    package pyspark.sql.streaming.proto must NOT keep serving the stale
    StateMessage_pb2 binding as an attribute — `from ... import` consults
    the parent's attribute before sys.modules, so popping only the
    sys.modules entry leaves the evicted runtime reachable."""
    out = _run(
        "import sys, types\n"
        "# the unwind branch only runs when the FALLBACK activated; a\n"
        "# host with a stock-importable protobuf never reaches it, so\n"
        "# detect that first and report the skip honestly\n"
        "try:\n"
        "    import google.protobuf  # noqa: F401\n"
        "    stock = True\n"
        "except ImportError:\n"
        "    stock = False\n"
        "parent = types.ModuleType('pyspark.sql.streaming.proto')\n"
        "stale = types.ModuleType(\n"
        "    'pyspark.sql.streaming.proto.StateMessage_pb2')\n"
        "parent.StateMessage_pb2 = stale\n"
        "sys.modules['pyspark.sql.streaming.proto'] = parent\n"
        "sys.modules[\n"
        "    'pyspark.sql.streaming.proto.StateMessage_pb2'] = stale\n"
        "from mapreduce_6_824_lab1_spark import protobuf_compat as pc\n"
        "def boom():\n"
        "    raise ImportError('forced smoke failure')\n"
        "pc._smoke_state_messages = boom\n"
        "assert pc.ensure_protobuf() is False\n"
        "if stock:\n"
        "    print('NO_FALLBACK')\n"
        "else:\n"
        "    key = 'pyspark.sql.streaming.proto.StateMessage_pb2'\n"
        "    assert key not in sys.modules, 'sys.modules entry survived'\n"
        "    assert not hasattr(parent, 'StateMessage_pb2'), (\n"
        "        'stale parent-package attribute survived the unwind')\n"
        "    print('EVICTED')\n"
    )
    assert out.strip() in ("EVICTED", "NO_FALLBACK")


def test_timer_session_key_registered_with_exact_oracle():
    """Round-8 verdict ask #4 resolved as a REAL KEY, not a prose
    ruling: the event-time-timer sessionizer is registered against the
    same exact batch oracle as the other two custom sessionizers."""
    from mapreduce_6_824_lab1_spark import ORACLES, QUERIES
    from mapreduce_6_824_lab1_spark.operators.temporal import SESSION_ORACLE

    assert "stream_session_timers_tws" in QUERIES
    assert ORACLES["stream_session_timers_tws"] == SESSION_ORACLE


def test_session_timer_math_is_pure_function_of_state():
    """Timer bookkeeping has NO extra state: expiry is a pure function
    of the open session's last-event ns. Pins (a) the ms ceiling never
    fires early (expiry strictly after close time), (b) stale-fire
    detection — after the fold moves `last`, the old expiry no longer
    matches, so handleExpiredTimer's guard ignores it."""
    from mapreduce_6_824_lab1_spark.streaming.stateful import (
        GAP_NS,
        _session_timer_ms,
    )

    last_ns = 1_700_000_000_123_456_789
    e = _session_timer_ms(last_ns)
    assert e * 1_000_000 > last_ns + GAP_NS  # never early
    assert e - (last_ns + GAP_NS) // 1_000_000 <= 1  # and barely late
    # monotone in `last`: when the fold extends a session, the new
    # expiry is >= the old one; a guard match on a fired timer then
    # means "expiry equals the CURRENT close time (to ms grain)" — in
    # which case emitting is correct even if `last` moved within the
    # same ms (the watermark has passed the close time either way)
    assert _session_timer_ms(last_ns + 1) >= e
    assert _session_timer_ms(last_ns + GAP_NS) > e


def test_timer_sessionizer_matches_batch_twin_exactly(spark):
    """End-to-end at sf0.001: the timer-closed sessionizer must equal
    the batch window_session result row-for-row, AND the sink must hold
    exactly one row per session (each session emitted once — by gap
    close or by timer fire, never both; the expiry guard's job)."""
    from mapreduce_6_824_lab1_spark import QUERIES
    from mapreduce_6_824_lab1_spark.streaming import jobs
    from tests.conftest import SF_DIR

    before = len(jobs._OUT_SCRATCH)
    out = QUERIES["stream_session_timers_tws"](spark, SF_DIR)
    new_dirs = jobs._OUT_SCRATCH[before:]
    assert len(new_dirs) == 1
    sink = spark.read.parquet(f"{new_dirs[0]}/data")

    batch = QUERIES["window_session"](spark, SF_DIR)
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    # one emission per session: set equality + count equality ⇒ no dupes
    assert sink.count() == len(want)
    # and no sentinel-user leakage
    assert sink.filter(sink.user_id < 0).count() == 0


def test_bootstrap_counts_seeded_state_matches_full_batch(spark):
    """handleInitialState end-to-end at sf0.001: batch-seeded MapState
    (even event_ids) + streamed live half (odd event_ids) must equal
    the FULL batch aggregate — only reachable if the seeded entries
    survived into streaming state and all live slices accumulated onto
    them. The live half alone is a strict subset of the counts, so a
    dead handleInitialState cannot pass. Flush-only emission: the sink
    holds exactly one row per (user, type)."""
    import pyspark.sql.functions as F

    from mapreduce_6_824_lab1_spark import ORACLES, QUERIES
    from mapreduce_6_824_lab1_spark.streaming import jobs
    from mapreduce_6_824_lab1_spark.streaming.stateful import (
        TYPE_COUNTS_ORACLE,
    )
    from tests.conftest import SF_DIR

    assert ORACLES["stream_bootstrap_counts_tws"] == TYPE_COUNTS_ORACLE

    before = len(jobs._OUT_SCRATCH)
    out = QUERIES["stream_bootstrap_counts_tws"](spark, SF_DIR)
    new_dirs = jobs._OUT_SCRATCH[before:]
    assert len(new_dirs) == 1
    sink = spark.read.parquet(f"{new_dirs[0]}/data")

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("total_cents"),
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    assert sink.count() == len(want)  # flush-only: one row per group
    # and the seed genuinely contributes: live-half-only counts differ
    live_only = (
        ev.filter(F.pmod("event_id", F.lit(2)) == 1)
        .groupBy("user_id", "event_type")
        .count()
    )
    assert live_only.count() != 0
    full_cnt = {(r[0], r[1]): r[2] for r in batch.collect()}
    assert any(
        full_cnt[(r["user_id"], r["event_type"])] != r["count"]
        for r in live_only.collect()
    ), "fixture degenerate: live half equals full counts everywhere"


def test_timer_sessionizer_sentinels_are_load_bearing(spark):
    """Red-form proof of the watermark-advance requirement (measured
    round 9): with ZERO sentinel slices the availableNow run is
    INCOMPLETE — sessions still open near the stream end never fire
    their timers because no batch ever runs under a watermark past
    their close time. The missing set must be exactly a tail subset:
    nothing extra, nothing wrong, only sessions whose close time sits
    within (gap + watermark delay) of the global max ts. (The
    registered two-sentinel form's completeness is pinned by
    test_timer_sessionizer_matches_batch_twin_exactly.)"""
    import pyspark.sql.functions as F

    from mapreduce_6_824_lab1_spark import QUERIES
    from mapreduce_6_824_lab1_spark.streaming.stateful import (
        _TIMER_WM_DELAY_MIN,
        _events_ts_long_ns,
        _run_timer_sessions,
    )
    from tests.conftest import SF_DIR

    batch = QUERIES["window_session"](spark, SF_DIR)
    want = {tuple(r) for r in batch.collect()}
    got = {
        tuple(r)
        for r in _run_timer_sessions(spark, SF_DIR, n_sentinels=0)
        .collect()
    }
    assert got < want, (
        "zero-sentinel run should be a STRICT subset — if it's complete "
        "the sentinel design is dead weight; if it has extras the "
        "sessionizer is wrong"
    )
    missing = want - got
    raw = _events_ts_long_ns(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    )
    max_ts = int(raw.agg(F.max("ts")).first()[0])
    delay_ns = _TIMER_WM_DELAY_MIN * 60 * 1_000_000_000
    # PER-SESSION check (not per-user: a tail-horizon user's wrongly
    # dropped EARLY session must still fail). A session is legitimately
    # unfired only if its close time (last event + gap == session_window
    # end) was never passed by the final watermark (max_ts - delay).
    from mapreduce_6_824_lab1_spark.catalog import normalize_events
    from mapreduce_6_824_lab1_spark.operators.temporal import (
        SESSION_GAP_MIN,
        TS_FMT_SPARK,
    )

    ev = normalize_events(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    closes = {
        (r["user_id"], r["session_start"]): r["close_ns"]
        for r in ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias(
                "sw"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.date_format("sw.start", TS_FMT_SPARK).alias(
                "session_start"
            ),
            (F.unix_micros(F.col("sw.end")) * F.lit(1000)).alias(
                "close_ns"
            ),
        )
        .collect()
    }
    final_watermark_ns = max_ts - delay_ns
    for m in missing:
        close = closes[(m[0], m[1])]
        assert close > final_watermark_ns, (
            f"session {m[:2]} closes at {close}, before the final "
            f"watermark {final_watermark_ns} — its timer should have "
            "fired; this is a timer bug, not the availableNow tail "
            "effect"
        )


def test_sink_grain_lint_flags_unsourceable_keys(monkeypatch):
    """Round-8 ADVICE row 3, red-check: a registration whose source the
    lint cannot read (here a functools.partial — no module, no source)
    must FAIL the lint loudly, not silently drop out of its coverage."""
    import functools

    from mapreduce_6_824_lab1_spark import QUERIES
    from tests import test_plans as tp

    fake = functools.partial(QUERIES["stream_dedup"])
    monkeypatch.setitem(tp.QUERIES, "stream_fake_partial_key", fake)
    with pytest.raises(AssertionError, match="stream_fake_partial_key"):
        tp.test_streaming_collects_only_on_declared_bounded_grain()
