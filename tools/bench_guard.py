"""Bench regression guard: fail when any benched query runs >2x its
committed floor (BENCH_FLOOR.json, sf0.1 warm times).

The 2x-of-committed rule was previously aspirational — bench.py measured
but nothing FAILED on a regression. This script is the enforcement the
round driver (or a human) can run:

    python tools/bench_guard.py                  # run bench.py fresh, check
    python tools/bench_guard.py BENCH_r05.json   # check an existing record
    python tools/bench_guard.py bench_out.json   # raw bench.py stdout JSON
    python tools/bench_guard.py --ledger         # newest BENCH_SESSIONS.jsonl entry
    python tools/bench_guard.py --ledger r11b    # newest entry with that label

Accepted input shapes: the driver's BENCH_r{N}.json (with a "parsed"
object), or bench.py's own one-line JSON. Exit 0 = no regression; exit 1
lists every offender. Materially-improved queries (< 0.8x floor) print a
floor-ratchet suggestion but do not fail.

Flag rule: time > 2 * floor AND time - floor > ABS_SLACK. The absolute
slack keeps sub-second queries (where JVM/stage-scheduling noise is the
same order as the work) from flapping; real regressions on small queries
still trip it once they cost half a second of extra wall-clock.

The comparison logic lives in :func:`check` so tests can prove the guard
actually fires (tests/test_bench_guard.py fabricates a regression and
asserts it is caught — the same mutation-testing discipline as
oracle.compare_frames).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLOOR_PATH = os.path.join(REPO, "BENCH_FLOOR.json")
RATIO = 2.0
ABS_SLACK = 0.5  # seconds over floor before the ratio rule can fire
# 1-min loadavg at bench START above which the session is annotated as
# NOT settled (round-9 ask #5). Calibration: a 32-thread pytest/sim block
# leaves load1 ~= 32 * e^(-t_min); the repo's prose rule "never bench
# within ~2 min of heavy load" corresponds to load1 ~= 4 on this box.
# Annotation only — the guard never FAILS on load context, because floor
# ratchets are decided on multi-session MEDIANS, and the annotation tells
# the median rule which sessions to trust.
SETTLED_LOAD1 = 4.0
# Hypervisor steal over the session window above which the run is
# annotated as externally contended. Calibration: quiet sessions measure
# 0.02–0.93% (r10c–h); a deliberate 32-way burn measures 14.8%; and the
# first instrumented contention event (r10i) averaged 3.35% — a burst
# concentrated in the first ~2 min that ran the headline block 2–2.8x
# slow while the rest of the session was normal (median 1.08x). A
# session-AVERAGE dilutes bursts, so the threshold sits just above the
# quiet band, not halfway to the sustained-burn figure.
SETTLED_STEAL_PCT = 2.0


def check(
    floor: dict[str, float], times: dict[str, float]
) -> tuple[list[str], list[str]]:
    """Compare measured ``times`` against ``floor``; return
    (regressions, improvement-suggestions) as human-readable lines.
    Queries missing from either side are reported as regressions — a
    silently-dropped bench row must not pass the guard, and a benched
    query with NO committed floor is unguarded (the round-5 gap: a 55.8 s
    query sat in EXTENDED with no floor and nothing fired)."""
    bad: list[str] = []
    better: list[str] = []
    for key in sorted(times):
        if key not in floor:
            bad.append(
                f"{key}: NO FLOOR in BENCH_FLOOR.json "
                f"(measured {times[key]:.3f}s — unguarded)"
            )
    for key, ref in sorted(floor.items()):
        got = times.get(key)
        if got is None:
            bad.append(f"{key}: MISSING from bench output (floor {ref}s)")
            continue
        if got > RATIO * ref and got - ref > ABS_SLACK:
            bad.append(
                f"{key}: {got:.3f}s > {RATIO:g}x floor {ref:.3f}s "
                f"({got / ref:.1f}x)"
            )
        elif got < 0.8 * ref and ref - got > 0.2:
            better.append(
                f"{key}: {got:.3f}s vs floor {ref:.3f}s — consider "
                f"ratcheting BENCH_FLOOR.json down"
            )
    return bad, better


LEDGER_PATH = os.path.join(REPO, "BENCH_SESSIONS.jsonl")


def ledger_records(path: str | None = None) -> list[dict]:
    """All parseable entries of the session ledger, in append order.
    Unparseable lines are skipped (a torn write must not hide the rest
    of the history). ``path`` defaults to LEDGER_PATH at CALL time so
    tests can repoint the module attribute."""
    out: list[dict] = []
    try:
        with open(path or LEDGER_PATH) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                if isinstance(rec, dict):
                    out.append(rec)
    except OSError:
        pass
    return out


def load_record(path: str | None, ledger_label: str | None = None) -> dict:
    """Parsed bench record: run bench.py fresh (path=None), read a file
    (driver BENCH_r{N}.json wrapper or raw bench.py stdout JSON), or —
    when ``ledger_label`` is given — the newest BENCH_SESSIONS.jsonl
    entry (label match, or the last entry for the empty string)."""
    if ledger_label is not None:
        recs = ledger_records()
        if ledger_label:
            recs = [r for r in recs if r.get("label") == ledger_label]
        if not recs:
            raise SystemExit(
                f"no ledger entry matching label {ledger_label!r} in "
                f"{LEDGER_PATH}"
            )
        return recs[-1]
    if path is None:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True,
            text=True,
            cwd=REPO,
            check=True,
        ).stdout
        line = [l for l in out.splitlines() if l.startswith("{")][-1]
        parsed = json.loads(line)
    else:
        with open(path) as fh:
            parsed = json.load(fh)
        if "parsed" in parsed:  # driver BENCH_r{N}.json wrapper
            parsed = parsed["parsed"]
    return parsed


def times_from(parsed: dict) -> dict[str, float]:
    """Per-query times from a parsed record, merging headline + extended."""
    times = dict(parsed.get("queries", {}))
    times.update(parsed.get("extended", {}))
    return times


def load_times(path: str | None) -> dict[str, float]:
    """Per-query times from a bench record, merging headline + extended."""
    return times_from(load_record(path))


def session_context(parsed: dict) -> str:
    """One-line settled/unsettled annotation from the record's start load.

    Never a failure: the guard's 2x rule stays load-blind; this line tells
    the multi-session floor-median rule which sessions were taken in a
    clean window (the r08f/r09f post-pytest gram-matrix artifact is the
    recurring case this makes visible instead of tribal knowledge)."""
    load = parsed.get("load") or {}
    start = load.get("start")
    if not start:
        return "session context: unknown (record predates the load field)"
    load1 = float(start[0])
    steal = load.get("steal_pct")
    problems = []
    if load1 > SETTLED_LOAD1:
        problems.append(
            f"load1 {load1:.2f} at start > {SETTLED_LOAD1:g} — a heavy "
            "run preceded this bench"
        )
    if steal is not None and float(steal) > SETTLED_STEAL_PCT:
        problems.append(
            f"hypervisor steal {float(steal):.1f}% during the session > "
            f"{SETTLED_STEAL_PCT:g}% — external contention"
        )
    if problems:
        return (
            "session context: NOT SETTLED ("
            + "; ".join(problems)
            + ") — treat this session's floor evidence as advisory"
        )
    steal_note = (
        f", steal {float(steal):.1f}%" if steal is not None else ""
    )
    return (
        f"session context: settled (load1 {load1:.2f} at start, "
        f"threshold {SETTLED_LOAD1:g}{steal_note})"
    )


def main(argv: list[str]) -> int:
    with open(FLOOR_PATH) as fh:
        floors = json.load(fh)
    floor = dict(floors["headline"])
    floor.update(floors["extended"])
    if argv[1:2] == ["--ledger"]:
        # `--ledger` = newest ledger entry; `--ledger r11b` = that label's
        # newest entry (labels are set via SPARK_GRAFT_SESSION_LABEL)
        parsed = load_record(None, ledger_label=argv[2] if len(argv) > 2 else "")
    else:
        parsed = load_record(argv[1] if len(argv) > 1 else None)
    times = times_from(parsed)
    print(session_context(parsed))
    bad, better = check(floor, times)
    # Per-query steal attribution (r10i lesson): a trip that ran under a
    # measured contention burst carries that fact on its line. The trip
    # still FAILS — attribution informs the floor-median ruling, it does
    # not excuse the session.
    qsteal = (parsed.get("load") or {}).get("query_steal_pct") or {}
    bad = [
        line
        + (
            f" [steal {float(qsteal[k]):.1f}% during this query — "
            "external contention measured]"
            if (k := line.split(":", 1)[0]) in qsteal
            and float(qsteal[k]) > SETTLED_STEAL_PCT
            else ""
        )
        for line in bad
    ]
    for line in better:
        print(f"note: {line}")
    if bad:
        print(f"BENCH GUARD FAILED — {len(bad)} regression(s) vs floor:")
        for line in bad:
            print(f"  {line}")
        return 1
    print(f"bench guard clean: {len(floor)} queries within {RATIO:g}x floor")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
