#!/usr/bin/env python
"""Executable trip-attribution rule (round-13 watch closure).

SCALING_r13.md closed the excursion watches with a prose rule; this tool
IS that rule, so future guard trips get a mechanical first ruling
instead of a fresh investigation. For a (session label, key) it reads
BENCH_SESSIONS.jsonl + WORKER_CENSUS.jsonl and evaluates, in order of
evidentiary strength:

1. per-query steal (hypervisor-level, unambiguous): steal during the
   bracket >= 1.0% -> EXTERNAL.
2. worker CPU inflation at constant layout: the bracket's max per-worker
   CPU >= 2x the key's minimum across quiet sessions, with no abnormal
   spawn/death churn -> EXTERNAL (cycles-per-work inflation; the work is
   constant). Abnormal churn (died > 0 mid-key, or spawned beyond pool
   growth while n_before was already full-width) -> ENGINE-SUSPECT.
3. membw spot collapse (< 4.5 GB/s) at either edge of the bracket or
   either edge of an adjacent bracket -> EXTERNAL (corroborating only —
   see the spot-probe reliability caveat in SCALING_r13.md; never the
   sole basis for ENGINE-SUSPECT).

If none of the three signals fires, the verdict is ENGINE-SUSPECT:
bisect with isolated, interleaved A/B runs before touching any floor.
The tool never edits BENCH_FLOOR.json — ratchets remain the exclusive
business of tools/floor_medians.py.

Usage: python tools/trip_rule.py <session-label> <key> [key ...]
       python tools/trip_rule.py <session-label>          # every guard trip
Exit 0 always (it is a report, not a gate).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

STEAL_EXTERNAL_PCT = 1.0
SPOT_COLLAPSE_GBPS = 4.5
CPU_INFLATION_X = 2.0
# Signal-2 comparability guard (ADVICE r13): the quiet-session CPU floor
# is only meaningful when the floor bracket ran the key over a similar
# number of workers — a session that spread the same work over 2x the
# workers halves max-per-worker and would launder a legitimate
# parallelism change as EXTERNAL "cycles-per-work inflation".
WORKER_COUNT_COMPARABLE_X = 2.0


def _load_jsonl(path: str) -> list[dict]:
    out = []
    try:
        with open(path) as fh:
            for line in fh:
                try:
                    out.append(json.loads(line))
                except ValueError:
                    continue
    except OSError:
        pass
    return out


def _ledger_path() -> str:
    return os.environ.get("SPARK_GRAFT_BENCH_LEDGER") or os.path.join(
        REPO, "BENCH_SESSIONS.jsonl"
    )


def _census_path() -> str:
    return os.environ.get("SPARK_GRAFT_CENSUS_OUT") or os.path.join(
        REPO, "WORKER_CENSUS.jsonl"
    )


def _session(label: str) -> dict | None:
    rows = [
        r for r in _load_jsonl(_ledger_path()) if r.get("label") == label
    ]
    return rows[-1] if rows else None


def _census(label: str) -> list[dict]:
    rows = [
        r for r in _load_jsonl(_census_path()) if r.get("label") == label
    ]
    return rows[-1]["queries"] if rows else []


def _quiet_cpu_floor(
    key: str, n_workers: int | None = None
) -> tuple[float, float] | None:
    """(min max-per-worker CPU, that bracket's total worked CPU) for the
    key across census sessions — the best observed cycles-per-work the
    inflation ratio is judged against. When ``n_workers`` is given, only
    brackets whose worked-worker count is within WORKER_COUNT_COMPARABLE_X
    of it qualify (ADVICE r13: a quieter session that spread the same work
    over more workers yields an artificially low per-worker floor). None
    if no comparable bracket shows worker CPU (JVM-side key)."""
    best: tuple[float, float] | None = None
    for rec in _load_jsonl(_census_path()):
        for q in rec.get("queries", []):
            if q.get("key") != key:
                continue
            worked = q.get("worked") or {}
            if not worked:
                continue
            if n_workers:
                ratio = len(worked) / n_workers
                if not (
                    1.0 / WORKER_COUNT_COMPARABLE_X
                    <= ratio
                    <= WORKER_COUNT_COMPARABLE_X
                ):
                    continue
            m = max(worked.values())
            if best is None or m < best[0]:
                best = (m, sum(worked.values()))
    return best


def _pool_full_width() -> int:
    """The worker pool's full width, derived from the census itself (the
    max pool size ever observed) instead of a hardcoded 30-for-this-box
    constant (ADVICE r13) — on a host with a different pool width the
    "spawn churn at full width" branch would otherwise never fire.
    SPARK_GRAFT_POOL_FULL_WIDTH overrides (tests, odd hosts). Falls back
    to 33 (32 workers + daemon on the reference box) when the census is
    empty."""
    env = os.environ.get("SPARK_GRAFT_POOL_FULL_WIDTH")
    if env:
        try:
            return int(env)
        except ValueError:
            pass
    widest = 0
    for rec in _load_jsonl(_census_path()):
        for q in rec.get("queries", []):
            widest = max(
                widest, q.get("n_before", 0), q.get("n_after", 0)
            )
    return widest or 33


def rule(
    label: str,
    key: str,
    sess: dict | None = None,
    qs: list[dict] | None = None,
) -> dict:
    """Evaluate the three signals; returns a dict with the verdict and
    the evidence each signal saw (None = signal unavailable).

    ``sess`` / ``qs`` inject an in-memory session record and census
    bracket list (bench.py rules its own trips AT RECORD TIME, before
    the ledger/census lines exist on disk — round-13 verdict ask #3);
    left None, both are looked up from the committed files by label.
    The quiet-CPU floor always reads the census FILE: history judges
    the bracket, never the bracket itself."""
    out: dict = {"label": label, "key": key, "signals": {}}
    if sess is None:
        sess = _session(label)
    if qs is None:
        qs = _census(label)
    idx = next((i for i, q in enumerate(qs) if q.get("key") == key), None)
    bracket = qs[idx] if idx is not None else None

    # signal 1: per-query steal
    steal = None
    if sess:
        steal = (sess.get("load") or {}).get("query_steal_pct", {}).get(key)
    out["signals"]["steal_pct"] = steal
    if steal is not None and steal >= STEAL_EXTERNAL_PCT:
        out["verdict"] = "EXTERNAL"
        out["basis"] = f"steal {steal}% >= {STEAL_EXTERNAL_PCT}% during the bracket"
        return out

    # signal 2: per-worker CPU inflation at constant layout
    if bracket:
        worked = bracket.get("worked") or {}
        # pool already full-width: derived from the census, not hardcoded
        # (ADVICE r13); 90% of the widest pool ever seen reproduces the
        # old >= 30 cut on the 33-process reference box
        full_width = _pool_full_width()
        churn_bad = bool(bracket.get("died_pids")) or (
            bracket.get("spawned", 0) > 0
            and bracket.get("n_before", 0) >= int(0.9 * full_width)
        )
        out["signals"]["died_pids"] = bracket.get("died_pids")
        out["signals"]["spawned"] = bracket.get("spawned")
        if worked:
            m = max(worked.values())
            total = sum(worked.values())
            base = _quiet_cpu_floor(key, n_workers=len(worked))
            out["signals"]["cpu_max_s"] = m
            out["signals"]["cpu_total_s"] = round(total, 2)
            out["signals"]["cpu_quiet_floor_s"] = base and base[0]
            out["signals"]["cpu_quiet_floor_total_s"] = base and base[1]
            if churn_bad:
                out["verdict"] = "ENGINE-SUSPECT"
                out["basis"] = (
                    "abnormal worker churn inside the bracket "
                    f"(died={bracket.get('died_pids')}, "
                    f"spawned={bracket.get('spawned')}) — bisect before "
                    "any floor action"
                )
                return out
            # Both the per-worker max AND the pool total must inflate:
            # total CPU is worker-count-invariant, so a parallelism
            # change (same work, fewer workers) inflates the max but not
            # the total and correctly falls through (ADVICE r13).
            if (
                base
                and m >= CPU_INFLATION_X * base[0]
                and total >= CPU_INFLATION_X * base[1]
            ):
                out["verdict"] = "EXTERNAL"
                out["basis"] = (
                    f"worker CPU {m:.2f}s >= {CPU_INFLATION_X}x the "
                    f"comparable quiet-session floor {base[0]:.2f}s and "
                    f"pool total {total:.2f}s >= {CPU_INFLATION_X}x "
                    f"{base[1]:.2f}s at constant layout "
                    "(cycles-per-work inflation)"
                )
                return out

    # signal 3: membw spot collapse on this or an adjacent bracket —
    # EFFECTIVE readings (pair max): the r14 probe showed the first
    # copy after a stage self-stalls ~60% of the time, so a collapsed
    # first spot with a clean second must not corroborate EXTERNAL
    def spots(i):
        if i is None or not (0 <= i < len(qs)):
            return []
        from bench_guard import effective_spots  # noqa: PLC0415

        return effective_spots(qs[i])

    near = []
    if idx is not None:
        for i in (idx - 1, idx, idx + 1):
            near.extend(spots(i))
    collapsed = [v for v in near if v < SPOT_COLLAPSE_GBPS]
    out["signals"]["membw_spots_near"] = near
    if collapsed:
        out["verdict"] = "EXTERNAL"
        out["basis"] = (
            f"membw spot(s) {collapsed} < {SPOT_COLLAPSE_GBPS} GB/s on or "
            "adjacent to the bracket (corroborating signal; see the "
            "spot-reliability caveat)"
        )
        return out

    out["verdict"] = "ENGINE-SUSPECT"
    if not qs:
        # Census-off session: signals 2 (per-worker CPU inflation) and 3
        # (membw spots) had NO DATA, so this default is data-starved, not
        # evidence-backed — the verdict stays ENGINE-SUSPECT (the
        # anti-laundering pin), but the basis must say the channels were
        # absent so a reader runs the isolated-replay probe rather than
        # treating it as "all channels read clean" (r14n: a gram trip
        # read ENGINE-SUSPECT solely because the session ran without
        # SPARK_GRAFT_WORKER_CENSUS=1; the probe then showed the
        # standing signal-2 mechanism).
        out["basis"] = (
            "steal quiet and census channels ABSENT (session ran without "
            "SPARK_GRAFT_WORKER_CENSUS=1) — CPU-inflation and membw-spot "
            "signals had no data; probe with tools/probe_key_replay.py "
            "before touching any floor"
        )
        return out
    out["basis"] = (
        "no external signal fired — bisect with isolated, interleaved "
        "A/B runs (SCALING_r13.md pattern; perfbench/run.py --trace 1 "
        "for the per-layer split) before touching any floor"
    )
    return out


def trip_keys(times: dict[str, float], floor: dict[str, float]) -> list[str]:
    """Keys whose measured time trips the bench guard's ratio rule."""
    from bench_guard import check  # noqa: PLC0415

    bad, _ = check(floor, times)
    # check() returns human-readable lines "key: 3.3s > 2x floor ..."
    return [
        ln.split(":", 1)[0]
        for ln in bad
        if "> " in ln  # only ratio trips, not missing-floor reports
    ]


def rule_record(
    record: dict,
    census_rows: list[dict] | None,
    floor: dict[str, float],
    label: str | None = None,
) -> list[dict]:
    """Rule every guard trip of an IN-MEMORY bench record (bench.py calls
    this before appending the ledger, so the session's own line carries
    its rulings — round-13 verdict ask #3). The rule never edits floors;
    ENGINE-SUSPECT stays the no-signal default."""
    times = dict(record.get("queries") or {})
    times.update(record.get("extended") or {})
    return [
        rule(label or "<this-session>", k, sess=record, qs=census_rows or [])
        for k in trip_keys(times, floor)
    ]


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__)
        return
    label = sys.argv[1]
    keys = sys.argv[2:]
    if not keys:
        # every guard trip in the session
        import json as _json  # noqa: PLC0415

        with open(os.path.join(REPO, "BENCH_FLOOR.json")) as fh:
            floors = _json.load(fh)
        floor = dict(floors["headline"])
        floor.update(floors["extended"])
        sess = _session(label)
        if not sess:
            print(f"no ledger entry labeled {label}")
            return
        times = dict(sess.get("queries") or {})
        times.update(sess.get("extended") or {})
        keys = trip_keys(times, floor)
        if not keys:
            print(f"{label}: no guard trips")
            return
    for k in keys:
        print(json.dumps(rule(label, k)))


if __name__ == "__main__":
    main()
