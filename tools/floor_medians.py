"""Floor-ratchet evidence: per-query MEDIANS across bench sessions.

The ratchet discipline (rounds 8–9, twice upheld against best-session
readings): a floor may only move DOWN when the per-query MEDIAN across
at least MIN_SESSIONS settled, guard-clean sessions sits below
RATCHET_FRACTION of the committed floor. One quiet session is never
evidence. This tool makes the rule executable instead of ad hoc:

    python tools/floor_medians.py BENCH_LOCAL_r10*.json
    python tools/floor_medians.py --all-r 9 10     # r09*+r10* session files
    python tools/floor_medians.py --ledger r11     # ledger entries whose
                                                   # label starts with r11
    python tools/floor_medians.py --ledger         # every ledger entry

Sessions are EXCLUDED from medians when (a) the guard flags any
regression in them, or (b) their own load context says NOT SETTLED
(load1 at start or steal% during the window above its threshold —
records predating the load field count as settled, matching how the
r08/r09 medians were taken by hand).
Output: one line per query whose median is notable (below
RATCHET_FRACTION -> ratchet candidate; above WATCH_RATIO -> drift
watch), then a summary. Exit code is always 0 — this is evidence, not
a gate; the GUARD is the gate.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_guard import (  # noqa: E402
    FLOOR_PATH,
    SETTLED_LOAD1,
    SETTLED_STEAL_PCT,
    check,
    ledger_records,
    times_from,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_SESSIONS = 5
RATCHET_FRACTION = 0.8  # median below this x floor -> ratchet candidate
WATCH_RATIO = 1.5  # median above this x floor -> drift watch line


def _settled(parsed: dict) -> bool:
    load = parsed.get("load") or {}
    start = load.get("start")
    if not start:
        return True  # pre-field record: the old protocol vetted it by hand
    if float(start[0]) > SETTLED_LOAD1:
        return False
    steal = load.get("steal_pct")
    return steal is None or float(steal) <= SETTLED_STEAL_PCT


def load_sessions(paths: list[str], floor: dict[str, float]):
    """Filter sessions to settled + guard-clean. ``paths`` entries are
    file paths, or (name, parsed-record) pairs for ledger entries."""
    named: list[tuple[str, dict]] = []
    for p in paths:
        if isinstance(p, tuple):
            named.append(p)
            continue
        try:
            with open(p) as fh:
                named.append((p, json.load(fh)))
        except (OSError, ValueError):
            named.append((p, {"__unreadable__": True}))
    used, skipped = [], []
    for p, parsed in sorted(named, key=lambda np: np[0]):
        if parsed.get("__unreadable__"):
            skipped.append((p, "unreadable"))
            continue
        if "parsed" in parsed:
            parsed = parsed["parsed"]
        times = times_from(parsed)
        if not times:
            skipped.append((p, "no times"))
            continue
        bad, _ = check(floor, times)
        if bad:
            skipped.append((p, f"guard-red ({len(bad)})"))
            continue
        if not _settled(parsed):
            skipped.append((p, "not settled"))
            continue
        used.append((p, times))
    return used, skipped


def main(argv: list[str]) -> int:
    with open(FLOOR_PATH) as fh:
        floors = json.load(fh)
    floor = dict(floors["headline"])
    floor.update(floors["extended"])

    args = argv[1:]
    if args[:1] == ["--all-r"]:
        paths = []
        for r in args[1:]:
            pat = f"BENCH_LOCAL_r{int(r):02d}*.json"
            # pre-ledger rounds live under evidence/archive/ (r12 hygiene)
            paths += glob.glob(os.path.join(REPO, pat)) + glob.glob(
                os.path.join(REPO, "evidence", "archive", pat)
            )
    elif args[:1] == ["--ledger"]:
        prefix = args[1] if len(args) > 1 else ""
        records = list(ledger_records())
        paths = [
            (rec.get("label") or f"ts{rec.get('ts', i)}", rec)
            for i, rec in enumerate(records)
            if (rec.get("label") or "").startswith(prefix)
        ]
        # a non-empty prefix silently drops sessions benched without
        # SPARK_GRAFT_SESSION_LABEL — surface the coverage cap like the
        # other skipped-session lines instead of hiding it
        if prefix:
            unlabeled = [rec for rec in records if not rec.get("label")]
            if unlabeled:
                print(
                    f"note: {len(unlabeled)} unlabeled ledger entr"
                    f"{'y' if len(unlabeled) == 1 else 'ies'} excluded by "
                    f"prefix {prefix!r} (e.g. ts {unlabeled[0].get('ts')})"
                )
        # remaining args after the prefix are extra loose files to mix in
        paths += args[2:]
    else:
        paths = args
    used, skipped = load_sessions(paths, floor)
    for p, why in skipped:
        print(f"excluded: {os.path.basename(p)} — {why}")
    print(f"sessions in medians: {len(used)}"
          f" ({', '.join(os.path.basename(p) for p, _ in used)})")
    if len(used) < MIN_SESSIONS:
        print(
            f"INSUFFICIENT EVIDENCE: {len(used)} settled guard-clean "
            f"sessions < {MIN_SESSIONS} — no ratchet may be taken"
        )

    ratchet, watch = [], []
    for key, ref in sorted(floor.items()):
        vals = [t[key] for _, t in used if key in t]
        if not vals:
            continue
        med = statistics.median(vals)
        if med < RATCHET_FRACTION * ref and len(used) >= MIN_SESSIONS:
            ratchet.append(
                f"{key}: median {med:.3f}s < {RATCHET_FRACTION:g}x floor "
                f"{ref:.3f}s over {len(vals)} sessions — ratchet candidate"
            )
        elif med > WATCH_RATIO * ref:
            watch.append(
                f"{key}: median {med:.3f}s = {med / ref:.2f}x floor "
                f"{ref:.3f}s — drift watch"
            )
    for line in ratchet:
        print(f"RATCHET: {line}")
    for line in watch:
        print(f"watch: {line}")
    if not ratchet:
        print("no ratchet candidates on median evidence")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
