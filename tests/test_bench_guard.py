"""The bench regression guard must actually FIRE — mutation-test its
comparison logic (no Spark needed), and optionally run the full guarded
bench when SPARK_GRAFT_BENCH_GUARD=1."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tools.bench_guard import (
    ABS_SLACK,
    FLOOR_PATH,
    RATIO,
    SETTLED_LOAD1,
    check,
    load_times,
    session_context,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _floor() -> dict[str, float]:
    with open(FLOOR_PATH) as fh:
        floors = json.load(fh)
    merged = dict(floors["headline"])
    merged.update(floors["extended"])
    return merged


def test_floor_file_covers_bench_lists():
    import bench

    floor = _floor()
    assert set(bench.HEADLINE) <= set(floor), "headline query missing a floor"
    assert set(bench.EXTENDED) <= set(floor), "extended query missing a floor"


def test_guard_passes_on_floor_itself():
    floor = _floor()
    bad, _ = check(floor, dict(floor))
    assert bad == []


def test_guard_catches_regression():
    floor = _floor()
    times = dict(floor)
    times["dedup_ngram_jaccard"] = floor["dedup_ngram_jaccard"] * 3  # >2x, >0.5s
    bad, _ = check(floor, times)
    assert len(bad) == 1 and "dedup_ngram_jaccard" in bad[0]


def test_guard_catches_missing_query():
    floor = _floor()
    times = dict(floor)
    del times["wordcount"]
    bad, _ = check(floor, times)
    assert any("wordcount" in b and "MISSING" in b for b in bad)


def test_guard_catches_unfloored_query():
    """A benched query with no committed floor is unguarded — the exact
    round-5 gap (55.8s similarity_knn_clusters sat in EXTENDED with no
    floor and check() silently skipped it)."""
    floor = _floor()
    times = dict(floor)
    times["brand_new_heavy_query"] = 55.8
    bad, _ = check(floor, times)
    assert any(
        "brand_new_heavy_query" in b and "NO FLOOR" in b for b in bad
    )


def test_guard_tolerates_subsecond_noise():
    """Doubling a 0.2s query is scheduler noise, not a regression."""
    floor = _floor()
    times = dict(floor)
    times["topk"] = floor["topk"] * 2.2  # >2x but < ABS_SLACK over floor
    assert times["topk"] - floor["topk"] < ABS_SLACK
    bad, _ = check(floor, times)
    assert bad == []


def test_guard_suggests_ratchet_on_improvement():
    floor = _floor()
    times = dict(floor)
    times["similarity_knn_graph"] = floor["similarity_knn_graph"] * 0.3
    bad, better = check(floor, times)
    assert bad == []
    assert any("similarity_knn_graph" in b for b in better)


def test_guard_ratio_is_the_contract_2x():
    assert RATIO == 2.0


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_BENCH_GUARD") != "1",
    reason="full bench run only when SPARK_GRAFT_BENCH_GUARD=1",
)
def test_full_bench_within_floor():
    """Run bench.py at sf0.1 and require every query within 2x floor."""
    floor = _floor()
    times = load_times(None)
    bad, _ = check(floor, times)
    assert bad == [], "\n".join(bad)


def test_guard_cli_reads_driver_bench_record(tmp_path):
    """The CLI accepts the driver's BENCH_r{N}.json wrapper shape."""
    floor = _floor()
    rec = {
        "n": 99,
        "parsed": {
            "queries": {k: v for k, v in floor.items()},
            "extended": {},
        },
    }
    p = tmp_path / "BENCH_r99.json"
    p.write_text(json.dumps(rec))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_guard.py"), str(p)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "clean" in out.stdout


def test_session_context_settled_vs_unsettled():
    """Round-9 ask #5: the settled-session rule is executable, not prose —
    the guard annotates (never fails on) the record's start-load field."""
    settled = {"load": {"start": [1.2, 3.0, 5.0], "end": [20.0, 9.0, 6.0]}}
    assert "settled" in session_context(settled)
    assert "NOT SETTLED" not in session_context(settled)
    hot = {"load": {"start": [SETTLED_LOAD1 * 3, 20.0, 10.0], "end": [22.0, 20.0, 11.0]}}
    assert "NOT SETTLED" in session_context(hot)
    assert "advisory" in session_context(hot)


def test_session_context_flags_hypervisor_steal():
    """The r10a artifact class: a loadavg-settled start with external
    contention during the run. steal_pct above threshold must annotate
    NOT SETTLED even when load1 is low; at/below threshold (or absent,
    for records written off-Linux) it must not."""
    hot = {"load": {"start": [1.5, 1.0, 1.0], "steal_pct": 12.3}}
    out = session_context(hot)
    assert "NOT SETTLED" in out and "steal 12.3%" in out
    calm = {"load": {"start": [1.5, 1.0, 1.0], "steal_pct": 0.4}}
    out = session_context(calm)
    assert "NOT SETTLED" not in out and "steal 0.4%" in out
    no_steal = {"load": {"start": [1.5, 1.0, 1.0], "steal_pct": None}}
    assert "NOT SETTLED" not in session_context(no_steal)


def test_bench_cpu_stat_sample_and_steal_math():
    """_cpu_stat_sample parses this Linux box's /proc/stat; _steal_pct
    turns bracketing samples into a window percentage and degrades to
    None on missing/zero-width samples."""
    import bench

    s = bench._cpu_stat_sample()
    assert s is not None and s[0] > 0 and s[1] >= 0
    assert bench._steal_pct((1000, 10), (2000, 110)) == 10.0
    assert bench._steal_pct(None, (2000, 110)) is None
    assert bench._steal_pct((1000, 10), (1000, 10)) is None


def test_session_context_unknown_for_pre_r10_records():
    """Old BENCH_r{N}.json records lack the load field — annotate as
    unknown rather than guessing either way."""
    assert "unknown" in session_context({"queries": {"wordcount": 1.0}})
    assert "unknown" in session_context({"load": {}})


def test_unsettled_session_never_fails_the_guard(tmp_path):
    """Load context is an annotation ONLY: a hot-start record whose times
    all sit on floor must still exit 0, with the NOT SETTLED line printed."""
    floor = _floor()
    rec = {
        "parsed": {
            "queries": dict(floor),
            "extended": {},
            "load": {"start": [30.0, 25.0, 12.0], "end": [31.0, 27.0, 14.0]},
        }
    }
    p = tmp_path / "hot.json"
    p.write_text(json.dumps(rec))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_guard.py"), str(p)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "NOT SETTLED" in out.stdout
    assert "clean" in out.stdout


def test_bench_records_load_context():
    """bench.py must put getloadavg() start/end triples into the JSON —
    pinned via AST so the field can't silently drop out of the record."""
    import ast

    src = open(os.path.join(REPO, "bench.py")).read()
    tree = ast.parse(src)
    calls = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "getloadavg"
    ]
    assert len(calls) >= 2, "bench.py must sample loadavg at start AND end"
    assert '"load"' in src and '"start"' in src and '"end"' in src


def test_floor_medians_session_filter(tmp_path):
    """tools/floor_medians.py encodes the ratchet discipline: guard-red
    and not-settled sessions are excluded from medians; pre-load-field
    records count as settled (the r08/r09 protocol vetted them by hand)."""
    from tools.floor_medians import _settled, load_sessions

    assert _settled({"queries": {}})  # pre-field record
    assert _settled({"load": {"start": [1.0, 1, 1], "steal_pct": 0.1}})
    assert not _settled({"load": {"start": [9.0, 1, 1]}})
    assert not _settled({"load": {"start": [1.0, 1, 1], "steal_pct": 9.9}})

    floor = _floor()
    clean = {"queries": dict(floor), "extended": {},
             "load": {"start": [1.0, 1, 1], "steal_pct": 0.0}}
    red = {"queries": {**floor, "wordcount": floor["wordcount"] * 5},
           "extended": {}, "load": {"start": [1.0, 1, 1]}}
    hot = {"queries": dict(floor), "extended": {},
           "load": {"start": [30.0, 9, 9]}}
    paths = []
    for name, rec in [("a.json", clean), ("b.json", red), ("c.json", hot)]:
        p = tmp_path / name
        p.write_text(json.dumps(rec))
        paths.append(str(p))
    used, skipped = load_sessions(paths, floor)
    assert [os.path.basename(p) for p, _ in used] == ["a.json"]
    reasons = {os.path.basename(p): why for p, why in skipped}
    assert "guard-red" in reasons["b.json"]
    assert reasons["c.json"] == "not settled"


def test_guard_attributes_trips_to_query_level_steal(tmp_path):
    """r10i lesson: a guard trip whose query ran under a measured steal
    burst must carry the attribution on its line (and still FAIL — the
    annotation informs the median ruling, it never excuses a session)."""
    floor = _floor()
    times = dict(floor)
    times["wordcount"] = floor["wordcount"] * 3 + 1.0
    times["topk"] = floor["topk"] * 3 + 1.0
    rec = {
        "parsed": {
            "queries": times,
            "extended": {},
            "load": {
                "start": [0.2, 0.5, 0.9],
                "steal_pct": 0.3,
                "query_steal_pct": {"wordcount": 11.5, "topk": 0.1},
            },
        }
    }
    p = tmp_path / "burst.json"
    p.write_text(json.dumps(rec))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_guard.py"), str(p)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert out.returncode == 1
    lines = out.stdout.splitlines()
    wc = next(l for l in lines if l.strip().startswith("wordcount:"))
    tk = next(l for l in lines if l.strip().startswith("topk:"))
    assert "steal 11.5% during this query" in wc
    assert "steal" not in tk


def test_bench_records_per_query_steal():
    """The timed() wrapper must bracket EVERY benched query with cpu
    samples — pinned on source so the field can't silently drop."""
    src = open(os.path.join(REPO, "bench.py")).read()
    assert '"query_steal_pct"' in src
    assert "def timed(" in src


def test_ledger_append_and_read(tmp_path, monkeypatch):
    """Round-10 ask #8: bench.py appends each session to
    BENCH_SESSIONS.jsonl; ledger_records skips torn lines; the guard and
    floor_medians consume ledger entries."""
    import bench
    from tools.bench_guard import ledger_records, load_record

    ledger = tmp_path / "BENCH_SESSIONS.jsonl"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_LEDGER", str(ledger))
    monkeypatch.setenv("SPARK_GRAFT_SESSION_LABEL", "rXXtest")
    bench._append_ledger({"value": 1.0, "queries": {"wordcount": 1.0}})
    monkeypatch.delenv("SPARK_GRAFT_SESSION_LABEL")
    bench._append_ledger({"value": 2.0, "queries": {"wordcount": 2.0}})
    ledger.write_text(ledger.read_text() + "{torn json\n")

    recs = ledger_records(str(ledger))
    assert len(recs) == 2, "torn line must be skipped, valid lines kept"
    assert recs[0]["label"] == "rXXtest" and "ts" in recs[0]
    assert "label" not in recs[1]

    monkeypatch.setattr("tools.bench_guard.LEDGER_PATH", str(ledger))
    assert load_record(None, ledger_label="rXXtest")["value"] == 1.0
    assert load_record(None, ledger_label="")["value"] == 2.0
    with pytest.raises(SystemExit):
        load_record(None, ledger_label="no-such-label")


def test_floor_medians_accepts_ledger_pairs():
    """load_sessions must take (name, parsed-record) pairs — the shape
    the --ledger mode feeds it — alongside file paths."""
    from tools.floor_medians import load_sessions

    floor = _floor()
    clean = {"queries": dict(floor), "extended": {},
             "load": {"start": [1.0, 1, 1], "steal_pct": 0.0}}
    hot = {"queries": dict(floor), "extended": {},
           "load": {"start": [30.0, 9, 9]}}
    used, skipped = load_sessions([("r11x", clean), ("r11y", hot)], floor)
    assert [n for n, _ in used] == ["r11x"]
    assert [n for n, _ in skipped] == ["r11y"]


def _worst_case_record() -> dict:
    """A full bench record with every timing at its widest plausible
    width (999.999 s) and a full ledger-grade load block."""
    import bench

    queries = dict.fromkeys(bench.HEADLINE, 999.999)
    extended = dict.fromkeys(bench.EXTENDED, 999.999)
    return {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "extended": extended,
        "extended_total": round(sum(extended.values()), 3),
        "sf": 0.001,
        "load": {
            "start": [999.99, 999.99, 999.99],
            "end": [999.99, 999.99, 999.99],
            "steal_pct": 100.0,
            "query_steal_pct": dict.fromkeys([*queries, *extended], 100.0),
        },
    }


def test_compact_record_fits_the_capture_bound():
    """The final stdout line must parse from the driver's 2000-char
    stdout tail: the worst-case record serialises under the bound, keeps
    the contract keys in their order and carries only the small load
    scalar (never the per-query steal map)."""
    import bench

    line = json.dumps(bench.compact_record(_worst_case_record()))
    assert len(line) < 2000, len(line)
    compact = json.loads(line)
    assert list(compact) == [
        "metric", "value", "unit", "queries", "extended",
        "extended_total", "sf", "load",
    ]
    assert list(compact["queries"]) == bench.HEADLINE
    assert list(compact["extended"]) == bench.EXTENDED
    assert compact["load"] == {"start": [999.99, 999.99, 999.99],
                               "steal_pct": 100.0}


def test_session_context_reads_the_compact_record():
    """The fresh-run and driver-wrapper paths see only the compact line:
    it must carry enough load context for a real settled / NOT SETTLED
    annotation."""
    import bench

    record = _worst_case_record()
    out = session_context(bench.compact_record(record))
    assert "unknown" not in out and "NOT SETTLED" in out
    record["load"].update(start=[0.5, 0.5, 0.5], steal_pct=0.3)
    out = session_context(bench.compact_record(record))
    assert "unknown" not in out and "settled (load1 0.50" in out
