"""tools/capture_plans.py writes into the round in progress by default: one
past the latest CORRECTNESS_r<N>.json, never a closed round's directory."""

from __future__ import annotations

from tools.capture_plans import default_round


def test_default_round_is_one_past_the_latest_closed_round(tmp_path):
    assert default_round(str(tmp_path)) == "r1"
    for name in ("CORRECTNESS_r09.json", "CORRECTNESS_r15.json",
                 "CORRECTNESS_r2.json", "CORRECTNESS_r99x.json",
                 "CORRECTNESS_latest.json", "BENCH_r40.json"):
        (tmp_path / name).write_text("{}")
    assert default_round(str(tmp_path)) == "r16"
