"""The driver verifies exactly the first 50 keys of ``queries()`` in
iteration order (proven in VERDICT.md round 2: first-50 == CORRECTNESS_r02
keyset). ``__spark_entry__.queries()`` therefore self-rotates: keys with no
row in any accumulated ``CORRECTNESS_r*.json`` sort first, so each round's
window verifies fresh keys until the union covers the registry."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

spec = importlib.util.spec_from_file_location(
    "spark_entry", REPO / "__spark_entry__.py"
)
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)

DRIVER_WINDOW = 50


def _verified() -> set[str]:
    return set(entry_mod._driver_verified_rounds())


def test_failed_rows_rotate_back_into_window():
    """A key whose CORRECTNESS row recorded a FAILURE must count as
    unverified — it has to re-enter the driver's window, not hide behind
    the verified group forever."""
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "err": None}
    rows_only = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "err": "no_oracle"}
    failed_hash = dict(ok, hash_match=False)
    errored = dict(ok, err="Py4JJavaError: ...")
    assert entry_mod._row_passed(ok)
    assert entry_mod._row_passed(rows_only)
    assert not entry_mod._row_passed(failed_hash)
    assert not entry_mod._row_passed(errored)
    # unknown row shapes are unverified, not grandfathered in
    assert not entry_mod._row_passed("ran")
    assert not entry_mod._row_passed(None)


def _changed_tier() -> set[str]:
    """Keys the CHANGED tier lifts out of the stalest-first queue: auto
    source-hash drift plus unexpired hand-pins (mirrors _rotated_keys)."""
    seen = entry_mod._driver_verified_rounds()
    return entry_mod._changed_keys() | {
        k
        for k, need in entry_mod._CHANGED_PIN_KEYS.items()
        if seen.get(k, -1) < need
    }


def test_verified_keys_cycle_stalest_first():
    """Once every key is covered, the window must revisit the keys whose
    last passing driver row is OLDEST, so regressions can't hide forever.
    The CHANGED tier is the one sanctioned exception: a verified key
    whose source was rewritten jumps the queue (its driver row describes
    code that no longer exists)."""
    rounds = entry_mod._driver_verified_rounds()
    changed = _changed_tier()
    keys = list(entry_mod.queries())
    verified_tail = [k for k in keys if k in rounds and k not in changed]
    last = [rounds[k] for k in verified_tail]
    assert last == sorted(last), "verified keys are not ordered stalest-first"


def test_changed_keys_lead_the_window():
    """Round-8 verdict ask #1: every key in the changed tier (source-hash
    drift vs KEY_SOURCE_MANIFEST.json, or an unexpired hand-pin like the
    r08-rewritten stream_asof_enrich) must land inside the driver's
    50-key window, ahead of the stalest-first queue."""
    changed = _changed_tier()
    assert "stream_asof_enrich" in changed or (
        entry_mod._driver_verified_rounds().get("stream_asof_enrich", -1)
        >= entry_mod._CHANGED_PIN_KEYS["stream_asof_enrich"]
    ), "the r08 hand-pin must stay active until a fresh driver row lands"
    window = list(entry_mod.queries())[:DRIVER_WINDOW]
    missing = {k for k in changed if k in set(entry_mod.QUERIES)} - set(
        window
    )
    assert not missing, (
        f"changed keys outside the driver window: {missing}"
    )


def test_changed_tier_is_synthetic_and_expires(monkeypatch):
    """Mechanism pins, independent of the current tree's real drift:
    (a) a verified key reported changed by the manifest jumps to the
    window head (right after failed keys); (b) a hand-pin expires once a
    driver row at/after its round lands."""
    real_seen = entry_mod._driver_verified_rounds()
    victim = max(real_seen, key=lambda k: real_seen[k])  # freshest row
    monkeypatch.setattr(entry_mod, "_changed_keys", lambda: {victim})
    monkeypatch.setattr(entry_mod, "_driver_failed_keys", lambda: [])
    monkeypatch.setattr(entry_mod, "_CHANGED_PIN_KEYS", {})
    rotated = entry_mod._rotated_keys()
    assert rotated[0] == victim, (
        "a source-changed verified key must lead the rotation"
    )

    # (b) expiry: a pin needing round N is inactive once seen >= N
    monkeypatch.setattr(entry_mod, "_changed_keys", lambda: set())
    monkeypatch.setattr(
        entry_mod, "_CHANGED_PIN_KEYS", {victim: real_seen[victim]}
    )
    rotated = entry_mod._rotated_keys()
    assert rotated[0] != victim, "a satisfied hand-pin must expire"


def test_manifest_hash_covers_one_level_helpers():
    """The round-9 self-review found that extracting a key's body into
    a helper reduced its manifest hash to a one-line wrapper — the hash
    must therefore cover same-package callables invoked by bare name,
    pinned here on the exact extractions that motivated it."""
    from mapreduce_6_824_lab1_spark import QUERIES
    from mapreduce_6_824_lab1_spark.manifest import (
        _called_package_callables,
    )

    def called(key):
        return {n for n, _ in _called_package_callables(QUERIES[key])}

    assert "_run_timer_sessions" in called("stream_session_timers_tws")
    assert "_run_session_stream" in called("stream_session_tws")
    # processor classes and cross-module helpers count too
    assert "_run_type_counts" in called("stream_type_counts_tws")
    assert "_stage_event_id_slices" in called("stream_user_median_tws")
    assert "_BootstrapTypeCountProcessor" in called(
        "stream_bootstrap_counts_tws"
    )


def test_manifest_covers_every_driver_verified_key():
    """Refresh discipline (manifest.py): the committed manifest must hold
    a hash for every key with a driver row — a verified key missing from
    the manifest could be rewritten without ever re-entering the window.
    Manifest keys must also all resolve in the registry (no tombstones)."""
    from mapreduce_6_824_lab1_spark.manifest import load_manifest

    manifest = load_manifest()
    man = manifest.get("keys", {})
    assert man, "KEY_SOURCE_MANIFEST.json missing or empty"
    seen = set(entry_mod._driver_verified_rounds())
    registry = set(entry_mod.QUERIES)
    unhashed = seen - set(man)
    assert not unhashed, f"driver-verified keys without a manifest hash: {unhashed}"
    stale_entries = set(man) - registry
    assert not stale_entries, f"manifest tombstones: {stale_entries}"
    # freshness: the snapshot must be of the LATEST closed round's tree.
    # When a new CORRECTNESS_r{N}.json lands, this fails until the next
    # round's builder runs tools/refresh_source_manifest.py {N} as its
    # FIRST action (before editing) — the refresh-at-round-start
    # discipline the changed tier's under-report analysis relies on.
    latest_round = max(
        (r for r, _ in entry_mod._correctness_rounds()), default=0
    )
    assert manifest.get("round") == latest_round, (
        f"manifest snapshot is of round {manifest.get('round')} but the "
        f"latest driver evidence is round {latest_round} — run "
        f"tools/refresh_source_manifest.py {latest_round} BEFORE editing; "
        f"once edits have landed, snapshot the round-{latest_round} close "
        f"commit instead (git archive it, run the tool in that tree, copy "
        f"KEY_SOURCE_MANIFEST.json back) — a snapshot of the edited tree "
        f"hides those edits from the changed tier"
    )


def test_queries_window_prioritizes_unverified_keys():
    """While unverified keys remain, no STALE-tier key (verified,
    unchanged, unfailed) may sit ahead of a fresh key — the window head
    is reserved for failed + changed + priority + fresh. (Before the
    changed tier this read 'the head is solely fresh keys'; changed
    keys are verified keys with a sanctioned head claim.)"""
    keys = list(entry_mod.queries())
    seen = _verified()
    changed = _changed_tier()
    failed = set(entry_mod._driver_failed_keys())
    head_tiers = changed | failed
    fresh_pos = [i for i, k in enumerate(keys) if k not in seen]
    stale_pos = [
        i
        for i, k in enumerate(keys)
        if k in seen and k not in head_tiers
    ]
    if fresh_pos and stale_pos:
        assert max(fresh_pos) < min(stale_pos), (
            "a stale-tier key displaced a fresh key from the window head"
        )
    n_head = len(fresh_pos) + len(
        [k for k in head_tiers if k in set(keys)]
    )
    window = keys[:DRIVER_WINDOW]
    expect = min(DRIVER_WINDOW, n_head)
    assert all(
        (k not in seen) or (k in head_tiers) for k in window[:expect]
    ), (
        "driver window contains stale-tier keys while "
        f"{len(fresh_pos)} keys still lack any CORRECTNESS row"
    )


def test_queries_is_complete_registry():
    from mapreduce_6_824_lab1_spark import ORACLES, QUERIES

    assert set(entry_mod.queries()) == set(QUERIES)
    assert set(entry_mod.oracle_sql()) == set(ORACLES)


def test_fresh_keys_spread_proportionally_by_family():
    """With more fresh keys than window slots, every family must land a
    ~proportional share of the driver's window (plain registry order
    starved the late-registered stream_*/source_* families for two
    rounds). Pins: (a) within-family order preserved; (b) any family's
    window share is within 2 of its proportional entitlement."""
    rotated = entry_mod._rotated_keys()
    seen = _verified()
    fresh = [k for k in rotated if k not in seen]
    if len(fresh) <= DRIVER_WINDOW:
        return  # nothing to ration
    window_fresh = fresh[:DRIVER_WINDOW]

    fams: dict[str, list[str]] = {}
    for k in fresh:
        fams.setdefault(k.split("_", 1)[0], []).append(k)
    registry = list(entry_mod.QUERIES)
    for fam, ks in fams.items():
        idx = [registry.index(k) for k in ks]
        assert idx == sorted(idx), f"family {fam} reordered"
        share = sum(1 for k in window_fresh if k in set(ks))
        entitlement = DRIVER_WINDOW * len(ks) / len(fresh)
        # integer-granularity band around the proportional quota — the
        # invariant is no-starvation/no-hogging, not exact shares (frac
        # ties break by registry order, so big early-registered families
        # land a couple of extra slots as the registry grows)
        import math

        assert math.floor(entitlement) - 2 <= share <= math.ceil(
            entitlement
        ) + 2, (fam, share, entitlement, len(ks))


def test_r07_transition_surfaces_final_unverified_remainder(monkeypatch):
    """Simulate the round-6 window coming back green: the union of real
    CORRECTNESS rows plus the current window's 50 keys must leave the
    rotation with the never-verified remainder at its head — and, while
    the repo still holds only the r01-r05 files, that remainder is the
    exact 6 keys the round-6 handoff documents (264/264 closes at r07)."""
    real = entry_mod._driver_verified_rounds()
    window = entry_mod._rotated_keys()[:DRIVER_WINDOW]
    simulated = dict(real, **{k: 6 for k in window})
    monkeypatch.setattr(
        entry_mod, "_driver_verified_rounds", lambda: simulated
    )
    monkeypatch.setattr(entry_mod, "_driver_failed_keys", lambda: [])
    rotated = entry_mod._rotated_keys()
    remainder = [k for k in rotated if k not in simulated]
    assert rotated[: len(remainder)] == remainder, (
        "unverified remainder must lead the r07 window"
    )
    rounds_on_disk = {r for r, _ in entry_mod._correctness_rounds()}
    if rounds_on_disk == {1, 2, 3, 4, 5}:
        assert sorted(remainder) == [
            "dedup_substring_ngrams",
            "events_forecast_baseline",
            "events_rolling_wau",
            "join_asof_tolerance",
            "scalar_array_quantifiers",
            "timeseries_decay_sum",
        ]


def test_dead_changed_tier_is_loud(monkeypatch, capsys):
    """Round-9 advice: a manifest regression must not SILENTLY disable the
    changed-key tier. _changed_keys degrades to the empty set (the driver
    must never fail over the manifest) but prints one stderr line for
    expected and unexpected failure modes alike."""
    from mapreduce_6_824_lab1_spark import manifest

    def boom_expected():
        raise ValueError("corrupt manifest json")

    monkeypatch.setattr(manifest, "changed_keys", boom_expected)
    assert entry_mod._changed_keys() == set()
    err = capsys.readouterr().err
    assert "changed-key tier disabled" in err and "ValueError" in err

    def boom_unexpected():
        raise AttributeError("renamed api")

    monkeypatch.setattr(manifest, "changed_keys", boom_unexpected)
    assert entry_mod._changed_keys() == set()
    err = capsys.readouterr().err
    assert "UNEXPECTED" in err and "AttributeError" in err


def test_live_changed_tier_prints_nothing(capsys):
    """The warning fires only on failure — a healthy manifest run stays
    quiet so driver logs don't cry wolf."""
    keys = entry_mod._changed_keys()
    assert isinstance(keys, set)
    assert "changed-key tier disabled" not in capsys.readouterr().err
