"""sf1-scale replay checks for the three heaviest rows-only keys
(round-11 verdict ask #5).

The rows-only keys have no SQL oracle; each is pinned to an exact
independent replay at sf0.01 (tests/test_rows_only.py, test_kmeans.py,
test_round4h.py). This tool re-runs those SAME replay oracles at
scaled_data/sf1 (10x driver scale) to catch drift the driver cannot see
at any scale it runs:

- ``dedup_minhash_lsh`` — candidates+verify vs the exact n-gram Jaccard
  twin (itself hash-verified against DuckDB at sf1 by parity_sf1.py):
  zero false positives required; recall >= 0.9 (16 bands x 4 rows at
  s>=0.6 gives per-pair detection >= 0.90; planted pairs score ~0.98).
- ``kmeans_embeddings`` — full numpy Lloyd's replay (same deterministic
  init/ties/iterations) over the sf1 embeddings: member counts must
  match exactly, centroid norms to 1e-3.
- ``tokenizer_bpe_train`` — exact pure-Python BPE replay over the sf1
  documents: every merge step (pair, merged token, count) must match.

Appends the result to PARITY_SF1.md. Exit 0 = all three agree.

    python tools/replay_sf1.py           # sf1 (10x driver scale)
    python tools/replay_sf1.py --sf10    # sf10 (100x; appends to
                                         # PARITY_SF10.md instead)

At sf10 the numpy Lloyd's replay streams the 200k x d distance
computation in row blocks (the full 200k x k x d tensor would be
~0.8 GB per iteration); the replay arithmetic is unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from tools.parity_sf1 import RECORD, RECORD10, SF1, SF10  # noqa: E402


def _numpy_kmeans(sf_dir: str, k: int, iterations: int):
    """Independent Lloyd's replay — tests/test_kmeans.py pins the operator
    against it at sf0.01."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    vec_ids = t["vec_id"].to_numpy()
    X = np.array(t["embedding"].to_pylist(), dtype="float64")
    order = np.argsort(vec_ids)
    X = X[order]
    vec_ids = vec_ids[order]
    cents = X[vec_ids < k].copy()

    def _assign(cents):
        # row-blocked distances: identical argmin, bounded memory at sf10
        out = np.empty(len(X), dtype=np.int64)
        for lo in range(0, len(X), 20000):
            blk = X[lo : lo + 20000]
            d = ((blk[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            out[lo : lo + 20000] = d.argmin(axis=1)
        return out

    for _ in range(iterations):
        cid = _assign(cents)
        cents = np.array(
            [
                X[cid == c].mean(axis=0) if (cid == c).any() else cents[c]
                for c in range(k)
            ]
        )
    cid = _assign(cents)
    counts = {c: int((cid == c).sum()) for c in range(k) if (cid == c).any()}
    norms = {c: float(np.sqrt((cents[c] ** 2).sum())) for c in counts}
    return counts, norms


def _python_bpe(corpus, k: int, join: str):
    """Exact BPE replay — tests/test_round4h.py pins the operator against
    it at sf0.01."""
    merges = []
    toks = [list(t) for t in corpus]
    for step in range(1, k + 1):
        counts: Counter = Counter()
        for t in toks:
            counts.update(zip(t, t[1:]))
        if not counts:
            break
        (x, y), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < 2:
            break
        merged = f"{x}{join}{y}"
        merges.append((step, x, y, merged, c))
        out = []
        for t in toks:
            acc: list[str] = []
            for tok in t:
                if acc and acc[-1] == x and tok == y:
                    acc[-1] = merged
                else:
                    acc.append(tok)
            out.append(acc)
        toks = out
    return merges


def _hamming_ball_pairs(fps: np.ndarray, ids: np.ndarray, max_h: int):
    """Brute-force all-pairs hamming ≤ max_h over 64-bit fingerprints —
    the independent completeness oracle for the banded simhash join
    (the banding is the part that can silently drop pairs at scale; the
    fingerprint arithmetic itself is pinned at sf0.01). Blocked XOR +
    uint8-LUT popcount: 50k docs = 1.25e9 pair hammings in ~1 min."""
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    n = len(fps)
    out = set()
    for lo in range(0, n, 1024):
        blk = fps[lo : lo + 1024]
        x = blk[:, None] ^ fps[None, :]  # (b, n) uint64
        h = lut[x.view(np.uint8).reshape(len(blk), n, 8)].sum(
            axis=2, dtype=np.uint16
        )
        bi, bj = np.nonzero(h <= max_h)
        for i, j in zip(bi, bj):
            a, b = ids[lo + i], ids[j]
            if a < b:
                out.add((int(a), int(b), int(h[i, j])))
    return out


def _rest_checks(spark, sf_dir: str, sf10: bool):
    """Scaled replay checks for the REMAINING nine rows-only keys (the
    original three heaviest are covered above/main). Each check re-runs
    the key at the scaled SF and compares against an engine-independent
    reference computed in pandas/numpy straight off the parquet — the
    same oracles tests/test_rows_only.py & friends pin at sf0.01.

    sf10 skips two checks, stated openly in the record: the
    running_balance python fold (a 60M-row per-row loop — the sf1 fold
    at 6M rows is the same arithmetic) and the simhash hamming-ball
    brute force (1.25e11 pair hammings; the sf1 ball at 1.25e9 already
    exercises the scale-adaptive combo-band scheme since 50k docs sit
    under SIMHASH_COMBO_THRESHOLD — the sf10 banding path difference is
    covered by the operator's own saturation tests)."""
    from mapreduce_6_824_lab1_spark import QUERIES

    lines, fails = [], []

    def rec(key, ok, size, detail, t0):
        if not ok:
            fails.append(key)
        lines.append(
            f"| {key} | {'pass' if ok else '**FAIL**'} | {size} | "
            f"{detail}, {time.time() - t0:.1f}s |"
        )
        print(lines[-1], flush=True)

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["ts", "user_id", "event_type", "value"]
    )

    # agg_approx_distinct — HLL++ estimate vs exact nunique (test bound)
    t0 = time.time()
    got = {
        r.event_type: (r.approx_users, r.n_events)
        for r in QUERIES["agg_approx_distinct"](spark, sf_dir).collect()
    }
    exact = ev.groupby("event_type")["user_id"].nunique().to_dict()
    n_ev = ev.groupby("event_type").size().to_dict()
    rel = {
        t: abs(got[t][0] - exact[t]) / max(1, exact[t]) for t in exact
    }
    ok = (
        set(got) == set(exact)
        and all(got[t][1] == n_ev[t] for t in exact)
        and all(
            abs(got[t][0] - exact[t]) <= max(3, 0.1 * exact[t])
            for t in exact
        )
    )
    rec(
        "agg_approx_distinct", ok, f"{len(ev)} events, {len(exact)} types",
        f"max_rel_err={max(rel.values()):.4f} (bound 0.10, rsd=0.02)", t0,
    )

    # agg_approx_percentile — estimate's empirical rank vs target
    # (accuracy=10000 guarantees rank error <= 1e-4; gate at 10x slack)
    t0 = time.time()
    got = {
        r.event_type: (r.approx_p50, r.approx_p90)
        for r in QUERIES["agg_approx_percentile"](spark, sf_dir).collect()
    }
    worst = 0.0
    ok = set(got) == set(exact)
    for t, g in ev.groupby("event_type")["value"]:
        arr = np.sort(g.to_numpy())
        for p, est in zip((0.5, 0.9), got[t]):
            r_err = abs(np.searchsorted(arr, est, side="right") / len(arr) - p)
            worst = max(worst, r_err)
    ok = ok and worst <= 0.001
    rec(
        "agg_approx_percentile", ok, f"{len(ev)} events",
        f"max_rank_err={worst:.6f} (bound 0.001)", t0,
    )

    # agg_hll_merge — daily-sketch union estimate vs exact, n_days exact
    t0 = time.time()
    got = {
        r.event_type: (r.n_days, r.est_users)
        for r in QUERIES["agg_hll_merge"](spark, sf_dir).collect()
    }
    days = ev.groupby("event_type")["ts"].apply(
        lambda s: s.dt.normalize().nunique()
    ).to_dict()
    rel = {t: abs(got[t][1] - exact[t]) / max(1, exact[t]) for t in exact}
    ok = (
        set(got) == set(exact)
        and all(got[t][0] == days[t] for t in exact)
        and all(
            abs(got[t][1] - exact[t]) <= max(1, 0.02 * exact[t])
            for t in exact
        )
    )
    rec(
        "agg_hll_merge", ok, f"{len(exact)} types",
        f"n_days exact, max_rel_err={max(rel.values()):.4f} (bound 0.02, lgK=14)",
        t0,
    )
    del ev

    # agg_approx_topk — sketch counts must be EXACT (maxItemsTracked >>
    # vocab) and cover the true top-k set
    t0 = time.time()
    got = {
        (r.word, r.cnt)
        for r in QUERIES["agg_approx_topk"](spark, sf_dir).collect()
    }
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    wc = Counter()
    for t in docs["text"]:
        wc.update(t.split(" "))
    ok = len(got) == min(10, len(wc)) and all(
        wc[w] == c for w, c in got
    )
    kth = sorted(wc.values(), reverse=True)[len(got) - 1]
    ok = ok and all(c >= kth for _, c in got)
    rec(
        "agg_approx_topk", ok,
        f"{len(wc)} vocab over {len(docs)} docs",
        "counts exact, top-k cut respected", t0,
    )
    del docs, wc

    # agg_kll_quantiles — estimate's empirical rank within 3% (test bound)
    t0 = time.time()
    got = (
        QUERIES["agg_kll_quantiles"](spark, sf_dir).toPandas().set_index("flag")
    )
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_returnflag", "l_extendedprice"]
    )
    cents = np.floor(li["l_extendedprice"].to_numpy() * 100 + 0.5).astype("int64")
    groups = {
        f: np.sort(c["c"].to_numpy())
        for f, c in pd.DataFrame(
            {"f": li["l_returnflag"], "c": cents}
        ).groupby("f")
    }
    groups["ALL"] = np.sort(cents)
    ok, worst = True, 0.0
    for flag, arr in groups.items():
        row = got.loc[flag]
        ok = ok and row["n"] == len(arr)
        for p, col in ((0.5, "p50_cents"), (0.9, "p90_cents")):
            r_err = abs(
                np.searchsorted(arr, row[col], side="right") / len(arr) - p
            )
            worst = max(worst, r_err)
    ok = ok and worst <= 0.03
    rec(
        "agg_kll_quantiles", ok, f"{len(cents)} rows, {len(groups)} flags",
        f"n exact, max_rank_err={worst:.4f} (bound 0.03)", t0,
    )
    del li, cents, groups

    # similarity_mllib_lsh — reported distances recomputed exactly in
    # numpy; shape/sort gates; recall vs exact top-k reported and gated
    # at the LSH family's conservative bound
    t0 = time.time()
    from mapreduce_6_824_lab1_spark.operators.similarity import (
        PROBE_VEC_ID,
        TOP_K,
    )

    rows = QUERIES["similarity_mllib_lsh"](spark, sf_dir).collect()
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy()
    X = np.array(emb["embedding"].to_pylist(), dtype="float64")
    probe = X[ids == PROBE_VEC_ID][0]
    d_all = np.sqrt(((X - probe) ** 2).sum(axis=1))
    d_by_id = dict(zip(ids, d_all))
    exact_top = [
        int(i) for i in ids[np.argsort(d_all, kind="stable")]
        if i != PROBE_VEC_ID
    ][:TOP_K]
    dists = [r.euclidean_dist for r in rows]
    drift = max(
        abs(r.euclidean_dist - np.floor(d_by_id[r.vec_id] * 1e6 + 0.5) / 1e6)
        for r in rows
    )
    recall = len({r.vec_id for r in rows} & set(exact_top)) / TOP_K
    ok = (
        len(rows) == TOP_K
        and sorted(dists) == dists
        and drift <= 1e-6
        and recall >= 0.3
    )
    rec(
        "similarity_mllib_lsh", ok, f"{len(ids)} vectors",
        f"distances exact (max drift {drift:.1e}), recall@{TOP_K}={recall:.2f}"
        " (gate 0.3)", t0,
    )

    # embedding_pca_power — exact integer-loading match vs a pure-numpy
    # replay of BOTH phases (chunked integer Gram + the same fixed power
    # iteration), plus an eigh cross-check
    t0 = time.time()
    from mapreduce_6_824_lab1_spark.operators.embeddings import (
        DIM,
        GRAM_QUANT,
        PCA_ITERS,
    )

    got = {
        r.dim: r.loading_micro
        for r in QUERIES["embedding_pca_power"](spark, sf_dir).collect()
    }
    G = np.zeros((DIM, DIM), dtype=np.int64)
    for lo in range(0, len(X), 20000):
        c = X[lo : lo + 20000]
        prod = c[:, :, None] * c[:, None, :]
        G += np.floor(prod * GRAM_QUANT + 0.5).astype(np.int64).sum(axis=0)
    v = np.ones(DIM)
    Gf = G.astype("float64")
    for _ in range(PCA_ITERS):
        v = Gf @ v
        v /= np.linalg.norm(v)
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    ref = {
        int(i + 1): int(np.floor(v[i] * GRAM_QUANT + 0.5)) for i in range(DIM)
    }
    w, vecs = np.linalg.eigh(Gf)
    cos = abs(float(vecs[:, -1] @ v))
    # the key's CONTRACT is the fixed 200-iteration power recurrence
    # (deterministic), so the binding gate is the exact two-phase replay
    # match. The eigh cross-check must respect the scaled corpus's
    # spectrum: replication makes the top of it NEAR-DEGENERATE (sf10:
    # seven eigenvalues within 1% of λmax, λ2/λ1=0.99933, so the
    # 200-iteration separation factor is (λ2/λ1)^200 ≈ 0.88 — no fixed
    # budget can split the multiplet, and any unit vector in the
    # near-top eigenspace is an equally valid principal direction;
    # demanding cos(eigh)≈1 would test the spectrum, not the operator).
    # Gate: the returned direction lies in the ≥0.99·λmax eigenspace
    # with ≥0.99 of its norm (sf1: 0.9977, sf10: 0.9992). At sf0.1 the
    # spectrum is non-degenerate and the eigh comparison is exact
    # (tests/test_round4g.py).
    rayleigh = float(v @ Gf @ v) / float(w[-1])
    near_top = w >= 0.99 * w[-1]
    proj = float(np.linalg.norm(vecs[:, near_top].T @ v))
    ok = got == ref and proj >= 0.99
    rec(
        "embedding_pca_power", ok, f"{len(X)} x {DIM}",
        f"all {DIM} integer loadings exact, "
        f"proj_neartop={proj:.6f} (gate 0.99, k={int(near_top.sum())}), "
        f"rayleigh/λmax={rayleigh:.6f}, |cos(eigh)|={cos:.6f}", t0,
    )
    del emb, X, ids

    if not sf10:
        # running_balance_clamped — full sequential python fold (sf1 =
        # 6M moves; the identical fold at sf10's 60M rows is a pure
        # python loop, skipped openly — same arithmetic, 10x the rows)
        t0 = time.time()
        got = (
            QUERIES["running_balance_clamped"](spark, sf_dir)
            .toPandas()
            .set_index("partkey")
            .sort_index()
        )
        li = pd.read_parquet(
            f"{sf_dir}/lineitem.parquet",
            columns=[
                "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
                "l_quantity", "l_linestatus",
            ],
        )
        q = np.floor(li["l_quantity"].to_numpy() + 0.5).astype("int64")
        li = li.assign(delta=np.where(li["l_linestatus"] == "O", q, -q))
        li = li.sort_values(
            ["l_partkey", "l_shipdate", "l_orderkey", "l_linenumber"]
        )
        bad = 0
        for pk, g in li.groupby("l_partkey", sort=True):
            b = lo_c = hi_c = 0
            for d in g["delta"].to_numpy():
                b += int(d)
                if b < 0:
                    b, lo_c = 0, lo_c + 1
                elif b > 500:
                    b, hi_c = 500, hi_c + 1
            row = got.loc[pk]
            if (
                row["n_moves"] != len(g)
                or row["final_balance"] != b
                or row["n_clamped_low"] != lo_c
                or row["n_clamped_high"] != hi_c
            ):
                bad += 1
        ok = bad == 0 and len(got) == li["l_partkey"].nunique()
        rec(
            "running_balance_clamped", ok,
            f"{len(li)} moves, {len(got)} parts",
            f"fold exact, mismatched_parts={bad}", t0,
        )
        del li

        # dedup_simhash — banded pair recovery must EQUAL the brute-force
        # hamming ball over the same fingerprints (the banding join is
        # the component that can silently drop pairs at scale; the
        # fingerprint arithmetic is pinned at sf0.01). sf10 (500k docs =
        # 1.25e11 pair hammings) skipped openly on cost.
        t0 = time.time()
        from pyspark.sql import functions as F

        from mapreduce_6_824_lab1_spark.catalog import load_table
        from mapreduce_6_824_lab1_spark.operators.dedup import (
            SIMHASH_BITS,
            shingled,
        )

        got_pairs = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in QUERIES["dedup_simhash"](spark, sf_dir).collect()
        }
        sh = shingled(load_table(spark, sf_dir, "documents"))
        h = F.xxhash64(F.lit(-1), F.col("shingle"))
        perbit = sh.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh"),
            *[
                F.sum(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("long")
                ).alias(f"b{i}")
                for i in range(SIMHASH_BITS)
            ],
        )
        fp_expr = F.lit(0).cast("long")
        for i in range(SIMHASH_BITS):
            weight = (1 << i) if i < 63 else -(1 << 63)
            fp_expr = fp_expr + F.when(
                2 * F.col(f"b{i}") > F.col("n_sh"),
                F.lit(weight).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        fp_pdf = perbit.select("doc_id", fp_expr.alias("fp")).toPandas()
        fps = fp_pdf["fp"].to_numpy().astype(np.int64).view(np.uint64)
        ref_pairs = _hamming_ball_pairs(
            fps, fp_pdf["doc_id"].to_numpy(), 3
        )
        ok = got_pairs == ref_pairs
        rec(
            "dedup_simhash", ok,
            f"{len(fps)} fingerprints, {len(ref_pairs)} true pairs",
            f"banded join == brute-force hamming ball "
            f"(missed={len(ref_pairs - got_pairs)}, "
            f"extra={len(got_pairs - ref_pairs)})", t0,
        )

    return lines, fails


def main() -> None:
    from mapreduce_6_824_lab1_spark import QUERIES
    from mapreduce_6_824_lab1_spark.operators.curation import (
        BPE_JOIN,
        BPE_MERGES,
    )
    from mapreduce_6_824_lab1_spark.operators.kmeans import ITERATIONS, K
    from mapreduce_6_824_lab1_spark.session import get_spark

    args = sys.argv[1:]
    sf10 = "--sf10" in args
    rest = "--rest" in args  # the remaining nine rows-only keys
    sf_dir = SF10 if sf10 else SF1
    record = RECORD10 if sf10 else RECORD
    scale = "sf10 (100x)" if sf10 else "sf1"

    spark = get_spark(app_name="replay-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    if rest:
        lines, fails = _rest_checks(spark, sf_dir, sf10)
        n = len(lines)
        with open(record, "a") as fh:
            fh.write(
                f"\n## Appendix — remaining rows-only keys at {scale} "
                "(`python tools/replay_sf1.py --rest"
                + (" --sf10" if sf10 else "")
                + "`)\n\n"
                "The other nine rows-only keys (five randomized sketches, "
                "MLlib LSH, simhash, and the two remaining deterministic "
                "replays) checked against engine-independent pandas/numpy "
                "references off the scaled parquet — the same oracles the "
                f"sf0.01 tests pin: **{n - len(fails)}/{n}**"
                + (f" — failures: {', '.join(fails)}" if fails else "")
                + (
                    "\n\nsf10 openly skips two checks: the "
                    "running_balance 60M-row python fold and the simhash "
                    "1.25e11-pair hamming ball (both run in full at sf1; "
                    "rationale in tools/replay_sf1.py)."
                    if sf10
                    else ""
                )
                + "\n\n| key | status | size | detail |\n|---|---|---|---|\n"
                + "\n".join(lines)
                + "\n"
            )
        print(
            json.dumps(
                {
                    f"replay_rest_{'sf10' if sf10 else 'sf1'}": f"{n - len(fails)}/{n}",
                    "fails": fails,
                }
            )
        )
        sys.exit(1 if fails else 0)

    lines, fails = [], []

    # 1. minhash LSH vs exact Jaccard twin
    t0 = time.time()
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    fp = approx - exact
    recall = len(approx & exact) / max(1, len(exact))
    ok = not fp and recall >= 0.9
    if not ok:
        fails.append("dedup_minhash_lsh")
    lines.append(
        f"| dedup_minhash_lsh | {'pass' if ok else '**FAIL**'} | "
        f"{len(approx)}/{len(exact)} pairs | false_pos={len(fp)}, "
        f"recall={recall:.4f}, {time.time() - t0:.1f}s |"
    )
    print(lines[-1], flush=True)

    # 2. kmeans vs numpy Lloyd's
    t0 = time.time()
    rows = QUERIES["kmeans_embeddings"](spark, sf_dir).collect()
    counts, norms = _numpy_kmeans(sf_dir, K, ITERATIONS)
    got_counts = {r.cid: r.n_members for r in rows}
    bad_norm = [
        r.cid for r in rows if abs(r.centroid_norm - norms[r.cid]) >= 1e-3
    ]
    ok = got_counts == counts and not bad_norm
    if not ok:
        fails.append("kmeans_embeddings")
    lines.append(
        f"| kmeans_embeddings | {'pass' if ok else '**FAIL**'} | "
        f"{sum(counts.values())} vectors, {len(counts)} clusters | "
        f"counts_match={got_counts == counts}, norm_drift_cids={bad_norm}, "
        f"{time.time() - t0:.1f}s |"
    )
    print(lines[-1], flush=True)

    # 3. BPE merges vs pure-Python replay
    t0 = time.time()
    got = (
        QUERIES["tokenizer_bpe_train"](spark, sf_dir)
        .toPandas()
        .sort_values("step", ignore_index=True)
    )
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    ref = _python_bpe(
        [t.split(" ") for t in docs["text"]], BPE_MERGES, BPE_JOIN
    )
    ok = len(got) == len(ref)
    if ok:
        for (step, x, y, merged, c), (_, row) in zip(ref, got.iterrows()):
            if (
                row["step"] != step
                or (row["left"], row["right"]) != (x, y)
                or row["merged"] != merged
                or row["pair_count"] != c
            ):
                ok = False
                break
    if not ok:
        fails.append("tokenizer_bpe_train")
    lines.append(
        f"| tokenizer_bpe_train | {'pass' if ok else '**FAIL**'} | "
        f"{len(got)} merges over {len(docs)} docs | exact step/pair/count "
        f"match, {time.time() - t0:.1f}s |"
    )
    print(lines[-1], flush=True)

    with open(record, "a") as fh:
        fh.write(
            f"\n## Appendix — rows-only replay checks at {scale} "
            "(round-12; `python tools/replay_sf1.py"
            + (" --sf10" if sf10 else "")
            + "`)\n\n"
            "The three heaviest rows-only keys re-verified against their "
            "EXACT independent replay oracles (the same replays "
            "tests/test_rows_only.py pins at sf0.01) at "
            f"{'100x' if sf10 else '10x'} driver "
            f"scale: **{3 - len(fails)}/3**"
            + (f" — failures: {', '.join(fails)}" if fails else "")
            + "\n\n| key | status | size | detail |\n|---|---|---|---|\n"
            + "\n".join(lines)
            + "\n"
        )
    print(json.dumps({f"replay_{'sf10' if sf10 else 'sf1'}": f"{3 - len(fails)}/3", "fails": fails}))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
