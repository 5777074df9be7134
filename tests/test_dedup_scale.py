"""Scale-guard tests for the dedup operators: the hot-shingle document-
frequency cap bounds pair generation, and connected-components converges on
long paths (with lineage checkpointing) instead of silently returning
partial labels."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_6_824_lab1_spark.operators.dedup import (
    connected_components,
    jaccard_pairs,
)


@pytest.fixture(scope="module")
def planted_sets(spark):
    """22 docs sharing one hot shingle: 20 otherwise-unique docs plus one
    true near-dup pair (100, 101) overlapping on 8 of 10 other shingles."""
    rows = []
    for i in range(20):
        rows.append((i, ["HOT", f"u{i}a", f"u{i}b", f"u{i}c"]))
    rows.append((100, ["HOT"] + [f"X{j}" for j in range(9)]))
    rows.append((101, ["HOT"] + [f"X{j}" for j in range(8)] + ["Y"]))
    return spark.createDataFrame(rows, "doc_id long, shs array<string>")


def test_hot_shingle_cap_bounds_pair_generation(planted_sets):
    # threshold=0 exposes every generated candidate pair. Uncapped, the hot
    # shingle alone fans out 22*21/2 = 231 pairs; capped at df<=5 only the
    # true pair's private shingles generate candidates.
    uncapped = jaccard_pairs(planted_sets, threshold=0.0, df_cap=10**9)
    capped = jaccard_pairs(planted_sets, threshold=0.0, df_cap=5)
    assert uncapped.count() == 231
    assert capped.count() == 1


def test_hot_shingle_cap_keeps_true_pairs(planted_sets):
    # with the cap, common drops by the hot shingle (9→8) but n stays full,
    # so jaccard = 8/(10+10-8); the true pair still clears threshold 0.6
    got = jaccard_pairs(planted_sets, threshold=0.6, df_cap=5).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.doc_a, row.doc_b) == (100, 101)
    assert row.jaccard == pytest.approx(8 / 12, abs=1e-4)
    # uncapped, the hot shingle counts toward common: 9/(10+10-9)
    full = jaccard_pairs(planted_sets, threshold=0.6, df_cap=10**9).collect()
    assert full[0].jaccard == pytest.approx(9 / 11, abs=1e-4)


def test_length_filter_identity_at_boundary(spark):
    """Round-14 pair-gen length filter: jaccard >= t implies
    min(na, nb) >= t * max(na, nb), so sub-ratio pairs are pruned inside
    the lambda before the shuffle. Pins (a) a qualifying pair with
    skewed-but-passing sizes survives with the exact score, (b) a pair
    at EXACTLY the size-ratio boundary survives (the 1e-9 slack is
    conservative under double rounding), (c) a high-overlap pair whose
    size ratio falls below t is gone — and its absence matches the
    brute-force result, i.e. the filter changes nothing the final
    threshold would not also have removed."""
    rows = [
        # (b) boundary: E ⊂ F, sizes 6/10 — jaccard 6/10 = 0.6 exactly
        (200, [f"E{j}" for j in range(6)]),
        (201, [f"E{j}" for j in range(6)] + [f"F{j}" for j in range(4)]),
        # (a) qualifying: sizes 10/12, common 9 → 9/13 ≈ 0.692
        (300, [f"C{j}" for j in range(9)] + ["c_only"]),
        (301, [f"C{j}" for j in range(9)] + [f"D{j}" for j in range(3)]),
        # (c) sub-ratio: A ⊂ B with sizes 4/20 → jaccard 4/20 = 0.2
        (400, [f"A{j}" for j in range(4)]),
        (401, [f"A{j}" for j in range(4)] + [f"B{j}" for j in range(16)]),
    ]
    sets = spark.createDataFrame(rows, "doc_id long, shs array<string>")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(sets, threshold=0.6).collect()
    }
    # brute-force reference over the same sets at the same threshold
    want = {}
    for ia, sa in rows:
        for ib, sb in rows:
            if ia < ib:
                common = len(set(sa) & set(sb))
                if common:
                    jac = common / (len(set(sa)) + len(set(sb)) - common)
                    if jac >= 0.6:
                        want[(ia, ib)] = round(jac, 4)
    assert set(got) == set(want) == {(200, 201), (300, 301)}
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-4)


def test_connected_components_long_path(spark):
    # path graph 0-1-2-...-11: diameter 11 — pointer jumping converges in
    # O(log diameter) rounds, each crossing a per-round checkpoint
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
    )
    labels = connected_components(pairs, max_rounds=50).collect()
    assert len(labels) == 12
    assert {r.cluster_rep for r in labels} == {0}


def test_connected_components_raises_without_convergence(spark):
    # a 1000-node path: label coverage grows ~4x/round under the seeded
    # + pointer-jumped loop, so 2 rounds cannot reach the fixpoint (the
    # old 12-node path stopped tripping the cap once round-11's
    # neighbor-min seeding removed a round). Contraction is disabled:
    # the round-12 partition-local union-find flattens each partition's
    # chain segment to a star, and THIS test exists to cover the loop's
    # round-cap RAISE path, which is contraction-independent.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_rounds=2, local_contraction=False)


def test_connected_components_round_count_pinned(spark):
    """Guard the round-11 seeding win: a 64-node path (worst case per
    node count — one long chain) must converge within 6 rounds under
    neighbor-min seeds + init jump + per-round pointer jump (measured:
    6 converges, 5 does not). A regression that silently drops the
    seeding or a jump re-adds rounds and trips the cap here."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    out = connected_components(pairs, max_rounds=6)
    assert all(r.cluster_rep == 0 for r in out.collect())


def test_contract_partitions_invariants(spark):
    """The round-12 partition-local union-find pre-pass
    (dedup._contract_partitions) must preserve the node set and the
    component structure of the input pair list — on a MULTI-partition
    layout where no single partition sees a whole component — and emit
    star edges whose targets are same-component ids (the label
    invariant the CC loop's min-propagation relies on)."""
    from mapreduce_6_824_lab1_spark.operators.dedup import (
        _contract_partitions,
    )

    # two components interleaved row-wise across 4 partitions, plus a
    # self-loop-only node
    edges = [(i, i + 1) for i in range(10)]  # component min 0
    edges += [(100 + i, 100 + i + 1) for i in range(10)]  # min 100
    edges += [(555, 555)]
    pairs = spark.createDataFrame(
        edges, "doc_a long, doc_b long"
    ).repartition(4)
    out = _contract_partitions(pairs)
    assert out.columns == ["doc_a", "doc_b"]
    rows = [(r.doc_a, r.doc_b) for r in out.collect()]
    comp = {n: (0 if n < 100 else 100) if n != 555 else 555
            for n in {x for e in edges for x in e}}
    # label invariant: every star edge joins two same-component nodes
    assert all(comp[a] == comp[b] for a, b in rows)
    # node set preserved (self-loop node included via its self-edge)
    assert {x for e in rows for x in e} == set(comp)
    # per partition: one star edge per LOCAL node (a node spanning p
    # partitions emits p rows), so the global bound is 2·edges — never
    # larger than the symmetrized list the loop would otherwise ingest
    assert len(rows) <= 2 * len(edges)
    # and CC over the contracted edges equals CC over the originals
    got = {
        r.doc_id: r.cluster_rep
        for r in connected_components(pairs).collect()
    }
    assert got == comp


def test_connected_components_degenerate_inputs(spark):
    # empty pair list: the sum-of-labels fingerprint is NULL on both
    # sides of the round-1 compare (sum over an empty frame), which must
    # read as converged — not loop to the round cap; self-loop converges
    # with the node as its own rep
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).collect() == []
    selfloop = spark.createDataFrame([(7, 7)], "doc_a long, doc_b long")
    got = connected_components(selfloop).collect()
    assert [(r.doc_id, r.cluster_rep) for r in got] == [(7, 7)]


def test_connected_components_two_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_rep
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def _union_find_min_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Independent pure-Python reference: classic union-find, then each
    node labeled with the MINIMUM id of its component (the operator's
    canonical-survivor contract)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for node in list(parent):
        r = find(node)
        comp_min[r] = min(comp_min.get(r, node), node)
    return {node: comp_min[find(node)] for node in parent}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """The distributed min-label-propagation loop must agree with a
    classic union-find on ARBITRARY small graphs — self-loops, parallel
    edges, multiple components, cycles, stars, whatever hypothesis
    plants. Pins the round-6 loop rewrite (per-round eager checkpoint)
    beyond the handful of hand-built shapes above."""
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_rep
        for r in connected_components(pairs).collect()
    }
    assert got == _union_find_min_labels(edges)


def test_dedup_embedding_semantics(spark):
    # invariants beyond oracle parity: every dup points to a smaller kept
    # id, similarity clears the threshold, and the found pairs are a subset
    # of the exact all-pairs result (LSH bucketing only ever loses recall,
    # never invents a pair)
    from mapreduce_6_824_lab1_spark.operators.dedup import (
        EMB_DEDUP_THRESHOLD,
        dedup_embedding,
    )
    from mapreduce_6_824_lab1_spark.operators.similarity import _dot, _norm

    got = dedup_embedding(spark, "/root/testdata/sf0.001").collect()
    assert len(got) > 0
    assert all(r.kept_id < r.dup_id for r in got)
    assert all(EMB_DEDUP_THRESHOLD <= r.best_cosine <= 1.0 for r in got)

    from mapreduce_6_824_lab1_spark.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a, b = e.alias("a"), e.alias("b")
    cos = _dot("a.embedding", "b.embedding") / (
        _norm("a.embedding") * _norm("b.embedding")
    )
    exact = {
        (r.ka, r.da)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= EMB_DEDUP_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("ka"), F.col("b.vec_id").alias("da")
        )
        .collect()
    }
    assert all((r.kept_id, r.dup_id) in exact for r in got)


@pytest.mark.parametrize(
    "local_contraction", [False, True], ids=["off", "two_level"]
)
def test_connected_components_contraction_modes_agree(
    spark, local_contraction
):
    """No pre-pass and the shipped two-level star-merge pre-pass
    (contract, repartition stars by node, contract again) must reach the
    SAME fixpoint. Graph chosen so components straddle partitions: two
    long interleaved paths (even ids / odd ids) plus a self-loop
    singleton, written across 8 partitions so no partition sees a whole
    component."""
    edges = [(i, i + 2) for i in range(0, 60, 2)]  # even path 0..60
    edges += [(i, i + 2) for i in range(1, 61, 2)]  # odd path 1..61
    edges += [(99, 99)]  # lone self-loop: must survive as its own rep
    pairs = spark.createDataFrame(
        edges, "doc_a long, doc_b long"
    ).repartition(8)
    out = {
        (r.doc_id, r.cluster_rep)
        for r in connected_components(
            pairs, local_contraction=local_contraction
        ).collect()
    }
    want = {(i, 0) for i in range(0, 62, 2)}
    want |= {(i, 1) for i in range(1, 62, 2)}
    want |= {(99, 99)}
    assert out == want


def test_cc_loop_fingerprint_folds_into_checkpoint_job(spark, monkeypatch):
    """Round 15 (VERDICT r14 ask #6): the convergence fingerprint rides
    inside each round's checkpoint job as an observed metric — _cc_loop
    must never fall back to the standalone _fingerprint action (one extra
    job, i.e. one extra cluster barrier, per round; measured 31 -> 27
    jobs on the sf0.1 kNN pipeline, OPTIMIZATION_r15.md). The
    monkeypatch makes any such call explode; convergence and labels must
    still be exact."""
    from mapreduce_6_824_lab1_spark.operators import dedup
    from mapreduce_6_824_lab1_spark.operators.dedup import _cc_loop
    from mapreduce_6_824_lab1_spark.session import scoped_conf

    def _boom(_labels):
        raise AssertionError(
            "standalone _fingerprint action called from _cc_loop — the "
            "fingerprint must ride the checkpoint job via observe"
        )

    monkeypatch.setattr(dedup, "_fingerprint", _boom)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "doc_a long, doc_b long"
    )
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        labels = _cc_loop(pairs, max_rounds=50, loop_partitions=4)
    rows = labels.collect()
    assert {r.cluster_rep for r in rows} == {0} and len(rows) == 16
