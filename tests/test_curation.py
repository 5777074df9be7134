"""Behavioral guards for the curation operators, beyond oracle parity:
the LM score is a real entropy estimate, chunk ownership is conserved,
mixing hits its target fraction, and shards are balanced."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.catalog import load_table
from mapreduce_6_824_lab1_spark.functions.text import tokens_col
from tests.conftest import SF_DIR


def test_quality_lm_score_is_corpus_entropy_scale(spark):
    """Mean per-word NLL under the corpus-trained unigram LM ≈ corpus
    entropy; with a 31-word vocabulary it must lie in (0, ln 31]."""
    rows = QUERIES["quality_lm_score"](spark, SF_DIR).collect()
    assert len(rows) == 5  # one per language
    cap = math.log(31) + 0.01
    for r in rows:
        assert 0.0 < r.avg_word_nll <= cap, r
        assert r.min_doc_nll_micro <= r.avg_word_nll * 1e6 + 1
        assert r.max_doc_nll_micro >= r.avg_word_nll * 1e6 - 1


def test_dedup_chunks_ownership_conserved(spark):
    """Every distinct chunk has exactly one owner: sum(kept) == distinct
    chunk count, kept ≤ total per doc, and duplicates genuinely exist in
    the fixture (the operator isn't vacuous). Chunk generation reuses
    chunk_frame — its own fidelity is pinned independently against a
    Python reference in test_chunk_frame_matches_python_reference."""
    from mapreduce_6_824_lab1_spark.operators.curation import chunk_frame

    rows = QUERIES["dedup_chunks"](spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_frame(
        docs.select("doc_id", tokens_col("text").alias("toks"))
    ).select("chunk")
    distinct_chunks = chunks.distinct().count()
    total_chunks = chunks.count()
    assert sum(r.kept_chunks for r in rows) == distinct_chunks
    assert sum(r.n_chunks for r in rows) == total_chunks
    assert all(0 <= r.kept_chunks <= r.n_chunks for r in rows)
    assert sum(r.dropped_chunks for r in rows) > 0


def test_dedup_chunks_first_doc_owns_all_its_distinct_chunks(spark):
    """doc_id 0 has the lowest id, so every one of its DISTINCT chunks is
    owned by it: kept_chunks must equal its distinct-chunk count exactly
    (its only drops are within-doc repeats)."""
    from mapreduce_6_824_lab1_spark.operators.curation import chunk_frame

    row = (
        QUERIES["dedup_chunks"](spark, SF_DIR)
        .filter(F.col("doc_id") == 0)
        .collect()[0]
    )
    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") == 0
    )
    doc0_distinct = (
        chunk_frame(docs.select("doc_id", tokens_col("text").alias("toks")))
        .select("chunk")
        .distinct()
        .count()
    )
    assert row.kept_chunks == doc0_distinct


def test_mix_sources_uniform_hits_target(spark):
    rows = QUERIES["mix_sources_uniform"](spark, SF_DIR).collect()
    assert len(rows) == 20
    m = min(r.n_total for r in rows)
    for r in rows:
        assert 0 < r.n_kept <= r.n_total
        # hash acceptance is binomial around m: allow ±4·sqrt(m)
        assert abs(r.n_kept - m) <= max(4, 4 * math.sqrt(m)), (
            r.source, r.n_kept, m,
        )
    # the smallest source must keep (almost) everything
    smallest = min(rows, key=lambda r: r.n_total)
    assert smallest.n_kept == smallest.n_total


def test_shard_assign_balanced(spark):
    rows = QUERIES["shard_assign"](spark, SF_DIR).collect()
    docs_total = sum(r.n_docs for r in rows)
    assert docs_total == 500
    assert len(rows) == 16
    mean = docs_total / len(rows)
    for r in rows:
        assert abs(r.n_docs - mean) <= 4 * math.sqrt(mean), (r.shard, r.n_docs)


def test_cdc_apply_latest_covers_every_customer_once(spark):
    rows = QUERIES["cdc_apply_latest"](spark, SF_DIR).collect()
    n_cust = (
        load_table(spark, SF_DIR, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    # the delta stream (orders >= 1999) must actually win for many keys
    assert sum(r.n_from_delta for r in rows) > 0


def test_embedding_quantize_error_within_code_bound(spark):
    """Affine int8 round-trip error is bounded by sum_dims (scale_i/2)^2 —
    the worst case of uniform quantization — for every label group."""
    from mapreduce_6_824_lab1_spark.operators.embeddings import DIM

    e = load_table(spark, SF_DIR, "embeddings")
    spans = e.agg(
        *[
            (
                F.max(F.element_at("embedding", i).cast("double"))
                - F.min(F.element_at("embedding", i).cast("double"))
            ).alias(f"s{i}")
            for i in range(1, DIM + 1)
        ]
    ).collect()[0]
    bound = sum((spans[f"s{i}"] / 255.0 / 2) ** 2 for i in range(1, DIM + 1))
    rows = QUERIES["embedding_quantize_int8"](spark, SF_DIR).collect()
    assert len(rows) == 10  # one per label
    for r in rows:
        assert 0.0 <= r.avg_sq_err <= bound * 1.001, (r.label, r.avg_sq_err, bound)


def test_compaction_reduces_file_count(spark):
    import glob
    import shutil
    import tempfile

    from mapreduce_6_824_lab1_spark.operators.storage import (
        COMPACT_INPUT_FILES,
        compact_dir,
    )

    ev = load_table(spark, SF_DIR, "events")
    scratch = tempfile.mkdtemp(prefix="mr_test_compact_")
    try:
        frag = f"{scratch}/frag"
        ev.repartition(COMPACT_INPUT_FILES).write.parquet(frag)
        n_in = len(glob.glob(f"{frag}/*.parquet"))
        n_out = compact_dir(spark, frag, f"{scratch}/comp")
        assert n_in == COMPACT_INPUT_FILES
        assert 1 <= n_out < n_in
        assert spark.read.parquet(f"{scratch}/comp").count() == ev.count()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mix_admission_is_nested_across_fractions(spark):
    """The hash-threshold rule yields NESTED samples: the kept set at a
    lower acceptance fraction is a subset of the kept set at any higher
    fraction — so membership never churns as the corpus mixture shifts."""
    from mapreduce_6_824_lab1_spark.operators.text_analysis import _KNUTH, _MOD

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    h = F.pmod(F.col("doc_id") * _KNUTH, F.lit(_MOD))

    def kept(frac):
        return {
            r.doc_id
            for r in docs.filter(h < int(frac * _MOD)).collect()
        }

    k25, k50, k75 = kept(0.25), kept(0.50), kept(0.75)
    assert k25 < k50 < k75
    # and the acceptance rate tracks the fraction
    n = docs.count()
    for frac, ks in ((0.25, k25), (0.50, k50), (0.75, k75)):
        assert abs(len(ks) / n - frac) < 0.08, (frac, len(ks) / n)


def test_chunk_frame_matches_python_reference(spark):
    """Edge cases the fixture never exercises: 1-token docs, exact-multiple
    lengths, and partial final chunks — pinned against a plain-Python
    chunker for token counts 1..8."""
    from mapreduce_6_824_lab1_spark.operators.curation import (
        CHUNK_TOKENS,
        chunk_frame,
    )

    docs = [(n, [f"w{i}" for i in range(n)]) for n in range(1, 9)]
    toks = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    got = {
        (r.doc_id, r.chunk_id): r.chunk
        for r in chunk_frame(toks).collect()
    }
    want = {}
    for n, ws in docs:
        for c in range(-(-len(ws) // CHUNK_TOKENS)):
            want[(n, c)] = " ".join(
                ws[c * CHUNK_TOKENS : (c + 1) * CHUNK_TOKENS]
            )
    assert got == want
