"""Round-4 additions: sliding-window chunking, temperature mixing, linear
interpolation, and the under-split scan fan-out guard."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.catalog import fan_out, load_table
from mapreduce_6_824_lab1_spark.operators.curation import (
    CHUNK_STRIDE,
    CHUNK_WINDOW,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def chunks(spark):
    return QUERIES["chunk_sliding"](spark, SF_DIR).toPandas()


def test_chunk_sliding_covers_every_document(spark, chunks):
    """The last chunk of every document must reach its final token — the
    window/stride recurrence may not truncate the tail."""
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .toPandas()
        .set_index("doc_id")["n"]
    )
    last = chunks.sort_values(["doc_id", "chunk_id"]).groupby("doc_id").last()
    for doc_id, row in last.iterrows():
        assert row["start_tok"] + row["chunk_tokens"] == docs[doc_id], doc_id


def test_chunk_sliding_stride_and_overlap(chunks):
    """Starts advance by exactly the stride; full chunks carry the window
    size; only the final chunk may be partial."""
    for doc_id, grp in chunks.groupby("doc_id"):
        grp = grp.sort_values("chunk_id")
        starts = grp["start_tok"].tolist()
        assert starts == [i * CHUNK_STRIDE for i in range(len(starts))]
        sizes = grp["chunk_tokens"].tolist()
        assert all(s == CHUNK_WINDOW for s in sizes[:-1])
        assert 0 < sizes[-1] <= CHUNK_WINDOW
        # chunk text length agrees with the reported token count
        n_words = grp["chunk"].str.split(" ").str.len().tolist()
        assert n_words == sizes


def test_chunk_reconstruction(spark, chunks):
    """Taking the first `stride` tokens of each chunk plus the tail of the
    last reproduces the original document — no token lost or duplicated."""
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .toPandas()
        .set_index("doc_id")["text"]
    )
    for doc_id, grp in chunks.groupby("doc_id"):
        grp = grp.sort_values("chunk_id")
        toks: list[str] = []
        rows = grp.to_dict("records")
        for row in rows[:-1]:
            toks.extend(row["chunk"].split(" ")[:CHUNK_STRIDE])
        toks.extend(rows[-1]["chunk"].split(" "))
        assert " ".join(toks) == docs[doc_id], doc_id


def test_mix_temperature_nests_uniform_sample(spark):
    """rate_temp = (m/n)^0.5 >= m/n = rate_uniform, and both use the same
    hash, so every source's temperature sample must CONTAIN the uniform
    sample (the nested-sample property the docstrings promise)."""
    uni = (
        QUERIES["mix_sources_uniform"](spark, SF_DIR)
        .toPandas()
        .set_index("source")
    )
    temp = (
        QUERIES["mix_sources_temperature"](spark, SF_DIR)
        .toPandas()
        .set_index("source")
    )
    assert set(uni.index) == set(temp.index)
    for src in uni.index:
        assert temp.loc[src, "n_kept"] >= uni.loc[src, "n_kept"], src
    # temperature flattens: larger sources keep a smaller fraction
    t = temp.sort_values("n_total")
    fracs = t["kept_frac"].tolist()
    assert all(a >= b - 1e-9 for a, b in zip(fracs, fracs[1:]))


def test_interpolate_values_lie_between_brackets(spark):
    pdf = QUERIES["timeseries_interpolate"](spark, SF_DIR).toPandas()
    assert set(pdf["kind"]) <= {"obs", "interp", "edge"}
    assert pdf.loc[pdf["kind"] == "edge", "value_cents"].isna().all()
    assert pdf.loc[pdf["kind"] != "edge", "value_cents"].notna().all()
    for prio, grp in pdf.groupby("prio"):
        grp = grp.sort_values("day").reset_index(drop=True)
        obs_idx = grp.index[grp["kind"] == "obs"].tolist()
        assert obs_idx, prio
        # every interp day is bracketed by observations and lies within
        # [min, max] of its bracket (linearity implies betweenness)
        import bisect

        for i in grp.index[grp["kind"] == "interp"]:
            pos = bisect.bisect_left(obs_idx, i)
            assert 0 < pos < len(obs_idx), (prio, i)
            lo_v = grp.loc[obs_idx[pos - 1], "value_cents"]
            hi_v = grp.loc[obs_idx[pos], "value_cents"]
            v = grp.loc[i, "value_cents"]
            assert min(lo_v, hi_v) - 1 <= v <= max(lo_v, hi_v) + 1, (prio, i)
        # edges only before the first or after the last observation
        for i in grp.index[grp["kind"] == "edge"]:
            assert i < obs_idx[0] or i > obs_idx[-1], (prio, i)


def test_fan_out_guard(spark):
    docs = load_table(spark, SF_DIR, "documents")
    target = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < target  # single-file fixture
    fanned = fan_out(docs)
    assert fanned.rdd.getNumPartitions() == target
    # already-parallel inputs pass through untouched (identity, no shuffle)
    assert fan_out(fanned) is fanned
    # row multiset unchanged
    assert fanned.count() == docs.count()


def test_stream_cdc_apply_equals_batch_merge(spark):
    """The incremental foreachBatch MERGE must land on exactly the state the
    one-shot batch MERGE computes — latest-wins associativity across batch
    boundaries is the whole correctness argument."""
    a = (
        QUERIES["stream_cdc_apply"](spark, SF_DIR)
        .toPandas()
        .sort_values("status")
        .reset_index(drop=True)
    )
    b = (
        QUERIES["cdc_apply_latest"](spark, SF_DIR)
        .toPandas()
        .sort_values("status")
        .reset_index(drop=True)
    )
    assert a.equals(b), (a, b)


def test_asof_nearest_exercises_both_directions(spark):
    """The fixture must genuinely produce forward AND backward matches —
    an all-backward result would mean the forward carry is dead code
    (exactly what happened against the orders table, whose dates all
    precede every event)."""
    dirs = set(
        QUERIES["join_asof_nearest"](spark, SF_DIR)
        .select("direction")
        .distinct()
        .toPandas()["direction"]
    )
    assert dirs == {"backward", "forward"}, dirs


def test_python_stream_source_needs_multiple_restarts(spark):
    """The Python streaming source serves ONE chunk per availableNow start,
    so draining STREAM_TOTAL rows must take ceil(total/chunk) query starts
    — if a single start drained everything, the checkpoint-resume property
    the key claims to prove would be untested."""
    from mapreduce_6_824_lab1_spark.sources.pydatasource import (
        STREAM_CHUNK,
        STREAM_TOTAL,
    )

    assert STREAM_TOTAL > STREAM_CHUNK  # guarantees >= 2 restarts
    out = QUERIES["source_python_stream"](spark, SF_DIR).toPandas()
    assert int(out["cnt"].sum()) == STREAM_TOTAL
