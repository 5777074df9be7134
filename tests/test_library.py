"""Unit tests for library functions not (fully) exercised via queries():
the generic lab-shaped map_reduce runner and the multimodal codec stubs."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from mapreduce_6_824_lab1_spark.catalog import load_table
from mapreduce_6_824_lab1_spark.operators.mapreduce import map_reduce
from mapreduce_6_824_lab1_spark.operators.multimodal import (
    decode_image_batch,
    sample_video_frames,
)
from mapreduce_6_824_lab1_spark.session import scoped_conf
from tests.conftest import SF_DIR

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def test_map_reduce_runs_arbitrary_user_functions(spark):
    """The lab's contract: mapF(key, contents) -> [KV], reduceF(k, vs) -> str.
    Longest-word-per-lang through the generic runner."""
    docs = load_table(spark, SF_DIR, "documents")

    def map_f(lang: str, text: str):
        return [(lang, w) for w in text.split(" ")]

    def reduce_f(lang: str, words: list[str]) -> str:
        return max(words, key=lambda w: (len(w), w))

    out = {
        r.key: r.value
        for r in map_reduce(docs, map_f, reduce_f, "lang", "text").collect()
    }
    # cross-check against a declarative formulation
    from pyspark.sql import functions as F

    expect = {
        r.lang: r.w
        for r in docs.select(
            "lang", F.explode(F.split("text", " ")).alias("w")
        )
        .groupBy("lang")
        .agg(F.max(F.struct(F.length("w").alias("l"), F.col("w"))).alias("m"))
        .select("lang", F.col("m.w").alias("w"))
        .collect()
    }
    assert out == expect


def test_multimodal_codec_stubs_raise(spark):
    with pytest.raises(NotImplementedError):
        next(decode_image_batch(iter([])))
    with pytest.raises(NotImplementedError):
        next(sample_video_frames(iter([])))


def test_cluster_profile_applies(spark):
    from mapreduce_6_824_lab1_spark.cluster import (
        RUNTIME_CLUSTER_CONF,
        apply_cluster_profile,
        cluster_conf,
    )

    profile = cluster_conf()
    assert profile["spark.sql.adaptive.enabled"] == "true"
    saved = {}
    for k in RUNTIME_CLUSTER_CONF:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        failed = apply_cluster_profile(spark)
        assert not failed, failed
        assert (
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
            == RUNTIME_CLUSTER_CONF[
                "spark.sql.adaptive.advisoryPartitionSizeInBytes"
            ]
        )
    finally:
        # the session is shared across the test run — restore
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def _off_core_partitions(spark):
    """Move the session's shuffle-partition count off one wave of cores,
    so a runner that keeps the session value, or pins any other count,
    shows."""
    cores = spark.sparkContext.defaultParallelism
    return scoped_conf(spark, {SHUFFLE_PARTITIONS: str(cores + 3)})


def test_stream_runner_restores_shuffle_partitions(spark):
    # both stream runners (_run_to_memory under stream_tumbling,
    # _run_to_parquet under stream_grep) size state partitions for the
    # stream only; the session's own setting must be back before any
    # subsequent batch query plans.
    from mapreduce_6_824_lab1_spark import QUERIES

    with _off_core_partitions(spark):
        before = spark.conf.get(SHUFFLE_PARTITIONS)
        for key in ("stream_tumbling", "stream_grep"):
            QUERIES[key](spark, SF_DIR).count()
            assert spark.conf.get(SHUFFLE_PARTITIONS) == before, key


def test_stream_state_partitions_are_one_wave_of_cores(spark):
    """session.core_partitions: a stateful stream's state store gets
    ``defaultParallelism`` partitions, whatever the session default."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from mapreduce_6_824_lab1_spark import QUERIES

    seen: list[int] = []
    done: list[bool] = []

    class _StatePartitions(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.extend(
                op.numShufflePartitions for op in event.progress.stateOperators
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.append(True)

    listener = _StatePartitions()
    spark.streams.addListener(listener)
    try:
        with _off_core_partitions(spark):
            QUERIES["stream_tumbling"](spark, SF_DIR).count()
        # listener events arrive asynchronously
        deadline = time.monotonic() + 30
        while not done and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert done and seen
    assert set(seen) == {spark.sparkContext.defaultParallelism}, seen


def _literal_shuffle_partition_values(tree: ast.Module) -> list[int]:
    """Line numbers where ``spark.sql.shuffle.partitions`` is given a
    fixed value: a string literal, or ``str()`` of a literal or of a
    module-level constant, as a dict entry or as a call's second
    argument (``conf.set``, ``.config``)."""
    consts = {
        t.id
        for node in tree.body
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.Constant)
        for t in node.targets
        if isinstance(t, ast.Name)
    }

    def fixed(v: ast.AST) -> bool:
        if isinstance(v, ast.Constant):
            return True
        return (
            isinstance(v, ast.Call)
            and isinstance(v.func, ast.Name)
            and v.func.id == "str"
            and len(v.args) == 1
            and (
                isinstance(v.args[0], ast.Constant)
                or (isinstance(v.args[0], ast.Name) and v.args[0].id in consts)
            )
        )

    def is_key(k) -> bool:
        return isinstance(k, ast.Constant) and k.value == SHUFFLE_PARTITIONS

    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            hits += [
                v.lineno
                for k, v in zip(node.keys, node.values)
                if is_key(k) and fixed(v)
            ]
        elif (
            isinstance(node, ast.Call)
            and len(node.args) == 2
            and is_key(node.args[0])
            and fixed(node.args[1])
        ):
            hits.append(node.lineno)
    return sorted(hits)


def test_no_fixed_shuffle_partition_pins():
    """Operators and streams size shuffles from the cores
    (session.core_partitions) or from the data, never from a constant."""
    shapes = """
PINNED = 16
def f(spark, n):
    cores = spark.sparkContext.defaultParallelism
    scoped_conf(spark, {"spark.sql.shuffle.partitions": "16"})
    spark.conf.set("spark.sql.shuffle.partitions", str(PINNED))
    scoped_conf(spark, {"spark.sql.shuffle.partitions": str(8)})
    scoped_conf(spark, {"spark.sql.shuffle.partitions": str(cores)})
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
"""
    assert _literal_shuffle_partition_values(ast.parse(shapes)) == [5, 6, 7]
    pkg = Path(__file__).resolve().parent.parent / "mapreduce_6_824_lab1_spark"
    bad = [
        f"{path.relative_to(pkg)}:{line}"
        for sub in ("operators", "streaming")
        for path in sorted((pkg / sub).glob("*.py"))
        for line in _literal_shuffle_partition_values(
            ast.parse(path.read_text(encoding="utf-8"))
        )
    ]
    assert not bad, bad


# ---------------------------------------------------------------------------
# CLI entry points (python -m mapreduce_6_824_lab1_spark ...)
# ---------------------------------------------------------------------------


def test_cli_list(capsys):
    from mapreduce_6_824_lab1_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "wordcount\toracle" in out
    assert "dedup_minhash_lsh\trows-only" in out


def test_cli_run_text_out(tmp_path, capsys):
    """--format text is the mr-out-* analogue: sorted space-joined lines."""
    from mapreduce_6_824_lab1_spark.__main__ import main

    out_dir = str(tmp_path / "wc_out")
    assert main(["run", "wordcount", "--out", out_dir]) == 0
    import glob

    lines = []
    for f in glob.glob(f"{out_dir}/part-*"):
        with open(f, encoding="utf-8") as fh:
            lines += [ln.rstrip("\n") for ln in fh]
    assert lines == sorted(lines) or len(glob.glob(f"{out_dir}/part-*")) > 1
    assert any(ln.startswith("sort ") for ln in lines)


def test_cli_verify_matches_oracle(capsys):
    from mapreduce_6_824_lab1_spark.__main__ import main

    assert main(["verify", "wordcount"]) == 0
    assert "OK" in capsys.readouterr().out


def test_cli_unknown_key(capsys):
    from mapreduce_6_824_lab1_spark.__main__ import main

    assert main(["run", "nope_key"]) == 2
