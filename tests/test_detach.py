"""``catalog.detach``: small results come home on the JVM, never through
a Python RDD.

``spark.createDataFrame(df.collect(), df.schema)`` re-parallelizes the
collected rows as a Python RDD (``Scan ExistingRDD``), so every later
action runs Python worker tasks just to unpickle them. ``detach`` keeps
the rows in a driver-held ``LocalTableScan``; the lint below keeps the old
idiom out of the package."""

from __future__ import annotations

import ast
import shutil
import tempfile
from pathlib import Path

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.catalog import detach
from mapreduce_6_824_lab1_spark.plans.inspect import formatted_plan
from tests.conftest import SF_DIR

PACKAGE = Path(__file__).resolve().parent.parent / "mapreduce_6_824_lab1_spark"

_ALL_TYPES = """
SELECT * FROM VALUES
  (1L, 2.5D, 'a', X'00FF', CAST(12.34 AS DECIMAL(12, 2)), array(1.0D, -0.5D),
   TIMESTAMP'2024-03-01 12:34:56.789'),
  (CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS STRING),
   CAST(NULL AS BINARY), CAST(NULL AS DECIMAL(12, 2)),
   CAST(NULL AS ARRAY<DOUBLE>), CAST(NULL AS TIMESTAMP))
  AS t(l, d, s, b, dec, arr, ts)
"""


def _assert_local(df) -> None:
    plan = formatted_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_detach_keeps_rows_and_schema_after_the_files_are_gone(spark):
    path = tempfile.mkdtemp(prefix="mr_test_detach_")
    try:
        spark.sql(_ALL_TYPES).write.mode("overwrite").parquet(path)
        src = spark.read.parquet(path)
        want_rows, want_schema = src.collect(), src.schema
        out = detach(src)
    finally:
        shutil.rmtree(path)
    assert out.schema == want_schema
    assert sorted(out.collect(), key=str) == sorted(want_rows, key=str)
    _assert_local(out)


def test_detach_empty_frame(spark):
    src = spark.sql(_ALL_TYPES).limit(0)
    out = detach(src)
    assert out.schema == src.schema
    assert out.collect() == []
    _assert_local(out)


def test_partitioned_sink_result_is_a_local_table(spark):
    _assert_local(QUERIES["sink_partitioned_parquet"](spark, SF_DIR))


def _collect_round_trips(source: str):
    """Line numbers of ``createDataFrame(<expr>.collect(), …)`` calls."""
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and node.args
            and isinstance(node.args[0], ast.Call)
            and isinstance(node.args[0].func, ast.Attribute)
            and node.args[0].func.attr == "collect"
        ):
            yield node.lineno


def test_package_has_no_collect_round_trip():
    found = [
        f"{py.relative_to(PACKAGE.parent)}:{lineno}"
        for py in sorted(PACKAGE.rglob("*.py"))
        for lineno in _collect_round_trips(py.read_text())
    ]
    assert not found, (
        "use catalog.detach(df) instead of "
        "spark.createDataFrame(df.collect(), ...):\n" + "\n".join(found)
    )


def test_streaming_detach_only_on_declared_bounded_grain():
    """The sink-grain lint in test_plans looks for ``.collect()`` in each
    streaming/source key's body; ``detach`` moved that collect into the
    catalog, so its call sites are held to the same allowlist here."""
    import inspect
    import textwrap

    from tests.test_plans import _DECLARED_BOUNDED_GRAIN_COLLECT

    detaching = set()
    for key, fn in QUERIES.items():
        name = inspect.getmodule(fn).__name__
        if ".streaming." not in name and ".sources." not in name:
            continue
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        if any(
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "detach"
            for node in ast.walk(tree)
        ):
            detaching.add(key)
    assert "stream_rate_limited" in detaching
    undeclared = detaching - _DECLARED_BOUNDED_GRAIN_COLLECT
    assert not undeclared, f"detach on undeclared grain: {undeclared}"


def test_the_lint_sees_round_trips():
    """Guard the scanner: both shapes the package used are caught, the
    helper's own JVM call and literal-row frames are not."""
    flagged = """
a = spark.createDataFrame(out.collect(), out.schema)
b = spark.createDataFrame(
    recompute(assigned).collect(), "cid int, centroid array<double>"
)
"""
    clean = """
c = spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema())
d = spark.createDataFrame([(1, "x")], ["k", "v"])
e = out.collect()
"""
    assert list(_collect_round_trips(flagged)) == [2, 3]
    assert list(_collect_round_trips(clean)) == []


def _enclosing_calls(tree: ast.AST, attr: str):
    """(top-level function name, lineno) of every ``<x>.attr(...)`` or
    bare ``attr(...)`` call; module-level calls report ``<module>``."""
    def is_call(node):
        return isinstance(node, ast.Call) and (
            (isinstance(node.func, ast.Attribute) and node.func.attr == attr)
            or (isinstance(node.func, ast.Name) and node.func.id == attr)
        )

    for top in tree.body:
        owner = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
            else "<module>"
        )
        for node in ast.walk(top):
            if is_call(node):
                yield owner, node.lineno


def _package_sites(attr: str) -> dict[str, str]:
    return {
        f"{py.relative_to(PACKAGE.parent)}:{lineno}": owner
        for py in sorted(PACKAGE.rglob("*.py"))
        for owner, lineno in _enclosing_calls(ast.parse(py.read_text()), attr)
    }


def test_package_has_one_scratch_idiom():
    """Scratch dirs are ``with tempfile.TemporaryDirectory(...)`` blocks.
    Only the two streaming sinks whose lazily-read output must outlive the
    call make a dir with ``mkdtemp``, and only the exit hook removes those."""
    mkdtemp = {
        site: owner
        for site, owner in _package_sites("mkdtemp").items()
        if owner not in ("_run_to_parquet", "stream_asof_enrich")
    }
    assert not mkdtemp, f"use tempfile.TemporaryDirectory: {mkdtemp}"
    rmtree = {
        site: owner
        for site, owner in _package_sites("rmtree").items()
        if owner != "_cleanup_out_scratch"
    }
    assert not rmtree, f"use tempfile.TemporaryDirectory: {rmtree}"


def _returns_in_scratch_blocks(tree: ast.AST):
    """Each ``return`` inside a ``TemporaryDirectory`` with-block (nested
    function bodies excluded) as (lineno, returns detach(...))."""
    def walk(nodes):
        for node in nodes:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
            ):
                continue
            if isinstance(node, ast.Return):
                value = node.value
                yield node.lineno, (
                    isinstance(value, ast.Call)
                    and isinstance(value.func, ast.Name)
                    and value.func.id == "detach"
                )
            yield from walk(ast.iter_child_nodes(node))

    for node in ast.walk(tree):
        if isinstance(node, (ast.With, ast.AsyncWith)) and any(
            isinstance(item.context_expr, ast.Call)
            and isinstance(item.context_expr.func, ast.Attribute)
            and item.context_expr.func.attr == "TemporaryDirectory"
            for item in node.items
        ):
            yield from walk(node.body)


def test_batch_scratch_results_are_detached():
    """A frame returned from inside a scratch block is read after the dir
    is gone, so in the batch keys it must be a detached local table."""
    lazy = [
        f"{py.relative_to(PACKAGE.parent)}:{lineno}"
        for sub in ("sources", "operators")
        for py in sorted((PACKAGE / sub).rglob("*.py"))
        for lineno, detached in _returns_in_scratch_blocks(
            ast.parse(py.read_text())
        )
        if not detached
    ]
    assert not lazy, "return detach(...) in a scratch block:\n" + "\n".join(lazy)


def test_the_scratch_lints_see_their_shapes():
    """Guard the scanners on the shapes they must flag and pass."""
    src = """
import shutil, tempfile
from tempfile import mkdtemp
X = mkdtemp()
def keep(spark):
    with tempfile.TemporaryDirectory(prefix="p") as d:
        def cb(b):
            return b
        return detach(read(d))
def lazy(spark):
    with tempfile.TemporaryDirectory(prefix="p") as d:
        if spark:
            return spark.read.parquet(d)
        shutil.rmtree(d)
"""
    tree = ast.parse(src)
    assert list(_enclosing_calls(tree, "mkdtemp")) == [("<module>", 4)]
    assert list(_enclosing_calls(tree, "rmtree")) == [("lazy", 14)]
    assert list(_returns_in_scratch_blocks(tree)) == [(9, True), (13, False)]


def test_storage_keys_build_the_plans_the_plan_tests_check():
    """test_plans checks the DPP, Bloom, bucketed and partitioned-sink
    plans through their helpers; the keys must build their plans through
    the same helpers."""
    from mapreduce_6_824_lab1_spark.manifest import package_call_closure
    from mapreduce_6_824_lab1_spark.operators import storage

    for key, helper in (
        ("join_partition_pruned", storage.dpp_plan_frame),
        ("join_bloom_pruned", storage.bloom_plan_frame),
        ("join_bucketed", storage.bucketed_join_frame),
        ("sink_partitioned_parquet", storage.partitioned_sink_frame),
    ):
        closure = {obj for _ident, obj in package_call_closure(QUERIES[key])}
        assert helper in closure, (key, helper.__name__)
