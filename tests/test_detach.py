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
