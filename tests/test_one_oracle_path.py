"""One oracle path: ``oracle.py`` is the only place in the package, tools/
and tests/ that normalises result frames, compares them, or opens DuckDB
views over the fixture parquet. Tier-1, ``verify``, the driver sim and
parity_sf1 then cannot drift apart into comparators that disagree (an
int32 column once passed tier-1 and failed the driver sim)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCANNED = ["mapreduce_6_824_lab1_spark", "tools", "tests"]
ORACLE_PY = REPO / "mapreduce_6_824_lab1_spark" / "oracle.py"
COMPARATOR_NAME = re.compile(r"^_?(normali[sz]e|compare_frames)$")


def _is_columns_sort(node: ast.Call) -> bool:
    """``df.sort_values(by=list(df.columns))``: sort rows by every column."""
    return any(
        kw.arg == "by"
        and isinstance(kw.value, ast.Call)
        and getattr(kw.value.func, "id", None) == "list"
        and kw.value.args
        and getattr(kw.value.args[0], "attr", None) == "columns"
        for kw in node.keywords
    )


def _literal_text(node: ast.AST) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(_literal_text(v) or "" for v in node.values)
    return None


def _findings(source: str) -> list[tuple[int, str]]:
    """(lineno, kind) of each frame normaliser, frame comparator and
    fixture-view statement in ``source``."""
    found = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.FunctionDef) and COMPARATOR_NAME.match(node.name):
            found.add((node.lineno, "comparator"))
        elif isinstance(node, ast.Call):
            attr = getattr(node.func, "attr", None)
            first = node.args[0] if node.args else None
            if (
                attr == "reindex"
                and isinstance(first, ast.Call)
                and getattr(first.func, "id", None) == "sorted"
            ) or (attr == "sort_values" and _is_columns_sort(node)):
                found.add((node.lineno, "normaliser"))
            elif attr in ("allclose", "is_integer_dtype") or (
                attr == "issubdtype"
                and len(node.args) == 2
                and getattr(node.args[1], "attr", None) == "integer"
            ):
                found.add((node.lineno, "comparator"))
        text = _literal_text(node)
        if text and "CREATE VIEW" in text.upper() and "parquet" in text:
            found.add((node.lineno, "fixture view"))
    return sorted(found)


def test_driver_sim_reexports_the_one_comparator():
    """perfbench's check pass imports ``tools.driver_sim.compare_frames``."""
    from mapreduce_6_824_lab1_spark import oracle
    from tools import driver_sim

    assert driver_sim.compare_frames is oracle.compare_frames


def test_the_scan_sees_each_kind():
    """Guard the scanner: a synthetic copy of each idiom is found, and so
    are the live definitions in oracle.py."""
    synthetic = '''
def _normalize(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort")

def same(a, b):
    split = pd.api.types.is_integer_dtype(a) or np.issubdtype(b, np.integer)
    return not split and np.allclose(a, b)

for t in TABLES:
    con.execute(f"create_view {t} AS SELECT * FROM '{d}/{t}.parquet'")
'''.replace("create_view", "CREATE " + "VIEW")
    assert _findings(synthetic) == [
        (2, "comparator"),
        (3, "normaliser"),
        (4, "normaliser"),
        (7, "comparator"),
        (8, "comparator"),
        (11, "fixture view"),
    ]
    live = {kind for _, kind in _findings(ORACLE_PY.read_text())}
    assert live == {"normaliser", "comparator", "fixture view"}


def test_no_second_comparator_or_fixture_view_loop():
    stray = [
        f"{path.relative_to(REPO)}:{lineno}: {kind}"
        for name in SCANNED
        for path in sorted((REPO / name).rglob("*.py"))
        if path != ORACLE_PY
        for lineno, kind in _findings(path.read_text())
    ]
    assert not stray, "use mapreduce_6_824_lab1_spark.oracle:\n" + "\n".join(stray)
