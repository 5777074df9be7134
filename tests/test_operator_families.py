"""The operator modules are grouped by family, and the README says so:
its key table names every registered key, its Layout block names every
operator module, and no operator module imports one that registers
later. Spark-free: the registry is imported, no session is started."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from mapreduce_6_824_lab1_spark import QUERIES

REPO = Path(__file__).resolve().parent.parent
OPERATORS = REPO / "mapreduce_6_824_lab1_spark" / "operators"
PKG_OPS = "mapreduce_6_824_lab1_spark.operators."
README = (REPO / "README.md").read_text()
# `sql_tpch_q1` … `sql_tpch_q22` stands for every key in between.
KEY_RANGE = re.compile(r"`(\w+?)(\d+)` … `\1(\d+)`")


def _table_keys(text: str) -> set[str]:
    rows = "\n".join(line for line in text.splitlines() if line.startswith("| "))
    keys = set(re.findall(r"`(\w+)`", rows))
    for stem, lo, hi in KEY_RANGE.findall(rows):
        keys |= {f"{stem}{i}" for i in range(int(lo), int(hi) + 1)}
    return keys


def _layout_block(text: str) -> str:
    return text.split("## Layout", 1)[1].split("```")[1]


def _init_order() -> list[str]:
    tree = ast.parse((OPERATORS / "__init__.py").read_text())
    return [
        alias.name.removeprefix(PKG_OPS)
        for node in tree.body
        if isinstance(node, ast.Import)
        for alias in node.names
        if alias.name.startswith(PKG_OPS)
    ]


def test_readme_key_table_covers_registry():
    missing = sorted(set(QUERIES) - _table_keys(README))
    assert not missing, f"keys missing from README's key table: {missing}"


def test_readme_layout_lists_every_operator_module():
    # the operator modules are the Layout lines indented under operators/
    listed = set(re.findall(r"^ {4}(\w+)\.py ", _layout_block(README), re.M))
    modules = {p.stem for p in OPERATORS.glob("*.py")} - {"__init__"}
    assert listed == modules, sorted(listed ^ modules)
    assert set(_init_order()) == modules


def test_operator_modules_import_only_earlier_modules():
    """Registration order (and so the driver window's tie order) is the
    import order in operators/__init__.py; a module-level import of a
    later module would register it early as a side effect."""
    order = {name: i for i, name in enumerate(_init_order())}
    late = []
    for name, rank in order.items():
        tree = ast.parse((OPERATORS / f"{name}.py").read_text())
        for node in tree.body:
            if isinstance(node, ast.ImportFrom):
                targets = [node.module or ""]
            elif isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            else:
                continue
            for target in targets:
                dep = target.removeprefix(PKG_OPS).split(".")[0]
                if target.startswith(PKG_OPS) and order.get(dep, -1) >= rank:
                    late.append(f"{name}.py:{node.lineno} imports {dep}")
    assert not late, late
