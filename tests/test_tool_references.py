"""Every ``tools/<name>.py`` that the package, the tests, the tools,
bench.py or the README cites must exist, so deleting a tool cannot
leave a dangling citation behind."""

from __future__ import annotations

import ast
import re
import sys
from importlib.machinery import PathFinder
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TOOLS = REPO / "tools"
CITING = ["mapreduce_6_824_lab1_spark", "tests", "tools", "bench.py", "README.md"]
CITATION = re.compile(
    r"\btools/(\w+)\.py\b|\bfrom tools\.(\w+) import\b|\bimport tools\.(\w+)"
)
# The scripts in tools/ (and bench.py, once it puts tools/ on sys.path)
# import their siblings by bare module name: `from bench_guard import …`.
SIBLING_IMPORTERS = ["bench.py", "tools"]
# Where a bare name resolves without tools/ on sys.path: the repo root and
# the installed packages.
OUTSIDE_TOOLS = [str(REPO)] + [
    p for p in sys.path if p and Path(p).resolve() != TOOLS
]


def _citing_files():
    for name in CITING:
        path = REPO / name
        if path.is_dir():
            yield from sorted(path.rglob("*.py"))
            yield from sorted(path.rglob("*.md"))
        else:
            yield path


def _sibling_imports(path: Path):
    """(lineno, name) of each absolute import in ``path`` whose top-level
    name is neither stdlib nor found outside tools/ — a sibling tool."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [node.module]
        else:
            continue
        for name in names:
            top = name.split(".")[0]
            if top in sys.stdlib_module_names:
                continue
            if PathFinder.find_spec(top, OUTSIDE_TOOLS) is None:
                yield node.lineno, top


def _citations():
    """(path, lineno, tool) for every citation of a tool."""
    for path in _citing_files():
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for m in CITATION.finditer(line):
                yield path, lineno, next(g for g in m.groups() if g)
    for name in SIBLING_IMPORTERS:
        path = REPO / name
        for py in sorted(path.rglob("*.py")) if path.is_dir() else [path]:
            for lineno, tool in _sibling_imports(py):
                yield py, lineno, tool


def test_cited_tools_exist():
    missing = [
        f"{path.relative_to(REPO)}:{lineno}: tools/{tool}.py"
        for path, lineno, tool in _citations()
        if not (TOOLS / f"{tool}.py").is_file()
    ]
    assert not missing, "citations of missing tools:\n" + "\n".join(missing)


def test_the_scan_sees_citations():
    """Guard the scanner itself: the repo's live citations are found,
    including the bare sibling import in tools/floor_medians.py."""
    cited = {tool for _, _, tool in _citations()}
    assert {"driver_sim", "bench_guard", "floor_medians"} <= cited
    assert "bench_guard" in {
        tool for _, tool in _sibling_imports(TOOLS / "floor_medians.py")
    }
