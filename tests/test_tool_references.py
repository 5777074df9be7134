"""Every ``tools/<name>.py`` that the package, the tests, the tools,
bench.py or the README cites must exist, so deleting a tool cannot
leave a dangling citation behind."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
CITING = ["mapreduce_6_824_lab1_spark", "tests", "tools", "bench.py", "README.md"]
CITATION = re.compile(
    r"\btools/(\w+)\.py\b|\bfrom tools\.(\w+) import\b|\bimport tools\.(\w+)"
)


def _citing_files():
    for name in CITING:
        path = REPO / name
        if path.is_dir():
            yield from sorted(path.rglob("*.py"))
            yield from sorted(path.rglob("*.md"))
        else:
            yield path


def test_cited_tools_exist():
    missing = []
    for path in _citing_files():
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for m in CITATION.finditer(line):
                tool = next(g for g in m.groups() if g)
                if not (REPO / "tools" / f"{tool}.py").is_file():
                    missing.append(
                        f"{path.relative_to(REPO)}:{lineno}: tools/{tool}.py"
                    )
    assert not missing, "citations of missing tools:\n" + "\n".join(missing)


def test_the_scan_sees_citations():
    """Guard the scanner itself: the repo's live citations are found."""
    cited = {
        next(g for g in m.groups() if g)
        for path in _citing_files()
        for m in CITATION.finditer(path.read_text())
    }
    assert {"driver_sim", "bench_guard", "probe_key_replay"} <= cited
