"""Every repository path cited in code and in the measurement docs exists.

Docstrings, comments and SCALE.md/COVERAGE.md cite the scripts, tests and
plan captures that back a claim. A citation of a deleted file is written
``<rev>:<path>`` (recover it with ``git show <rev>:<path>``) and is not
checked here.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

SCANNED = (
    *sorted((ROOT / "realtime_datawarehouse_spark").rglob("*.py")),
    *sorted((ROOT / "tests").glob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "SCALE.md",
    ROOT / "COVERAGE.md",
)

# group 1: the git revision of a history citation; group 2: the cited path
CITATION = re.compile(
    r"(?<![\w/.:])(?:([0-9a-f]{7,40}):)?"
    r"((?:tools|tests|perfbench)/\w+\.py|plans/r\d+/[\w.]*)"
)


def test_cited_repository_paths_exist():
    missing = []
    for src in SCANNED:
        for lineno, line in enumerate(src.read_text().splitlines(), 1):
            for m in CITATION.finditer(line):
                rev, path = m.groups()
                if rev is None and not (ROOT / path).exists():
                    missing.append(f"{src.relative_to(ROOT)}:{lineno}: {path}")
    assert not missing, "cited paths missing from the checkout:\n" + "\n".join(
        missing
    )
