"""Every repository path that README, the verify skill and the ``.py`` files
of the engine, tests and tools cite must exist: ``tools/*.py`` scripts,
files under ``docs/``, plan dumps under ``plans/rN/`` and ``OPTIMIZATION_*.md``
notes. Brace forms expand to one path per alternative; a ``*`` must match a
file. Historical records (CHANGES, ROADMAP, SURVEY, VERDICT, round notes,
the reports under ``docs/``) describe the repository as it was: not scanned.
"""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCUMENTS = ("README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))
CODE_DIRS = ("bigdata_electricity_spark", "tests", "tools")

# A citation starts at a path boundary, so `perfbench/tools/x.py` or
# `glob_docs_x` do not count; a brace group may hold commas.
_SEGMENT = r"[\w.*-]+(?:\{[\w.,*-]*\}[\w.*-]*)*"
CITATION = re.compile(
    rf"(?<![\w/.-])(tools/\w+\.py|docs/{_SEGMENT}(?:/{_SEGMENT})*"
    rf"|plans/r\d+/(?:{_SEGMENT})?|OPTIMIZATION_\w+\.md)"
)


def expand_braces(path: str) -> list[str]:
    """``a_{x,y}{,_z}.json`` -> the four paths it names."""
    match = re.search(r"\{([^{}]*)\}", path)
    if match is None:
        return [path]
    head, tail = path[:match.start()], path[match.end():]
    return [p for alt in match.group(1).split(",") for p in expand_braces(head + alt + tail)]


def test_cited_paths_exist():
    files = [os.path.join(ROOT, doc) for doc in DOCUMENTS]
    for top in CODE_DIRS:
        files += sorted(glob.glob(os.path.join(ROOT, top, "**", "*.py"), recursive=True))
    dangling, cited = [], 0
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for match in CITATION.finditer(line):
                    for cite in expand_braces(match.group(1).rstrip(".")):
                        cited += 1
                        if not glob.glob(os.path.join(ROOT, cite)):
                            dangling.append(f"{os.path.relpath(path, ROOT)}:{lineno}: {cite}")
    assert cited > 0, "no citations found; the scan is broken"
    assert not dangling, "cited paths that do not exist:\n" + "\n".join(dangling)
