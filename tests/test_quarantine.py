"""The slow-test quarantine names real tests.

``conftest.SLOW_TESTS`` marks tests by nodeid, so a renamed or deleted
test would silently fall out of the quarantine and leave a dead entry
behind.  Each entry must name a file and a test function that exist.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from conftest import SLOW_TESTS

REPO = Path(__file__).resolve().parent.parent


def _functions(path: Path) -> set[str]:
    if not path.is_file():
        return set()
    tree = ast.parse(path.read_text())
    return {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}


def test_slow_tests_name_existing_tests():
    defined: dict[str, set[str]] = {}
    missing = []
    for nodeid in sorted(SLOW_TESTS):
        path, _, name = re.sub(r"\[.*\]$", "", nodeid).partition("::")
        if path not in defined:
            defined[path] = _functions(REPO / path)
        if name not in defined[path]:
            missing.append(nodeid)
    assert missing == []
