"""`__spark_entry__`'s query registry covers every family, and every
engine module is reachable from it, the engine or the CLI."""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as E


def test_queries_and_oracles_cover_every_family():
    """queries() and oracle_sql() import every query family plainly, so
    a broken family import fails here instead of silently shrinking the
    bench and the oracle sweep."""
    qs, oracles = E.queries(), E.oracle_sql()
    assert qs.keys() == oracles.keys()
    assert len(qs) >= 188


REPO = Path(__file__).resolve().parent.parent
# The DuckDB-oracle harness: imported by tests/*_oracle.py and the
# benchmark's digest generator, never by the engine itself.
UNREACHED_ON_PURPOSE = {"cqs_spark.testing"}


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path, modules: set[str]) -> set[str]:
    """Every repo module ``path`` imports, function-local imports
    included (the package uses absolute imports only); importing
    ``a.b.c`` also runs the packages ``a`` and ``a.b``."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            found.add(node.module)
            found.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for mod in found:
        parts = mod.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & modules


def test_every_engine_module_is_reachable():
    """Every cqs_spark module is imported, directly or transitively,
    by the engine, the CLI or `__spark_entry__`, so code that only
    its tests import cannot pile up again."""
    paths = {_module_name(p): p for p in (REPO / "cqs_spark").rglob("*.py")}
    paths["__spark_entry__"] = REPO / "__spark_entry__.py"
    modules = set(paths)
    roots = ["cqs_spark.engine", "cqs_spark.__main__", "__spark_entry__"]
    seen, todo = set(), list(roots)
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imports(paths[mod], modules) - seen)
    assert sorted(modules - seen - UNREACHED_ON_PURPOSE) == []
