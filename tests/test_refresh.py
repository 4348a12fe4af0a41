"""Refresh ≡ index: an incrementally refreshed index holds exactly the
tables a fresh ``Engine.index`` of the same tree builds."""

from __future__ import annotations

import glob
import os

from cqs_spark.engine import Engine

LONG_BODY = " ".join(f"w{i}" for i in range(600))  # > 512 tokens: windowed


def _func(name: str, calls: list[str], doc: str = "") -> str:
    lines = [f"def {name}(x):", f'    """{name} {doc}."""']
    lines += [f"    y = {c}(x)" for c in calls]
    return "\n".join(lines + ["    return x", "", ""])


def _write(root, rel: str, text: str) -> None:
    (root / rel).parent.mkdir(parents=True, exist_ok=True)
    (root / rel).write_text(text)


def _rows(df) -> list[tuple]:
    return sorted(
        (tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()),
        key=repr,
    )


def _tables(eng: Engine) -> dict[str, list[tuple]]:
    registry = eng.spark.read.parquet(eng._path("registry"))
    return {
        "chunks": _rows(eng.chunks()),
        "postings": _rows(eng.postings()),
        "edges": _rows(eng.edges()),
        "type_edges": _rows(eng.type_edges()),
        "registry": _rows(
            registry.select("origin", "source_size", "source_content_hash")
        ),
    }


def _cache_hashes(eng: Engine) -> list[str]:
    return [
        r["canonical_hash"]
        for r in eng.spark.read.parquet(eng._cache_path()).collect()
    ]


def test_refresh_matches_fresh_index(spark, tmp_path):
    tree = tmp_path / "tree"
    _write(tree, "a.py", _func("alpha", ["beta"], "entry") + _func("gamma", ["alpha"]))
    _write(tree, "b.py", _func("beta", ["gamma"], LONG_BODY) + _func("delta", ["beta"]))
    _write(tree, "sub/c.py", _func("eps", ["alpha"]) + "class Foo:\n    x: int\n")
    _write(tree, "README.md", "# Title\n\nalpha and beta.\n")
    eng = Engine(spark, str(tmp_path / "idx"))
    eng.index(str(tree))

    def changed():
        # delta's body changes; beta (and its windows) keep their hashes.
        _write(tree, "b.py", _func("beta", ["gamma"], LONG_BODY) + _func("delta", ["eps"]))
        return {"reparsed": 1, "deleted": 0}, {"b.py"}

    def added():
        # gamma is a copy of a.py's: a cache hit.
        _write(tree, "e.py", _func("zeta", ["alpha", "eps"]) + _func("gamma", ["alpha"]))
        return {"reparsed": 1, "deleted": 0}, {"e.py"}

    def deleted():
        os.remove(tree / "sub/c.py")
        return {"reparsed": 0, "deleted": 1}, set()

    def noop():
        return {"reparsed": 0, "deleted": 0}, set()

    for step in (changed, added, deleted, noop):
        want, files = step()
        before = _cache_hashes(eng)
        rep = eng.refresh()
        assert {k: rep[k] for k in want} == want, (step.__name__, rep)
        if step is not noop:  # a no-op leaves the tree as it was
            fresh = Engine(spark, str(tmp_path / f"fresh_{step.__name__}"))
            fresh.index(str(tree))
            expected = _tables(fresh)
        assert _tables(eng) == expected, step.__name__
        # One new cache row per previously uncached canonical hash of the
        # reparsed files, and nothing else.
        uncached = {
            r["canonical_hash"]
            for r in eng.chunks().collect()
            if r["origin"].rsplit("/tree/", 1)[1] in files
        } - set(before)
        assert bool(uncached) == bool(files), step.__name__  # misses do occur
        after = _cache_hashes(eng)
        assert len(after) == len(before) + len(uncached), step.__name__
        assert set(after) == set(before) | uncached, step.__name__
        assert not glob.glob(os.path.join(eng.workdir, "*.new")), step.__name__
