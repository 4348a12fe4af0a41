"""End-to-end index pipeline over this repo's own source tree.

The M1 milestone (SURVEY.md §7): ingest a real corpus, chunk it, build
postings, and answer a real query with the right chunk — no oracle
(not a testdata-table query); golden assertions instead.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cqs_spark.index.incremental import reconcile
from cqs_spark.index.ingest import build_chunks, list_files, registry_of, with_identity
from cqs_spark.index.postings import build_postings, keyword_search
from cqs_spark.index.reuse import embed_with_cache
from cqs_spark.index.windowing import apply_windowing

ROOT = "/root/repo/cqs_spark"


@pytest.fixture(scope="module")
def chunks(spark):
    df = build_chunks(list_files(spark, ROOT)).cache()
    df.count()
    return df


def test_chunker_extracts_functions(chunks):
    names = {r["name"] for r in chunks.select("name").collect()}
    assert {"dot", "normalize_text", "bfs", "minhash_dedup"} <= names
    types = {r["chunk_type"] for r in chunks.select("chunk_type").distinct().collect()}
    assert {"function", "module"} <= types


def test_chunk_identity_deterministic(spark, chunks):
    again = build_chunks(list_files(spark, ROOT))
    assert sorted(r["id"] for r in chunks.select("id").collect()) == sorted(
        r["id"] for r in again.select("id").collect()
    )


def test_keyword_search_finds_cosine_topk(spark, chunks):
    postings = build_postings(chunks)
    n = chunks.count()
    top = keyword_search(postings, "cosine topk probes", n, k=5).collect()
    top_chunks = {r["chunk_id"] for r in top}
    hit = chunks.filter(
        F.col("id").isin(list(top_chunks)) & (F.col("name") == "cosine_topk")
    )
    assert hit.count() >= 1, f"cosine_topk not in top-5: {top}"


def test_windowing_splits_and_carries_lineage(spark):
    long_text = " ".join(f"tok{i}" for i in range(1000))
    base = spark.createDataFrame(
        [("f.py", "python", "function", "big", "def big():", long_text, None, 1, 10)],
        "origin string, language string, chunk_type string, name string, "
        "signature string, content string, doc string, line_start int, line_end int",
    )
    out = apply_windowing(with_identity(base), max_tokens=256).collect()
    assert len(out) > 1
    assert all(r["parent_id"] is not None for r in out)
    assert [r["window_idx"] for r in sorted(out, key=lambda r: r["window_idx"])] == list(
        range(len(out))
    )
    # 12.5% overlap: consecutive windows share tokens
    w = sorted(out, key=lambda r: r["window_idx"])
    t0, t1 = set(w[0]["content"].split()), set(w[1]["content"].split())
    assert t0 & t1


def test_windowing_recomputes_hashes_per_window(spark):
    """Regression: window rows must hash their OWN slice, not the parent.

    canonical_hash is the embedding-reuse cache key — parent-inherited
    hashes alias every window of a long chunk to one cached embedding
    (the reference recomputes per window, windowing.rs:67,98).
    """
    long_text = " ".join(f"tok{i}" for i in range(4000))
    base = spark.createDataFrame(
        [("f.py", "python", "function", "big", "def big():", long_text, None, 1, 10)],
        "origin string, language string, chunk_type string, name string, "
        "signature string, content string, doc string, line_start int, line_end int",
    )
    out = apply_windowing(with_identity(base), max_tokens=256).collect()
    assert len(out) > 10
    canon = {r["canonical_hash"] for r in out}
    content = {r["content_hash"] for r in out}
    assert len(canon) == len(out), "windows share canonical_hash (cache aliasing)"
    assert len(content) == len(out)
    # And each hash matches what with_identity computes for that slice alone.
    import hashlib

    for r in out[:3]:
        assert r["content_hash"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_windowing_empty_long_short_null(spark):
    """Empty and short chunks pass through unchanged, a long one splits
    into stride-14 windows of at most 16 tokens with their own hashes,
    and a NULL-content chunk is dropped (it has no token count)."""
    long_toks = [f"t{i}" for i in range(40)]
    rows = [("empty", ""), ("short", "a b c"), ("long", " ".join(long_toks)), ("null", None)]
    base = spark.createDataFrame(
        [(f"{n}.py", "python", "function", n, n, c, None, 1, 2) for n, c in rows],
        "origin string, language string, chunk_type string, name string, "
        "signature string, content string, doc string, line_start int, line_end int",
    )
    chunks = with_identity(base)
    by_name = {r["name"]: r for r in chunks.collect()}
    out = apply_windowing(chunks, max_tokens=16)
    assert out.columns == chunks.columns
    got = out.collect()
    assert {r["name"] for r in got} == {"empty", "short", "long"}
    for name in ("empty", "short"):
        assert [r for r in got if r["name"] == name] == [by_name[name]]
    import hashlib

    parent = by_name["long"]["id"]
    windows = sorted((r for r in got if r["name"] == "long"), key=lambda r: r["window_idx"])
    assert [(r["id"], r["parent_id"], r["window_idx"]) for r in windows] == [
        (f"{parent}:w{i}", parent, i) for i in range(3)
    ]
    assert [r["content"] for r in windows] == [
        " ".join(long_toks[s : s + 16]) for s in (0, 14, 28)
    ]
    for r in windows:
        assert r["content_hash"] == hashlib.sha256(r["content"].encode()).hexdigest()
        assert r["canonical_hash"] == r["content_hash"]  # no comments, single spaces


def test_canonicalization_is_language_aware(spark):
    """'#' strips only in hash-comment langs; markdown headings survive;
    C-family strips '//'; whitespace-only edits never change the hash."""
    rows = [
        # Two markdown sections, identical bodies, different titles:
        # MUST differ (headings are content, not comments).
        ("a.md", "markdown", "# Title One\nsame body"),
        ("b.md", "markdown", "# Title Two\nsame body"),
        # Python: comment-only edit keeps the hash.
        ("c.py", "python", "def f():\n    return 1  # old comment"),
        ("d.py", "python", "def f():\n    return 1  # new comment"),
        # C: '//' comment-only edit keeps the hash; '#include' survives.
        ("e.c", "c", "#include <x.h>\nint f() { return 1; } // old"),
        ("f.c", "c", "#include <x.h>\nint f() { return 1; } // new"),
        # Whitespace-only reformat keeps the hash (any language).
        ("g.c", "c", "int  g()  {\n  return 2;\n}"),
        ("h.c", "c", "int g() { return 2; }"),
    ]
    base = spark.createDataFrame(
        [(o, l, "function", "n", "s", c, None, 1, 2) for o, l, c in rows],
        "origin string, language string, chunk_type string, name string, "
        "signature string, content string, doc string, line_start int, line_end int",
    )
    got = {r["origin"]: r["canonical_hash"] for r in with_identity(base).collect()}
    assert got["a.md"] != got["b.md"], "markdown headings treated as comments"
    assert got["c.py"] == got["d.py"]
    assert got["e.c"] == got["f.c"]
    assert got["g.c"] == got["h.c"]


def test_embed_reuse_cache_skips_hits(spark, chunks):
    sub = chunks.limit(50)
    embedded, cache = embed_with_cache(sub, None)
    assert embedded.count() == 50
    cache = cache.cache()
    n_cache = cache.count()
    assert n_cache >= 1
    # Second run with the warm cache: zero misses reach the embed UDF.
    from cqs_spark.index.reuse import embed_with_cache as run2

    embedded2, new_cache2 = run2(sub, cache)
    assert embedded2.count() == 50
    assert new_cache2.count() == 0
    # Same canonical hash -> same embedding (cache correctness).
    a = {r["canonical_hash"]: tuple(r["embedding"]) for r in embedded.collect()}
    b = {r["canonical_hash"]: tuple(r["embedding"]) for r in embedded2.collect()}
    assert a == b


def test_incremental_reconcile(spark):
    listing = list_files(spark, ROOT)
    reg = registry_of(listing).cache()
    # Unchanged world: everything 'unchanged'.
    statuses = {r["status"] for r in reconcile(reg, reg).collect()}
    assert statuses == {"unchanged"}
    # Mutate one origin's hash + drop one: changed / deleted / new all appear.
    first, second = [r["origin"] for r in reg.select("origin").limit(2).collect()]
    mutated = reg.withColumn(
        "source_content_hash",
        F.when(F.col("origin") == first, F.lit("deadbeef")).otherwise(
            F.col("source_content_hash")
        ),
    ).withColumn(
        "source_mtime",
        F.when(F.col("origin") == first, F.lit(0)).otherwise(F.col("source_mtime")),
    ).filter(F.col("origin") != second)
    rec = {r["origin"]: r["status"] for r in reconcile(mutated, reg).collect()}
    assert rec[first] == "changed"
    assert rec[second] == "deleted"
    assert {o for o, st in rec.items() if st != "unchanged"} == {first, second}


def test_methods_extracted_with_parent_type(spark):
    from cqs_spark.index.chunker import chunk_file

    src = (
        "class Engine:\n"
        "    def index(self, root: str):\n"
        "        '''Build the index.'''\n"
        "        return root\n"
        "\n"
        "    def search(self, q):\n"
        "        return q\n"
        "\n"
        "def main():\n"
        "    pass\n"
    )
    got = {c["name"]: c for c in chunk_file("e.py", src)}
    assert got["Engine"]["chunk_type"] == "class"
    assert got["index"]["chunk_type"] == "method"
    assert got["index"]["parent_type_name"] == "Engine"
    assert got["index"]["doc"] == "Build the index."
    assert got["search"]["parent_type_name"] == "Engine"
    assert got["main"]["chunk_type"] == "function"
    assert got["main"].get("parent_type_name") is None
