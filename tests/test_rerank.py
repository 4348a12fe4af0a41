"""Cross-encoder rerank stage (stub-backed, opt-in)."""

from __future__ import annotations

from cqs_spark.operators.rerank import apply_rerank, lexical_cross_score, rerank_pool


def test_lexical_cross_score_properties():
    assert lexical_cross_score("find the lock", "the lock is here") > 0
    assert lexical_cross_score("find the lock", "unrelated words entirely") == 0.0
    assert lexical_cross_score("", "x") == 0.0


def test_rerank_promotes_overlapping_passage(spark):
    results = spark.createDataFrame(
        [("a", 1.0), ("b", 0.9), ("c", 0.8)], "id string, score double"
    )
    chunks = spark.createDataFrame(
        [
            ("a", "nothing relevant at all"),
            ("b", "retry with exponential backoff logic"),
            ("c", "some other text"),
        ],
        "id string, content string",
    )
    out = apply_rerank(results, chunks, "retry exponential backoff", blend=0.8)
    ranked = [r["id"] for r in out.collect()]
    assert ranked[0] == "b"  # cross score outweighs retrieval rank at blend 0.8
    pool_scores = {r["id"]: r["ce_score"] for r in
                   rerank_pool(results.join(chunks, "id"), "retry exponential backoff").collect()}
    assert pool_scores["b"] > pool_scores["a"] == pool_scores["c"] == 0.0


def test_lexical_cross_score_is_an_interaction_model():
    """Signals a hash stub cannot produce: tight co-occurrence beats
    the same terms scattered; full coverage beats partial."""
    q = "exponential backoff retry"
    tight = "the client does retry exponential backoff on failure"
    scattered = (
        "retry once here " + "filler word " * 40
        + "exponential growth " + "filler again " * 40 + "backoff later"
    )
    partial = "retry logic with jitter and a timeout"
    assert lexical_cross_score(q, tight) > lexical_cross_score(q, scattered)
    assert lexical_cross_score(q, scattered) > lexical_cross_score(q, partial)
    assert lexical_cross_score(q, "nothing relevant at all") == 0.0
