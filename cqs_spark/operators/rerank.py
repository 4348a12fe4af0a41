"""Cross-encoder reranking (opt-in).

Reference: src/reranker.rs:1-8 — (query, passage) pairs scored by an
ONNX cross-encoder over the top-k pool.  The reference's own A/B
measured every variant NET-NEGATIVE at R@5 (README.md:454-462), so it
ships opt-in; this port keeps that posture.

The neural model's wheel is absent here, so the default scorer is a
REAL lexical interaction model (BM25-style tf saturation × query
coverage + first-occurrence proximity) rather than a hash fake — it
actually reads both sides of the pair and prefers passages where the
query terms co-occur tightly.  Swap ``score_pairs_fn`` for an ONNX
session call when the wheel exists — the batch shape already matches
the reference's (384/hidden)·(512/len) sizing hook
(src/reranker.rs:36-62).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F, types as T

from cqs_spark.rows import map_rows

_WORD_RE = re.compile(r"[a-z0-9]+")


def lexical_cross_score(query: str, passage: str) -> float:
    """Lexical (query, passage) interaction score.

    BM25-shaped per-term tf saturation (k1=1.2, b=0.75 against an
    avg-length prior) summed over matched query terms, scaled by query
    coverage, plus a proximity bonus (matched terms / span of their
    first occurrences) — the classic pre-neural cross signals.  Pure
    function, deterministic, no state.
    """
    q_terms = set(_WORD_RE.findall(query.lower()))
    p_tokens = _WORD_RE.findall((passage or "").lower())
    if not q_terms or not p_tokens:
        return 0.0
    positions: dict[str, int] = {}
    tfs: dict[str, int] = {}
    for i, t in enumerate(p_tokens):
        if t in q_terms:
            tfs[t] = tfs.get(t, 0) + 1
            positions.setdefault(t, i)
    if not tfs:
        return 0.0
    k1, b, avg_len = 1.2, 0.75, 120.0
    norm = 1 - b + b * len(p_tokens) / avg_len
    sat = sum(tf * (k1 + 1) / (tf + k1 * norm) for tf in tfs.values())
    coverage = len(tfs) / len(q_terms)
    prox = 0.0
    if len(positions) >= 2:
        span = max(positions.values()) - min(positions.values()) + 1
        prox = len(positions) / span
    return sat * coverage + prox


def rerank_pool(
    pool: DataFrame,
    query: str,
    text_col: str = "content",
    id_col: str = "id",
    score_pairs_fn: Callable[[str, str], float] = lexical_cross_score,
) -> DataFrame:
    """Re-score a top-k pool with a (query, passage) cross scorer.

    (id, ce_score) — Arrow-batched; the pool is small by construction
    (upstream top-k), so this is one partition-parallel pass, never a
    corpus scan.
    """
    schema = T.StructType(
        [
            T.StructField(id_col, T.StringType(), False),
            T.StructField("ce_score", T.DoubleType(), False),
        ]
    )

    # A real backend builds its ONNX session once per worker process,
    # on the first call of ``score_pairs_fn``, not once per pair.
    def row(rid, text):
        yield rid, score_pairs_fn(query, text)

    return map_rows(pool, [id_col, text_col], row, schema)


def apply_rerank(
    results: DataFrame,
    chunks: DataFrame,
    query: str,
    blend: float = 0.5,
    id_col: str = "id",
) -> DataFrame:
    """Blend cross-encoder scores into a ranked result set (opt-in).

    final = blend·minmax(ce) + (1−blend)·minmax(retrieval); retrieval
    order breaks ties (the conservative blend the reference's A/B
    suggests if the stage is enabled at all).
    """
    from cqs_spark.operators.scoring import minmax_normalize

    pool = results.join(chunks.select(id_col, "content"), id_col)
    ce = rerank_pool(pool, query, id_col=id_col)
    r = minmax_normalize(results.withColumnRenamed("score", "_r"), "_r", "r01")
    c = minmax_normalize(ce.withColumnRenamed("ce_score", "_c"), "_c", "c01")
    return (
        r.join(c, id_col)
        .withColumn(
            "score", blend * F.coalesce("c01", F.lit(0.0)) + (1 - blend) * F.col("r01")
        )
        .drop("_r", "_c", "r01", "c01")
        .orderBy(F.desc("score"), id_col)
    )
