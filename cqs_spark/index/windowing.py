"""Chunk windowing: split over-long chunks into overlapping token windows.

Reference: src/cli/pipeline/windowing.rs — chunks longer than the
model's max sequence length split into windows with ~12.5% overlap,
carrying (parent_id, window_idx) lineage so retrieval can dedup back
to the parent (src/search/query.rs:626-640 parent dedup).

Spark-first: the token slice is a pure array expression — slice over
the split-token array, posexplode for the window index — no Python.
Windowing is ONE projection over its input: every row posexplodes its
window starts (a short chunk explodes a single sentinel start and
passes through unchanged), so whatever computes the input (the parse
``mapInPandas``) runs once per row, not once per filtered branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

OVERLAP_DENOM = 8  # 12.5% overlap (windowing.rs:32)


def window_bounds(n_tokens, max_tokens: int):
    """Sequence of window start offsets with 1/8 overlap stride."""
    stride = max_tokens - max_tokens // OVERLAP_DENOM
    return F.sequence(
        F.lit(0),
        F.greatest(
            ((n_tokens - 1) / stride).cast("int") * stride, F.lit(0)
        ),
        F.lit(stride),
    )


def apply_windowing(chunks: DataFrame, max_tokens: int = 512) -> DataFrame:
    """Split chunks whose whitespace-token count exceeds ``max_tokens``.

    Split rows get: id = {parent}:w{idx}, parent_id = original id,
    window_idx, content = the token window; short chunks pass through
    untouched.  Cost: one map-side projection plus a generate — no
    join, no aggregate, no union — so the input plan is evaluated
    once.  Rows with NULL content (no token count) are dropped, as a
    size filter drops them.
    """
    cols = chunks.columns
    exploded = (
        chunks.withColumn("_n", F.size(F.split(F.col("content"), r"\s+")))
        .filter(F.col("_n").isNotNull())
        .withColumn("_long", F.col("_n") > max_tokens)
        .select(
            *cols,
            "_long",
            F.when(F.col("_long"), F.split(F.col("content"), r"\s+")).alias("_toks"),
            F.posexplode(
                F.when(F.col("_long"), window_bounds(F.col("_n"), max_tokens))
                .otherwise(F.array(F.lit(-1)))  # sentinel: one pass-through row
            ).alias("_widx", "_start"),
        )
    )
    long = F.col("_long")
    window = F.concat_ws(" ", F.slice("_toks", F.col("_start") + 1, max_tokens))
    out = {
        "content": F.when(long, window).otherwise(F.col("content")),
        "id": F.when(
            long, F.concat_ws(":", "id", F.concat(F.lit("w"), "_widx"))
        ).otherwise(F.col("id")),
        "parent_id": F.when(long, F.col("id")).otherwise(F.col("parent_id")),
        "window_idx": F.when(long, F.col("_widx")).otherwise(F.col("window_idx")),
    }
    # Window rows must carry hashes of the WINDOW slice, not the parent:
    # canonical_hash is the embedding-reuse cache key, and parent-inherited
    # hashes would alias every window of a chunk to one cached embedding.
    # The reference recomputes the canonical hash per window
    # (src/cli/pipeline/windowing.rs:67,98).
    if "content_hash" in cols:
        from cqs_spark.index.ingest import _canonical

        lang = F.col("language") if "language" in cols else None
        out["content_hash"] = F.when(long, F.sha2(window, 256)).otherwise(
            F.col("content_hash")
        )
        out["canonical_hash"] = F.when(
            long, F.sha2(_canonical(window, lang), 256)
        ).otherwise(F.col("canonical_hash"))
    return exploded.select(*[out.get(c, F.col(c)).alias(c) for c in cols])
