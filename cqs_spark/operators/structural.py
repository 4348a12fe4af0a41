"""Structural pattern filters + index health aggregates.

Reference:
  Pattern enum + matches   src/structural.rs:44,:95 — post-search regex
                           patterns (builder, error_swallow, async,
                           mutex, unsafe, recursion)
  index stats              src/cli/commands/index (counts by language /
                           chunk_type / origin)
  hotspots                 src/impact/hints.rs:350 — top-N by caller
                           count, log2-scaled threshold
                           (log2(n)*0.7).clamp(5,50) (src/limits.rs:322-335)
  health_check             src/health.rs:48 — composition

All pure predicates / aggregates — rlike pushes into the scan stage,
stats are single hash aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Language-agnostic forms of the reference's six patterns
# (src/structural.rs:44) — all but `recursion`, which needs the
# chunk's own name and so has no static regex.  Keys are the
# reference's pattern names.
PATTERNS = {
    "builder": r"(?s)\breturn\s+self\b",
    "error_swallow": r"(?s)except[^\n]*:\s*\n\s*pass\b",
    "async": r"\basync\s+def\b|\bawait\b",
    "mutex": r"\b(Lock|Mutex|Semaphore|RLock)\b",
    "unsafe": r"\b(unsafe|eval|exec)\s*\(",
}


def tag_patterns(chunks: DataFrame) -> DataFrame:
    """Add one boolean column per static pattern (for faceted stats)."""
    out = chunks
    for name, rx in PATTERNS.items():
        out = out.withColumn(f"is_{name}", F.col("content").rlike(rx))
    return out


def pattern_counts(df: DataFrame, col: str, patterns: dict[str, str]) -> DataFrame:
    """Faceted match counts for a set of named regexes: (pattern, n).

    One scan, all patterns evaluated per row (conditional sums) — not
    one pass per pattern.
    """
    aggs = [
        F.sum(F.when(F.col(col).rlike(rx), 1).otherwise(0)).alias(name)
        for name, rx in sorted(patterns.items())
    ]
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{name}', {name}" for name in sorted(patterns))
    return wide.selectExpr(
        f"stack({len(patterns)}, {stack}) as (pattern, n)"
    ).select("pattern", F.col("n").cast("long").alias("n"))


def index_stats(chunks: DataFrame, approx: bool = False) -> DataFrame:
    """Counts + size by (language, chunk_type) — the `index stats` rollup.

    ``approx=True`` swaps exact distinct-file counts for HLL sketches
    (approx_count_distinct) — the 100 TB variant: one pass, fixed
    memory per group, no distinct shuffle (SURVEY §2.4).
    """
    n_files = (
        F.approx_count_distinct("origin") if approx else F.countDistinct("origin")
    )
    return (
        chunks.groupBy("language", "chunk_type")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            n_files.alias("n_files"),
            F.sum(F.length("content")).alias("content_bytes"),
        )
    )


def hotspot_threshold(n_functions) -> "F.Column":
    """(log2(n)·0.7).clamp(5,50) — corpus-size-adaptive (src/limits.rs:322-335)."""
    return F.greatest(
        F.lit(5.0), F.least(F.lit(50.0), F.log2(n_functions.cast("double")) * 0.7)
    )


def hotspots(edges: DataFrame, top_n: int = 20) -> DataFrame:
    """Top-N nodes by distinct caller count above the adaptive threshold.

    The threshold is a scalar derived from the corpus size — computed
    in-plan via a cross-joined 1-row aggregate (no driver round-trip),
    so the operator stays a single lazy DataFrame.
    """
    counts = edges.groupBy(F.col("dst").alias("node")).agg(
        F.countDistinct("src").alias("n_callers")
    )
    total = counts.agg(F.count(F.lit(1)).alias("n_fn"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n_callers").cast("double") >= hotspot_threshold(F.col("n_fn")))
        .select("node", "n_callers")
        .orderBy(F.desc("n_callers"), "node")
        .limit(top_n)
    )


def health_report(chunks: DataFrame, edges: DataFrame) -> dict:
    """Composed health check (src/health.rs:48): stats + dead + hotspots.

    Returns a dict of small DataFrames — the caller renders/collects.
    """
    from cqs_spark.operators.graph import dead_code

    return {
        "stats": index_stats(chunks),
        "dead_code": dead_code(edges),
        "hotspots": hotspots(edges),
    }


def onboard_frames(chunks: DataFrame, edges: DataFrame, top: int = 10) -> dict:
    """Repo orientation legs (``cqs onboard``, src/onboard.rs:148):
    densest files by chunk count, adaptive-threshold hotspots, and
    module/section docs — small top-N DataFrames the CLI renders.
    Every sort is total (origin/name tie-breaks) so the top-N cut is
    deterministic.  Oracle-gated as q130 via Engine.onboard's seam.
    """
    files = (
        chunks.groupBy("origin")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .orderBy(F.desc("n_chunks"), "origin")
        .limit(top)
    )
    docs = (
        chunks.filter(F.col("chunk_type").isin("module", "section"))
        .filter(F.length(F.coalesce("doc", F.lit(""))) > 0)
        .select("origin", "name", "doc")
        .orderBy("origin", "name")
        .limit(top)
    )
    return {"files": files, "hotspots": hotspots(edges, top), "docs": docs}
