"""Telemetry aggregation: the usage-dashboard rollups, Spark-first.

Reference: src/cli/telemetry.rs (JSONL event log, redacted queries) and
src/cli/commands/infra/telemetry_cmd.rs (the dashboard aggregator —
event counts, per-command / per-category counts, top queries, gap-based
session counting).  There the log is a single local file folded in one
pass; here each rollup is a hash aggregate and sessionization is a lag
window — the same outputs at any scale, partitioned by the session key.

  read_telemetry     JSONL log → DataFrame
  redact_query       8-hex digest column (telemetry.rs:49 shape)
  command_counts     (command, n)        telemetry_cmd.rs cmd_counts
  category_counts    (category, n)      telemetry_cmd.rs category_for
  top_queries        (query, n) top-N   telemetry_cmd.rs query_counts
  session_counts     (key, n_sessions)  telemetry_cmd.rs count_sessions,
                     gap > 4 h opens a new session — lag window per key
  telemetry_report   dict of the above + totals
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# Command → dashboard category (telemetry_cmd.rs:76 category_for), keyed
# by this CLI's verb names: the reference's `where`, `similar` and `dead`
# are `where-to-add`, `neighbors` and `dead-code` here.
CATEGORY_FOR: dict[str, str] = {
    **{c: "Search" for c in
       ("search", "gather", "scout", "onboard", "where-to-add", "related",
        "neighbors")},
    **{c: "Structural" for c in
       ("callers", "callees", "impact", "impact-diff", "test-map", "deps",
        "trace", "explain", "context", "dead-code")},
    **{c: "Orchestrator" for c in ("task", "review", "plan", "ci")},
    **{c: "Read/Write" for c in
       ("read", "notes", "blame", "diff", "drift", "stale", "suggest",
        "reconstruct")},
}
DEFAULT_CATEGORY = "Infra"
SESSION_GAP_SECS = 4 * 3600  # telemetry_cmd.rs:202 GAP_SECS


def read_telemetry(spark, path: str) -> DataFrame:
    """Read a telemetry JSONL log (ts, command, query, result_count,
    duration_ms)."""
    return spark.read.json(path)


def redact_query(col: Column | str) -> Column:
    """8-hex-char digest of the query — bucket key, not reversible
    (telemetry.rs:49 redact_query_digest; md5 here for engine
    portability, the property is a stable prefix digest)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c), 1, 8)


def category_expr(cmd_col: Column | str, mapping: dict[str, str] | None = None) -> Column:
    """Command → category as a when-chain (broadcastable-free: the map
    is a literal expression, no join)."""
    m = CATEGORY_FOR if mapping is None else mapping
    c = F.col(cmd_col) if isinstance(cmd_col, str) else cmd_col
    out = F.lit(DEFAULT_CATEGORY)
    for cmd, cat in sorted(m.items(), reverse=True):
        out = F.when(c == cmd, cat).otherwise(out)
    return out


def command_counts(df: DataFrame, cmd_col: str = "command") -> DataFrame:
    return df.groupBy(F.col(cmd_col).alias("command")).agg(
        F.count(F.lit(1)).alias("n")
    )


def category_counts(
    df: DataFrame, cmd_col: str = "command", mapping: dict[str, str] | None = None
) -> DataFrame:
    return (
        df.select(category_expr(cmd_col, mapping).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def top_queries(
    df: DataFrame, query_col: str = "query", n: int = 10
) -> DataFrame:
    """Most frequent queries, deterministic (n desc, query) order."""
    return (
        df.filter(F.col(query_col).isNotNull())
        .groupBy(F.col(query_col).alias("query"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "query")
        .limit(n)
    )


def session_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    gap_secs: int = SESSION_GAP_SECS,
) -> DataFrame:
    """(key, n_sessions, n_events): a gap > ``gap_secs`` between
    consecutive events of one key opens a new session.

    One lag window per key partition — the distributed form of the
    reference's single-pass fold (telemetry_cmd.rs:201 count_sessions).
    ``ts_col`` must be numeric seconds (cast timestamps first).
    """
    w = Window.partitionBy("key").orderBy(ts_col)
    gap = F.col(ts_col) - F.lag(ts_col).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_secs), 1
    ).otherwise(0)
    return (
        df.select(F.col(key_col).alias("key"), F.col(ts_col))
        .withColumn("_s", new_session)
        .groupBy("key")
        .agg(
            F.sum("_s").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def telemetry_report(
    df: DataFrame,
    cmd_col: str = "command",
    query_col: str = "query",
    ts_col: str = "ts",
    key_col: str | None = None,
    mapping: dict[str, str] | None = None,
) -> dict:
    """The dashboard bundle (TelemetryOutput shape, telemetry_cmd.rs:31).

    Single action for the scalars (events + date range in one agg);
    the per-bucket rollups stay lazy DataFrames.
    """
    scalars = df.agg(
        F.count(F.lit(1)).alias("events"),
        F.min(ts_col).alias("from_ts"),
        F.max(ts_col).alias("to_ts"),
    ).collect()[0]
    out = {
        "events": scalars["events"],
        "date_range": (scalars["from_ts"], scalars["to_ts"]),
        "commands": command_counts(df, cmd_col),
        "categories": category_counts(df, cmd_col, mapping),
        "top_queries": top_queries(df, query_col),
    }
    if key_col is not None:
        out["sessions"] = session_counts(df, key_col, ts_col)
    return out
