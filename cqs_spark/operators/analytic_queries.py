"""Declared queries q56–q57: analytic windows + weighted multi-index union.

q56 covers the window-frame surface SURVEY §2.5 declares beyond the
reference (ntile, percent_rank, moving average over a bounded frame).
q57 is the multi-index weighted-union rescore (src/reference.rs:299
search_reference: project results ∪ reference results × 0.8) in
oracle-checkable form over two document "indexes".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cqs_spark.catalog import load_table
from cqs_spark.staging import stage


def _r4(c):
    return F.round(c.cast("double").cast("decimal(30,10)"), 4).cast("double")


def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event analytics: ntile(4), percent_rank, 3-row moving avg."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    mov = w.rowsBetween(-2, 0)
    return (
        events.select(
            "event_id",
            "user_id",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            _r4(F.percent_rank().over(w)).alias("pr"),
            _r4(F.avg("value").over(mov)).alias("mov_avg"),
        )
        .orderBy("event_id")
    )


def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted union of two ranked document lists (0.8 reference weight).

    Index A = docs with source < 'src5' scored by n_chars; index B =
    en docs scored by doc_id descending (both deterministic rankings);
    B's min-maxed score scales by 0.8; collisions keep max.
    """
    docs = load_table(spark, sf_dir, "documents")
    w_all = Window.partitionBy()

    def minmax(df):
        mn, mx = F.min("s").over(w_all), F.max("s").over(w_all)
        return df.withColumn(
            "s01", (F.col("s") - mn) / F.nullif(mx - mn, F.lit(0.0))
        )

    a = minmax(
        docs.filter(F.col("source") < "src5")
        .select(F.col("doc_id").alias("id"), F.col("n_chars").cast("double").alias("s"))
        .orderBy(F.desc("s"), "id")
        .limit(100)
    ).select("id", F.col("s01").alias("score"))
    b = minmax(
        docs.filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("id"), F.col("doc_id").cast("double").alias("s"))
        .orderBy(F.desc("s"), "id")
        .limit(100)
    ).select("id", (F.col("s01") * 0.8).alias("score"))
    return (
        a.unionByName(b)
        .groupBy("id")
        .agg(_r4(F.max("score")).alias("score"))
        .orderBy(F.desc("score"), "id")
        .limit(100)
    )


ANALYTIC_QUERIES = {"q56": q56, "q57": q57}

_Q56 = """
WITH e AS (SELECT * FROM events WHERE user_id < 50)
SELECT event_id, user_id,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       CAST(ROUND(CAST(percent_rank() OVER w AS DECIMAL(30,10)), 4) AS DOUBLE) AS pr,
       CAST(ROUND(CAST(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(30,10)), 4) AS DOUBLE) AS mov_avg
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""

_Q57 = """
WITH a0 AS (
  SELECT doc_id AS id, n_chars::DOUBLE AS s FROM documents WHERE source < 'src5'
  ORDER BY s DESC, id LIMIT 100),
a AS (SELECT id, (s - MIN(s) OVER ()) / NULLIF(MAX(s) OVER () - MIN(s) OVER (), 0) AS score FROM a0),
b0 AS (
  SELECT doc_id AS id, doc_id::DOUBLE AS s FROM documents WHERE lang = 'en'
  ORDER BY s DESC, id LIMIT 100),
b AS (SELECT id, 0.8 * (s - MIN(s) OVER ()) / NULLIF(MAX(s) OVER () - MIN(s) OVER (), 0) AS score FROM b0),
u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
SELECT id, CAST(ROUND(CAST(MAX(score) AS DECIMAL(30,10)), 4) AS DOUBLE) AS score
FROM u GROUP BY id ORDER BY MAX(score) DESC, id LIMIT 100
"""

ANALYTIC_ORACLES: dict[str, str] = {"q56": _Q56, "q57": _Q57}


def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence-ordered funnel: signup → view → purchase."""
    from cqs_spark.operators.eventops import funnel

    events = load_table(spark, sf_dir, "events")
    return funnel(events, ["signup", "view", "purchase"]).orderBy("step_idx")


ANALYTIC_QUERIES["q58"] = q58

_Q58 = """
WITH f AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t2
  FROM events WHERE event_type IN ('signup', 'view', 'purchase')
  GROUP BY user_id),
r AS (
  SELECT (t0 IS NOT NULL) AS r0,
         (t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0) AS r1,
         (t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
          AND t2 IS NOT NULL AND t2 > t1) AS r2
  FROM f)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS step_idx, 'signup' AS step,
         CAST(SUM(CASE WHEN r0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users FROM r
  UNION ALL
  SELECT 1, 'view', CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) FROM r
  UNION ALL
  SELECT 2, 'purchase', CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) FROM r
) ORDER BY step_idx
"""

ANALYTIC_ORACLES["q58"] = _Q58


def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry dashboard rollup (telemetry_cmd.rs:31 TelemetryOutput
    shape): per-command counts + category mapping over the events log,
    event_type standing in for the command column."""
    from cqs_spark.operators.telemetry import category_expr

    mapping = {
        "click": "Search",
        "view": "Search",
        "purchase": "Orchestrator",
        "signup": "Infra",
        "error": "Structural",
    }
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.col("event_type").alias("command"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("category", category_expr("command", mapping))
        .select("command", "category", "n")
        .orderBy("command")
    )


ANALYTIC_QUERIES["q60"] = q60

_Q60 = """
SELECT event_type AS command,
       CASE event_type
         WHEN 'click' THEN 'Search'
         WHEN 'view' THEN 'Search'
         WHEN 'purchase' THEN 'Orchestrator'
         WHEN 'signup' THEN 'Infra'
         WHEN 'error' THEN 'Structural'
         ELSE 'Infra' END AS category,
       COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""

ANALYTIC_ORACLES["q60"] = _Q60


def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (telemetry_cmd.rs:201 count_sessions as
    a lag window): a >4 h silence opens a new session per user."""
    from cqs_spark.operators.telemetry import SESSION_GAP_SECS, session_counts

    # cast(timestamp as long) floors to epoch seconds — matches the
    # oracle's epoch_us // 1e6.
    events = load_table(spark, sf_dir, "events").withColumn(
        "ts_s", F.col("ts").cast("long")
    )
    return (
        session_counts(events, "user_id", "ts_s", gap_secs=SESSION_GAP_SECS)
        .select(F.col("key").alias("user_id"), "n_sessions", "n_events")
        .orderBy("user_id")
    )


ANALYTIC_QUERIES["q61"] = q61

# epoch_us // 1_000_000 matches the Spark side's integer truncation of
# the micros-loaded ts column.
_Q61 = """
WITH t AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS ts_s FROM events),
g AS (
  SELECT user_id, ts_s,
         ts_s - LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS gap
  FROM t)
SELECT user_id,
       CAST(SUM(CASE WHEN gap IS NULL OR gap > 14400 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM g GROUP BY user_id ORDER BY user_id
"""

ANALYTIC_ORACLES["q61"] = _Q61


def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch task-template classification (src/plan.rs:324 classify) of
    each document's first 400 chars: additive keyword scoring into the
    11 templates, argmax with earliest-template tie-break, zero-score
    'Fix a Bug' fallback — the plan verb's classification core as pure
    JVM expressions (no UDF, no shuffle beyond the scan)."""
    from cqs_spark.operators.taskplan import classify_task_column

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        classify_task_column(F.substring("text", 1, 400)).alias("template"),
    ).orderBy("doc_id")


ANALYTIC_QUERIES["q107"] = q107


def _q107_oracle() -> str:
    from cqs_spark.operators.taskplan import classification_oracle_sql

    return classification_oracle_sql(
        "doc_id", "lower(substr(text, 1, 400))", "documents"
    )


ANALYTIC_ORACLES["q107"] = _q107_oracle()


def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed health report (src/health.rs:48) flattened to one
    (section, key, n) frame: index stats (all three metrics), tiered
    dead-code counts by confidence, adaptive-threshold hotspots —
    exercising health_report itself, not re-derived pieces."""
    from cqs_spark.operators.graph_queries import call_edges
    from cqs_spark.operators.structural import health_report

    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        F.col("lang").alias("language"),
        F.when(F.col("n_chars") > 800, "function")
        .otherwise("section")
        .alias("chunk_type"),
        F.col("source").alias("origin"),
        F.col("text").alias("content"),
    )
    rep = health_report(chunks, call_edges(spark, sf_dir))
    stats = (
        rep["stats"]
        .select(
            F.concat_ws("/", "language", "chunk_type").alias("grp"),
            "n_chunks",
            "n_files",
            "content_bytes",
        )
        .selectExpr(
            "grp",
            "stack(3, 'n_chunks', n_chunks, 'n_files', n_files,"
            " 'content_bytes', content_bytes) AS (metric, v)",
        )
        .select(
            F.lit("stats").alias("section"),
            F.concat_ws("/", "grp", "metric").alias("key"),
            F.col("v").cast("long").alias("n"),
        )
    )
    dead = (
        rep["dead_code"]
        .groupBy("confidence")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("dead").alias("section"),
            F.col("confidence").alias("key"),
            F.col("n").cast("long").alias("n"),
        )
    )
    hot = rep["hotspots"].select(
        F.lit("hotspot").alias("section"),
        F.col("node").cast("string").alias("key"),
        F.col("n_callers").cast("long").alias("n"),
    )
    return stats.unionByName(dead).unionByName(hot).orderBy("section", "key")


ANALYTIC_QUERIES["q110"] = q110

_Q110 = """
WITH edges AS (
  SELECT DISTINCT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst,
         CASE WHEN l_returnflag = 'R' THEN 'doc_reference' ELSE 'call' END AS edge_kind
  FROM lineitem WHERE l_quantity <= 3),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
chunks AS (
  SELECT lang AS language,
         CASE WHEN n_chars > 800 THEN 'function' ELSE 'section' END AS chunk_type,
         source AS origin, text AS content
  FROM documents),
stats AS (
  SELECT language, chunk_type, COUNT(*) AS n_chunks,
         COUNT(DISTINCT origin) AS n_files,
         SUM(length(content)) AS content_bytes
  FROM chunks GROUP BY language, chunk_type),
stats_rows AS (
  SELECT 'stats' AS section, language || '/' || chunk_type || '/n_chunks' AS key,
         CAST(n_chunks AS BIGINT) AS n FROM stats
  UNION ALL
  SELECT 'stats', language || '/' || chunk_type || '/n_files',
         CAST(n_files AS BIGINT) FROM stats
  UNION ALL
  SELECT 'stats', language || '/' || chunk_type || '/content_bytes',
         CAST(content_bytes AS BIGINT) FROM stats),
indeg AS (
  SELECT dst AS node, COUNT(*) AS n_in,
         SUM(CASE WHEN edge_kind = 'call' THEN 1 ELSE 0 END) AS n_trusted
  FROM edges GROUP BY dst),
dead_rows AS (
  SELECT 'dead' AS section,
         CASE WHEN COALESCE(i.n_in, 0) = 0 THEN 'high' ELSE 'medium' END AS key,
         COUNT(*) AS n
  FROM nodes n LEFT JOIN indeg i USING (node)
  WHERE COALESCE(i.n_trusted, 0) = 0
  GROUP BY 2),
counts AS (SELECT dst AS node, COUNT(DISTINCT src) AS n_callers FROM edges GROUP BY dst),
total AS (SELECT COUNT(*) AS n_fn FROM counts),
hot_rows AS (
  SELECT 'hotspot' AS section, CAST(node AS VARCHAR) AS key,
         CAST(n_callers AS BIGINT) AS n
  FROM counts, total
  WHERE n_callers >= GREATEST(5.0, LEAST(50.0, log2(n_fn::DOUBLE) * 0.7))
  ORDER BY n_callers DESC, node LIMIT 20)
SELECT * FROM (
  SELECT * FROM stats_rows
  UNION ALL SELECT * FROM dead_rows
  UNION ALL SELECT * FROM hot_rows
) ORDER BY section, key
"""

ANALYTIC_ORACLES["q110"] = _Q110


# Planted per-row suffixes so the type-hint surface is non-vacuous on
# this corpus (the synthetic text has no type words): doc_id % 6 picks
# one, covering each hint, a multi-hint case, the '_'-boundary case
# ('my_module' — the [^a-z0-9] splitter sees 'module'; \b would not),
# and the no-hint case.
_Q111_SUFFIXES = [
    "list all classes",
    "where is the def of this method",
    "which files and modules",
    "readme section docs",
    "struct types in my_module",
    "",
]


def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch query routing (src/search/router.rs:838,:1291): rule
    classification, per-category α, and type-hint extraction over each
    document's first 100 chars + a planted hint suffix — pure
    when-chains, no UDF, no shuffle beyond the scan."""
    from cqs_spark.operators.router import (
        alpha_column,
        classify_column,
        type_hints_column,
    )

    docs = load_table(spark, sf_dir, "documents")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _Q111_SUFFIXES]),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    q = F.concat(F.substring("text", 1, 100), F.lit(" "), suffix)
    return docs.select(
        "doc_id",
        classify_column(q).alias("category"),
        alpha_column(q).alias("alpha"),
        type_hints_column(q).alias("hints"),
    ).orderBy("doc_id")


ANALYTIC_QUERIES["q111"] = q111


def _q111_oracle() -> str:
    from cqs_spark.operators.router import router_oracle_sql

    whens = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_Q111_SUFFIXES)
    )
    text_expr = f"substr(text, 1, 100) || ' ' || CASE doc_id % 6 {whens} END"
    return router_oracle_sql("doc_id", text_expr, "documents")


ANALYTIC_ORACLES["q111"] = _q111_oracle()


def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data extraction (src/train_data/): documented chunks →
    (query, positive) pairs, then contrastive triples with the
    deterministic md5-bucket negative — the JSONL-export shapes."""
    from cqs_spark.operators.nlgen import contrastive_triples, training_pairs

    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.substring("text", 1, 120).alias("doc"),
        F.col("text").alias("content"),
    )
    pairs = training_pairs(chunks, min_doc_len=10)
    return contrastive_triples(pairs, chunks).orderBy("pair_id")


ANALYTIC_QUERIES["q112"] = q112


def _q112_oracle() -> str:
    from cqs_spark.operators.dedup import _HEX11

    h_id = _HEX11.format(h="md5(COALESCE(CAST(id AS VARCHAR), ''))")
    h_seed = _HEX11.format(h="md5(COALESCE(CAST(pair_id AS VARCHAR), ''))")
    return f"""
WITH chunks AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, substr(text, 1, 120) AS doc,
         text AS content
  FROM documents),
pairs AS (
  SELECT id AS pair_id, doc AS query, content AS positive
  FROM chunks WHERE length(COALESCE(doc, '')) >= 10),
n AS (SELECT COUNT(*) AS n FROM chunks),
ranked AS (
  SELECT content AS negative, {h_id} % n.n AS _bucket
  FROM chunks, n
  QUALIFY ROW_NUMBER() OVER (PARTITION BY _bucket ORDER BY content) = 1),
keyed AS (
  SELECT pair_id, query, positive, ({h_seed} + 1) % n.n AS _bucket
  FROM pairs, n)
SELECT pair_id, query, positive, negative
FROM keyed LEFT JOIN ranked USING (_bucket)
WHERE negative IS NOT NULL AND negative <> positive
ORDER BY pair_id
"""


ANALYTIC_ORACLES["q112"] = _q112_oracle()


# Planted suffixes (doc_id % 4) exercise metachar stripping and builtin
# abbreviation expansion; the prefix (doc_id % 2) alternates a synonym-
# bearing token with a plain one so both join branches (' AND ' vs ' ')
# appear.
_Q114_SUFFIXES = [' "auth"; DROP--', " err! & cfg", " (db OR str)", ""]


def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FTS sanitize + synonym expansion (src/store/mod.rs:222,
    src/search/synonyms.rs:221) as a distributed batch op over a
    derived query log: metachars stripped, builtin abbreviations
    expanded to '(tok OR syn ...)' groups, AND-joined when any group
    is present."""
    from cqs_spark.functions.text import sanitize_fts_column
    from cqs_spark.index.synonyms import _BUILTIN, expand_queries_df

    docs = load_table(spark, sf_dir, "documents")
    prefix = F.when(F.col("doc_id") % 2 == 0, "fn ").otherwise("find ")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _Q114_SUFFIXES]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    raw = F.concat(prefix, F.substring("text", 1, 60), suffix)
    qlog = docs.select(
        F.col("doc_id").alias("qid"), sanitize_fts_column(raw).alias("q")
    )
    # Pinned to the builtin table (as is the oracle, which is rendered
    # to SQL at import time) so an installed overlay can't desync the
    # two sides of the gate.
    return expand_queries_df(qlog, "qid", "q", table=_BUILTIN).orderBy("qid")


ANALYTIC_QUERIES["q114"] = q114


def _q114_oracle() -> str:
    from cqs_spark.index.synonyms import _BUILTIN

    vals = ", ".join(
        f"('{k}', '{' OR '.join(v)}')" for k, v in sorted(_BUILTIN.items()) if v
    )
    suffix_whens = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_Q114_SUFFIXES)
    )
    raw = (
        "CASE doc_id % 2 WHEN 0 THEN 'fn ' ELSE 'find ' END"
        " || substr(text, 1, 60)"
        f" || CASE doc_id % 4 {suffix_whens} END"
    )
    return f"""
WITH syn(term, tail) AS (VALUES {vals}),
qlog AS (
  SELECT doc_id AS qid,
         trim(regexp_replace(regexp_replace({raw}, '[^\\w\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS q
  FROM documents),
sp AS (SELECT qid, string_split(q, ' ') AS l FROM qlog),
toks AS (
  SELECT qid, generate_subscripts(l, 1) AS pos, unnest(l) AS tok FROM sp),
parts AS (
  SELECT t.qid, t.pos,
         CASE WHEN s.tail IS NOT NULL
              THEN '(' || t.tok || ' OR ' || s.tail || ')'
              ELSE t.tok END AS part,
         (s.tail IS NOT NULL) AS grp
  FROM (SELECT * FROM toks WHERE tok <> '') t
  LEFT JOIN syn s ON lower(t.tok) = s.term),
agg AS (
  SELECT qid,
         array_to_string(list(part ORDER BY pos), ' AND ') AS j_and,
         array_to_string(list(part ORDER BY pos), ' ') AS j_sp,
         MAX(grp) AS hg
  FROM parts GROUP BY qid)
SELECT q.qid, COALESCE(CASE WHEN a.hg THEN a.j_and ELSE a.j_sp END, '') AS fts
FROM qlog q LEFT JOIN agg a USING (qid) ORDER BY qid
"""


ANALYTIC_ORACLES["q114"] = _q114_oracle()


def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown parser through the real ingestion seam (parse_files'
    Arrow-batched mapInPandas → chunk_markdown, src/parser/chunk.rs
    markdown shape): constructed two-heading docs come back as
    heading-delimited section chunks with names, signatures, rstripped
    bodies, and 1-based line spans."""
    from cqs_spark.index.chunker import parse_files

    docs = load_table(spark, sf_dir, "documents")
    md = F.concat_ws(
        "\n",
        F.concat(F.lit("# Overview "), F.col("doc_id")),
        F.substring("text", 1, 80),
        F.concat(F.lit("## Details "), F.col("lang")),
        F.substring("text", 81, 80),
    )
    files = docs.select(
        F.concat(
            F.lit("docs/"), "source", F.lit("/"), F.col("doc_id"), F.lit(".md")
        ).alias("path"),
        F.encode(md, "utf-8").alias("content"),
    )
    chunks = parse_files(files).select(
        "origin",
        "name",
        "signature",
        "content",
        F.col("line_start").cast("long").alias("line_start"),
        F.col("line_end").cast("long").alias("line_end"),
    )
    return stage(chunks).orderBy("origin", "line_start")


ANALYTIC_QUERIES["q115"] = q115

# The twin reconstructs what chunk_markdown must emit for the known
# two-heading layout; rtrim(' '+\n) mirrors Python rstrip() on this
# space/newline-only alphabet.
_Q115 = """
WITH md AS (
  SELECT 'docs/' || source || '/' || doc_id || '.md' AS origin,
         '# Overview ' || doc_id AS sig1, 'Overview ' || doc_id AS name1,
         substr(text, 1, 80) AS l1,
         '## Details ' || lang AS sig2, 'Details ' || lang AS name2,
         substr(text, 81, 80) AS l2
  FROM documents)
SELECT * FROM (
  SELECT origin, name1 AS name, sig1 AS signature,
         rtrim(sig1 || chr(10) || l1, ' ' || chr(10)) AS content,
         CAST(1 AS BIGINT) AS line_start, CAST(2 AS BIGINT) AS line_end
  FROM md
  UNION ALL
  SELECT origin, name2, sig2,
         rtrim(sig2 || chr(10) || l2, ' ' || chr(10)),
         CAST(3 AS BIGINT), CAST(4 AS BIGINT)
  FROM md)
ORDER BY origin, line_start
"""

ANALYTIC_ORACLES["q115"] = _Q115


def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→Markdown conversion through the real convert seam
    (convert_files' mapInPandas → html_to_markdown fallback,
    src/convert/mod.rs:1-12): constructed pages with script/style
    noise, two heading levels, and block tags come back as stripped
    markdown with the .html→.md path rewrite."""
    from cqs_spark.index.convert import convert_files

    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><style>body p</style><h1>Title "),
        F.col("doc_id"),
        F.lit("</h1><p>"),
        F.substring("text", 1, 60),
        F.lit("</p><script>var a=1;</script><h2>Sub "),
        F.col("lang"),
        F.lit("</h2><div>"),
        F.substring("text", 61, 60),
        F.lit("</div></body></html>"),
    )
    files = docs.select(
        F.concat(F.lit("web/"), F.col("doc_id"), F.lit(".html")).alias("path"),
        F.encode(html, "utf-8").alias("content"),
    )
    out = convert_files(files)
    return stage(
        out.select("path", F.decode("content", "utf-8").alias("md"))
    ).orderBy("path")


ANALYTIC_QUERIES["q116"] = q116

# The twin applies html_to_markdown's regex pipeline step-by-step in
# RE2 (backref-free script/style alternation; per-level heading
# passes; trim over the space/newline alphabet mirrors str.strip on
# this input) — verified equal to the Python converter on all rows.
_Q116_HTML = (
    "'<html><body><style>body p</style><h1>Title ' || doc_id || '</h1><p>'"
    " || substr(text, 1, 60) || '</p><script>var a=1;</script><h2>Sub '"
    " || lang || '</h2><div>' || substr(text, 61, 60) || '</div></body></html>'"
)

_Q116 = f"""
WITH h AS (SELECT doc_id, {_Q116_HTML} AS html FROM documents),
s1 AS (SELECT doc_id, regexp_replace(html,
         '<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'g') AS s FROM h),
s2 AS (SELECT doc_id,
         regexp_replace(
           regexp_replace(s, '<h1[^>]*>(.*?)</h1>', chr(10) || '# \\1' || chr(10), 'g'),
           '<h2[^>]*>(.*?)</h2>', chr(10) || '## \\1' || chr(10), 'g') AS s FROM s1),
s3 AS (SELECT doc_id, regexp_replace(s, '<(p|br|div|li|tr)[^>]*>', chr(10), 'g') AS s FROM s2),
s4 AS (SELECT doc_id, regexp_replace(s, '<[^>]+>', ' ', 'g') AS s FROM s3),
s5 AS (SELECT doc_id,
         regexp_replace(regexp_replace(s, '\\n{{3,}}', chr(10) || chr(10), 'g'),
                        '[ \\t]+', ' ', 'g') AS s FROM s4)
SELECT 'web/' || doc_id || '.md' AS path, trim(s, ' ' || chr(10) || chr(9)) AS md
FROM s5 ORDER BY path
"""

ANALYTIC_ORACLES["q116"] = _Q116


def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python AST chunker through the ingestion seam (parse_files →
    chunk_python, src/parser/mod.rs:277,:492 parity surface):
    constructed modules with a docstringed function, class, and method
    come back as module/function/class/method chunks with exact
    signatures, cleandoc'd docstrings, parent_type_name lineage, and
    1-based line spans."""
    from cqs_spark.index.chunker import parse_files

    docs = load_table(spark, sf_dir, "documents")
    src = F.concat_ws(
        "\n",
        F.concat(F.lit('"""M '), F.substring("text", 1, 30), F.lit(' E."""')),
        F.lit(""),
        F.lit("import os"),
        F.lit(""),
        F.concat(F.lit("def fn_"), F.col("doc_id"), F.lit("(a, b):")),
        F.concat(F.lit('    """D '), F.substring("text", 31, 30), F.lit(' E."""')),
        F.lit("    return a"),
        F.lit(""),
        F.concat(F.lit("class C"), F.col("doc_id"), F.lit(":")),
        F.concat(F.lit('    """K '), F.substring("text", 61, 30), F.lit(' E."""')),
        F.lit(""),
        F.lit("    def m(self):"),
        F.concat(F.lit("        return "), F.col("doc_id")),
    )
    files = docs.select(
        F.concat(F.lit("py/"), F.col("doc_id"), F.lit(".py")).alias("path"),
        F.encode(src, "utf-8").alias("content"),
    )
    chunks = parse_files(files).select(
        "origin",
        "chunk_type",
        "name",
        "signature",
        "content",
        "doc",
        "parent_type_name",
        F.col("line_start").cast("long").alias("line_start"),
        F.col("line_end").cast("long").alias("line_end"),
    )
    return stage(chunks).orderBy("origin", "line_start")


ANALYTIC_QUERIES["q119"] = q119

# The twin reconstructs the four expected chunks per module.  The
# docstring sentinels ('M ', 'D ', 'K ', ' E.') pin cleandoc to the
# identity on this single-line, space/alnum alphabet.
_Q119 = """
WITH src AS (
  SELECT 'py/' || doc_id || '.py' AS origin,
         doc_id || '.py' AS fname,
         CAST(doc_id AS VARCHAR) AS did,
         substr(text, 1, 30) AS w0,
         substr(text, 31, 30) AS w1,
         substr(text, 61, 30) AS w2
  FROM documents)
SELECT * FROM (
  SELECT origin, 'module' AS chunk_type, fname AS name,
         CAST(NULL AS VARCHAR) AS signature,
         '\"\"\"M ' || w0 || ' E.\"\"\"' || chr(10) || chr(10) || 'import os' AS content,
         'M ' || w0 || ' E.' AS doc,
         CAST(NULL AS VARCHAR) AS parent_type_name,
         CAST(1 AS BIGINT) AS line_start, CAST(4 AS BIGINT) AS line_end
  FROM src
  UNION ALL
  SELECT origin, 'function', 'fn_' || did,
         'def fn_' || did || '(a, b):',
         'def fn_' || did || '(a, b):' || chr(10) ||
         '    \"\"\"D ' || w1 || ' E.\"\"\"' || chr(10) || '    return a',
         'D ' || w1 || ' E.',
         NULL, CAST(5 AS BIGINT), CAST(7 AS BIGINT)
  FROM src
  UNION ALL
  SELECT origin, 'class', 'C' || did,
         'class C' || did || ':',
         'class C' || did || ':' || chr(10) ||
         '    \"\"\"K ' || w2 || ' E.\"\"\"' || chr(10) || chr(10) ||
         '    def m(self):' || chr(10) || '        return ' || did,
         'K ' || w2 || ' E.',
         NULL, CAST(9 AS BIGINT), CAST(13 AS BIGINT)
  FROM src
  UNION ALL
  SELECT origin, 'method', 'm',
         'def m(self):',
         '    def m(self):' || chr(10) || '        return ' || did,
         NULL,
         'C' || did, CAST(12 AS BIGINT), CAST(13 AS BIGINT)
  FROM src)
ORDER BY origin, line_start
"""

ANALYTIC_ORACLES["q119"] = _Q119


def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5X PLC parser through the ingestion seam (parse_files →
    chunk_l5x, src/parser/l5x.rs:143,:339): constructed projects with
    one ST routine and one Add-On Instruction come back as a
    program-scoped function chunk plus a class-level AOI chunk, with
    find-anchored line spans."""
    from cqs_spark.index.chunker import parse_files

    docs = load_table(spark, sf_dir, "documents")
    xml = F.concat_ws(
        "\n",
        F.lit("<RSLogix5000>"),
        F.concat(F.lit('<Program Name="P'), F.col("doc_id"), F.lit('">')),
        F.concat(F.lit('<Routine Name="R'), F.col("doc_id"), F.lit('" Type="ST">')),
        F.concat(F.lit("<Line>set "), F.substring("text", 1, 30), F.lit("</Line>")),
        F.concat(F.lit("<Line>out "), F.substring("text", 31, 30), F.lit("</Line>")),
        F.lit("</Routine>"),
        F.lit("</Program>"),
        F.concat(
            F.lit('<AddOnInstructionDefinition Name="A'),
            F.col("doc_id"),
            F.lit('">'),
        ),
        F.lit("<Line>x := 1;</Line>"),
        F.lit("</AddOnInstructionDefinition>"),
        F.lit("</RSLogix5000>"),
    )
    files = docs.select(
        F.concat(F.lit("plc/"), F.col("doc_id"), F.lit(".L5X")).alias("path"),
        F.encode(xml, "utf-8").alias("content"),
    )
    chunks = parse_files(files).select(
        "origin",
        "chunk_type",
        "name",
        "signature",
        "content",
        "parent_type_name",
        F.col("line_start").cast("long").alias("line_start"),
        F.col("line_end").cast("long").alias("line_end"),
    )
    return stage(chunks).orderBy("origin", "line_start")


ANALYTIC_QUERIES["q120"] = q120

_Q120 = """
WITH src AS (
  SELECT 'plc/' || doc_id || '.L5X' AS origin,
         CAST(doc_id AS VARCHAR) AS did,
         rtrim('set ' || substr(text, 1, 30), ' ') AS l1,
         rtrim('out ' || substr(text, 31, 30), ' ') AS l2
  FROM documents)
SELECT * FROM (
  SELECT origin, 'function' AS chunk_type, 'R' || did AS name,
         'Routine R' || did || ' Type=ST' AS signature,
         l1 || chr(10) || l2 AS content,
         'P' || did AS parent_type_name,
         CAST(3 AS BIGINT) AS line_start, CAST(4 AS BIGINT) AS line_end
  FROM src
  UNION ALL
  SELECT origin, 'class', 'A' || did,
         'AddOnInstruction A' || did,
         'x := 1;',
         NULL, CAST(8 AS BIGINT), CAST(8 AS BIGINT)
  FROM src)
ORDER BY origin, line_start
"""

ANALYTIC_ORACLES["q120"] = _Q120


def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASPX dual-grammar split through the ingestion seam (parse_files
    → chunk_aspx, src/parser/aspx.rs): inline <% %> code collects into
    the __inline_code__ chunk, the page directive becomes the markup
    chunk's signature, and the markup (code regions blanked) is one doc
    chunk.  Script-region C# extraction is covered by the golden
    fixture; this gates the directive/inline/markup split."""
    from cqs_spark.index.chunker import parse_files

    docs = load_table(spark, sf_dir, "documents")
    aspx = F.concat_ws(
        "\n",
        F.lit('<%@ Page Language="C#" %>'),
        F.lit("<html><body>"),
        F.concat(F.lit("<% var x = "), F.col("doc_id"), F.lit("; %>")),
        F.concat(F.lit("<h1>"), F.substring("text", 1, 30), F.lit("</h1>")),
        F.lit("</body></html>"),
    )
    files = docs.select(
        F.concat(F.lit("web/"), F.col("doc_id"), F.lit(".aspx")).alias("path"),
        F.encode(aspx, "utf-8").alias("content"),
    )
    chunks = parse_files(files).select(
        "origin",
        "chunk_type",
        "name",
        "signature",
        "content",
        F.col("line_start").cast("long").alias("line_start"),
        F.col("line_end").cast("long").alias("line_end"),
    )
    return stage(chunks).orderBy("origin", "chunk_type")


ANALYTIC_QUERIES["q121"] = q121

_Q121 = """
WITH src AS (
  SELECT 'web/' || doc_id || '.aspx' AS origin,
         doc_id || '.aspx' AS fname,
         CAST(doc_id AS VARCHAR) AS did,
         substr(text, 1, 30) AS w
  FROM documents)
SELECT * FROM (
  SELECT origin, 'doc' AS chunk_type, fname AS name,
         '<%@ Page Language="C#" %>' AS signature,
         '<%@ Page Language="C#" %>' || chr(10) || '<html><body>' || chr(10) ||
         ' ' || chr(10) || '<h1>' || w || '</h1>' || chr(10) || '</body></html>' AS content,
         CAST(1 AS BIGINT) AS line_start, CAST(5 AS BIGINT) AS line_end
  FROM src
  UNION ALL
  SELECT origin, 'function', '__inline_code__',
         CAST(NULL AS VARCHAR),
         '<% var x = ' || did || '; %>',
         CAST(1 AS BIGINT), CAST(5 AS BIGINT)
  FROM src)
ORDER BY origin, chunk_type
"""

ANALYTIC_ORACLES["q121"] = _Q121


def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language parse: ONE parse_files pass dispatching five
    chunker families by extension (C brace-lexer, SQL statement, YAML
    top-key, TOML table, Ruby end-block — src/parser/mod.rs:277's
    registry dispatch), constructed minimal sources per doc.  Gates
    doc-comment attachment, parent lineage (Ruby method), and line
    spans across all five in one seam."""
    from cqs_spark.index.chunker import parse_files

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def mk(ext: str, *lines) -> DataFrame:
        return docs.select(
            F.concat(F.lit("mix/"), did, F.lit(ext)).alias("path"),
            F.encode(F.concat_ws("\n", *lines, F.lit("")), "utf-8").alias(
                "content"
            ),
        )

    c = mk(
        ".c",
        F.lit("/* util */"),
        F.concat(F.lit("int add_"), did, F.lit("(int a, int b) {")),
        F.lit("  return a + b;"),
        F.lit("}"),
        F.lit(""),
        F.concat(F.lit("static int helper_"), did, F.lit("(void) {")),
        F.concat(F.lit("  return "), did, F.lit(";")),
        F.lit("}"),
    )
    sql = mk(
        ".sql",
        F.lit("-- schema"),
        F.concat(F.lit("CREATE TABLE t"), did, F.lit(" (id INT);")),
        F.lit(""),
        F.concat(F.lit("CREATE OR REPLACE VIEW v"), did, F.lit(" AS")),
        F.concat(F.lit("SELECT * FROM t"), did, F.lit(";")),
    )
    yaml = mk(
        ".yaml",
        F.lit("service:"),
        F.concat(F.lit("  name: app"), did),
        F.lit("  port: 80"),
        F.lit("jobs:"),
        F.lit("  - run: build"),
    )
    toml = mk(
        ".toml",
        F.lit('title = "x"'),
        F.lit(""),
        F.lit("[server]"),
        F.concat(F.lit('host = "h'), did, F.lit('"')),
        F.lit(""),
        F.lit("[tool.poetry]"),
        F.concat(F.lit('name = "p'), did, F.lit('"')),
    )
    rb = mk(
        ".rb",
        F.lit("# helper"),
        F.concat(F.lit("class C"), did),
        F.concat(F.lit("  def m"), did, F.lit("(a)")),
        F.lit("    a"),
        F.lit("  end"),
        F.lit("end"),
        F.lit(""),
        F.concat(F.lit("def free"), did),
        F.lit("  1"),
        F.lit("end"),
    )
    files = c.unionByName(sql).unionByName(yaml).unionByName(toml).unionByName(rb)
    chunks = parse_files(files).select(
        "origin",
        "chunk_type",
        "name",
        "signature",
        "content",
        "doc",
        "parent_type_name",
        F.col("line_start").cast("long").alias("line_start"),
        F.col("line_end").cast("long").alias("line_end"),
    )
    return stage(chunks).orderBy("origin", "line_start")


ANALYTIC_QUERIES["q122"] = q122

# Twelve reconstructed rows per doc — two per C/SQL/YAML file, three
# per TOML/Ruby file — with the empirically-pinned line spans.
_Q122 = """
WITH src AS (SELECT CAST(doc_id AS VARCHAR) AS did FROM documents),
rows AS (
  SELECT 'mix/' || did || '.c' AS origin, 'function' AS chunk_type,
         'add_' || did AS name,
         'int add_' || did || '(int a, int b)' AS signature,
         'int add_' || did || '(int a, int b) {' || chr(10) ||
         '  return a + b;' || chr(10) || '}' AS content,
         'util' AS doc, CAST(NULL AS VARCHAR) AS parent_type_name,
         CAST(2 AS BIGINT) AS line_start, CAST(4 AS BIGINT) AS line_end
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.c', 'function', 'helper_' || did,
         'static int helper_' || did || '(void)',
         'static int helper_' || did || '(void) {' || chr(10) ||
         '  return ' || did || ';' || chr(10) || '}',
         NULL, NULL, 6, 8
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.sql', 'config', 't' || did,
         'CREATE TABLE t' || did || ' (id INT);',
         'CREATE TABLE t' || did || ' (id INT);',
         'schema', NULL, 2, 2
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.sql', 'config', 'v' || did,
         'CREATE OR REPLACE VIEW v' || did || ' AS',
         'CREATE OR REPLACE VIEW v' || did || ' AS' || chr(10) ||
         'SELECT * FROM t' || did || ';',
         NULL, NULL, 4, 5
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.yaml', 'config', 'service', 'service:',
         'service:' || chr(10) || '  name: app' || did || chr(10) || '  port: 80',
         NULL, NULL, 1, 3
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.yaml', 'config', 'jobs', 'jobs:',
         'jobs:' || chr(10) || '  - run: build',
         NULL, NULL, 4, 6
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.toml', 'config', did || '.toml',
         CAST(NULL AS VARCHAR), 'title = "x"',
         NULL, NULL, 1, 2
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.toml', 'config', 'server', '[server]',
         '[server]' || chr(10) || 'host = "h' || did || '"',
         NULL, NULL, 3, 5
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.toml', 'config', 'tool.poetry', '[tool.poetry]',
         '[tool.poetry]' || chr(10) || 'name = "p' || did || '"',
         NULL, NULL, 6, 8
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.rb', 'class', 'C' || did, 'class C' || did,
         'class C' || did || chr(10) || '  def m' || did || '(a)' || chr(10) ||
         '    a' || chr(10) || '  end' || chr(10) || 'end',
         'helper', NULL, 2, 6
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.rb', 'method', 'm' || did, 'def m' || did || '(a)',
         '  def m' || did || '(a)' || chr(10) || '    a' || chr(10) || '  end',
         NULL, 'C' || did, 3, 5
  FROM src
  UNION ALL
  SELECT 'mix/' || did || '.rb', 'function', 'free' || did, 'def free' || did,
         'def free' || did || chr(10) || '  1' || chr(10) || 'end',
         NULL, NULL, 8, 10
  FROM src)
SELECT * FROM rows ORDER BY origin, line_start
"""

ANALYTIC_ORACLES["q122"] = _Q122


def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF→text conversion through the convert seam (convert_files →
    the pure-python salvage extractor, src/convert/mod.rs:1-12):
    constructed single-stream PDFs with Tj spans and a TJ kerning
    array come back as line-per-operator text with the .pdf→.md path
    rewrite.  Gates the wheel-less salvage path the container runs."""
    from cqs_spark.index.convert import convert_files

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pdf = F.concat_ws(
        "\n",
        F.lit("%PDF-1.4"),
        F.lit("1 0 obj << /Length 60 >>"),
        F.lit("stream"),
        F.concat(F.lit("BT /F1 12 Tf (Doc "), did, F.lit(" says) Tj (p1 ")),
        F.concat(F.substring("text", 1, 30), F.lit(") Tj ET")),
        F.concat(F.lit("[(tail ) -120 ("), F.substring("text", 31, 30), F.lit(")] TJ")),
        F.lit("endstream"),
        F.lit("endobj"),
        F.lit("%%EOF"),
    )
    files = docs.select(
        F.concat(F.lit("docs/"), did, F.lit(".pdf")).alias("path"),
        F.encode(pdf, "utf-8").alias("content"),
    )
    out = convert_files(files)
    return stage(
        out.select("path", F.decode("content", "utf-8").alias("md"))
    ).orderBy("path")


ANALYTIC_QUERIES["q123"] = q123

# Tj literals emit in scan order, then the TJ array's parts join; the
# final outer strip is an rtrim on this alphabet (the last line may
# inherit trailing spaces from the substring cut).  NOTE the second Tj
# literal spans a constructed newline: '(p1 <w1...>) Tj' opens on the
# BT line and closes on the next — _PDF_TJ_RE's [^()\\\\] class crosses
# newlines, so the captured text contains the chr(10).
_Q123 = """
WITH src AS (
  SELECT 'docs/' || doc_id || '.md' AS path,
         CAST(doc_id AS VARCHAR) AS did,
         substr(text, 1, 30) AS w1,
         substr(text, 31, 30) AS w2
  FROM documents)
SELECT path,
       rtrim('Doc ' || did || ' says' || chr(10) ||
             'p1 ' || chr(10) || w1 || chr(10) ||
             'tail ' || w2, ' ') AS md
FROM src ORDER BY path
"""

ANALYTIC_ORACLES["q123"] = _Q123


def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHM→Markdown through the convert seam (convert_files →
    chm_to_markdown's raw-span salvage, src/convert/mod.rs:1-12):
    blobs carrying two embedded HTML fragments between binary junk
    come back as fragment-headed markdown with the .chm→.md rewrite.
    Gates the 7z-less salvage scan the container runs."""
    from cqs_spark.index.convert import convert_files

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    blob = F.concat(
        F.lit("ITSF junk <html ><body><h1>Topic "),
        did,
        F.lit("</h1><p>"),
        F.substring("text", 1, 30),
        F.lit("</p></body></html> mid <html ><body><h2>Sub "),
        did,
        F.lit("</h2>"),
        F.substring("text", 31, 30),
        F.lit("</body></html> tail"),
    )
    files = docs.select(
        F.concat(F.lit("docs/"), did, F.lit(".chm")).alias("path"),
        F.encode(blob, "utf-8").alias("content"),
    )
    out = convert_files(files)
    return stage(
        out.select("path", F.decode("content", "utf-8").alias("md"))
    ).orderBy("path")


ANALYTIC_QUERIES["q124"] = q124

# Per-fragment '# fragment_N' headers, each body through the HTML
# pipeline; on this alphabet that reduces to rtrim'd substrings (the
# single-space corpus keeps interior spacing intact) — verified equal
# to the Python converter on every sf0.01 row.
_Q124 = """
WITH src AS (
  SELECT 'docs/' || doc_id || '.md' AS path,
         CAST(doc_id AS VARCHAR) AS did,
         rtrim(substr(text, 1, 30), ' ') AS x1,
         rtrim(substr(text, 31, 30), ' ') AS x2
  FROM documents)
SELECT path,
       rtrim('# fragment_0' || chr(10) || chr(10) ||
             '# Topic ' || did || chr(10) || chr(10) || x1 || chr(10) || chr(10) ||
             '# fragment_1' || chr(10) || chr(10) ||
             '## Sub ' || did || chr(10) || x2,
             ' ' || chr(10)) AS md
FROM src ORDER BY path
"""

ANALYTIC_ORACLES["q124"] = _Q124


BPE_MERGES = 8


def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning over the documents corpus
    (Sennrich et al. 2016 — the tokenizer-training pipeline step):
    eight merge rounds, deterministic max-count / lexicographic
    tie-break, corpus touched once."""
    from cqs_spark.operators.textops import learn_bpe

    docs = load_table(spark, sf_dir, "documents")
    return learn_bpe(docs, "text", BPE_MERGES).orderBy("step")


ANALYTIC_QUERIES["q125"] = q125


def _q125_oracle() -> str:
    """Unrolled merge rounds (the _mmr_stages/_trace pattern): each
    stage counts adjacent pairs over the current symbol strings, picks
    the argmax, and folds the merge left-to-right with list_reduce on
    a space-joined accumulator (greedy non-overlapping, like the
    Spark-side array aggregate)."""

    def stage(i: int) -> str:
        return f"""
p{i} AS (
  SELECT t[j] AS a, t[j+1] AS b, SUM(f) AS cnt
  FROM (SELECT string_split(s, ' ') AS t, f FROM s{i}),
       UNNEST(range(1, len(t))) AS r(j)
  GROUP BY 1, 2),
b{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
s{i + 1} AS (
  SELECT w, f,
         list_reduce(string_split(s, ' '),
           (acc, x) -> CASE WHEN regexp_extract(acc, '([^ ]+)$', 1) = b{i}.a
                                 AND x = b{i}.b
                       THEN regexp_replace(acc, '([^ ]+)$', b{i}.a || b{i}.b)
                       ELSE acc || ' ' || x END) AS s
  FROM s{i}, b{i})"""

    stages = ",".join(stage(i) for i in range(BPE_MERGES))
    rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, a AS left_sym, b AS right_sym,"
        f" CAST(cnt AS BIGINT) AS weight FROM b{i}"
        for i in range(BPE_MERGES)
    )
    return f"""
WITH wf AS (
  SELECT w, COUNT(*) AS f FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''
  GROUP BY w),
s0 AS (SELECT w, f, array_to_string(regexp_extract_all(w, '.'), ' ') AS s FROM wf),{stages}
SELECT * FROM ({rows}) ORDER BY step
"""


ANALYTIC_ORACLES["q125"] = _q125_oracle()


def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply: segment the corpus vocabulary with the merges q125
    learns — apply(learn(corpus)) must reproduce the trainer's final
    symbol table, so the oracle is just the training unroll's last
    stage.  (word, freq, tokens) per vocab entry."""
    from cqs_spark.operators.textops import apply_bpe, learn_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in learn_bpe(docs, "text", BPE_MERGES).orderBy("step").collect()
    ]
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return (
        apply_bpe(words, "w", merges)
        .select("w", "f", "tokens")
        .orderBy("w")
    )


ANALYTIC_QUERIES["q126"] = q126


def _q126_oracle() -> str:
    base = _q125_oracle()
    head, _, _ = base.rpartition("SELECT * FROM")
    return head + f"SELECT w, f, s AS tokens FROM s{BPE_MERGES} ORDER BY w\n"


ANALYTIC_ORACLES["q126"] = _q126_oracle()


def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed scout role classification over a 23-pool backlog
    (src/scout.rs:437/:478 semantics, batched): planted pools from
    ``documents`` with test-named rows, tests/ origins, duplicate and
    zero scores, and three singleton groups — classified by
    ``taskplan.scout_roles`` (largest-relative-gap threshold per pool,
    window functions, no driver collect)."""
    from cqs_spark.operators.taskplan import scout_roles

    docs = load_table(spark, sf_dir, "documents")
    pool = docs.select(
        F.when(F.col("doc_id") < 3, F.col("doc_id") + 100)
        .otherwise(F.col("doc_id") % 20)
        .alias("query_id"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("test_fn_"), F.col("doc_id")),
        )
        .otherwise(F.concat(F.lit("fn_"), F.col("doc_id")))
        .alias("name"),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit("tests/mod_"), F.col("doc_id") % 5, F.lit(".py")),
        )
        .otherwise(
            F.concat(F.lit("src/mod_"), F.col("doc_id") % 5, F.lit(".py"))
        )
        .alias("origin"),
        (((F.col("doc_id") * 37) % 100).cast("double") / 10.0).alias("score"),
    )
    return scout_roles(pool).orderBy("query_id", "name", "origin")


ANALYTIC_QUERIES["q127"] = q127

_Q127 = """
WITH pool AS (
  SELECT CASE WHEN doc_id < 3 THEN 100 + doc_id ELSE doc_id % 20 END AS query_id,
         CASE WHEN doc_id % 7 = 0 THEN 'test_fn_' || doc_id ELSE 'fn_' || doc_id END AS name,
         CASE WHEN doc_id % 11 = 0 THEN 'tests/mod_' || (doc_id % 5) || '.py'
              ELSE 'src/mod_' || (doc_id % 5) || '.py' END AS origin,
         CAST((doc_id * 37) % 100 AS DOUBLE) / 10.0 AS score
  FROM documents),
flagged AS (
  SELECT *, (substr(name, 1, 5) = 'test_'
             OR regexp_matches(COALESCE(origin, ''), '(^|/)tests?(/|_)|_test\\.')) AS is_test
  FROM pool),
nt AS (
  SELECT query_id, score,
         row_number() OVER w AS rn,
         lead(score) OVER w AS nxt,
         COUNT(*) OVER (PARTITION BY query_id) AS n
  FROM flagged WHERE NOT is_test
  WINDOW w AS (PARTITION BY query_id ORDER BY score DESC)),
cand AS (
  SELECT query_id, rn, score, (score - nxt) / score AS gap
  FROM nt
  WHERE rn <= LEAST(n // 2, n - 1) AND score > 0),
pick AS (
  SELECT query_id, gap, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY gap DESC, rn) AS pr
    FROM cand) WHERE pr = 1),
thr AS (
  SELECT t.query_id,
         CASE WHEN p.gap >= 0.10 THEN p.score ELSE t.score END AS threshold
  FROM (SELECT query_id, score FROM nt WHERE rn = 1) t
  LEFT JOIN pick p USING (query_id))
SELECT f.query_id, f.name, f.origin, f.score,
       CASE WHEN f.is_test THEN 'test_to_update'
            WHEN f.score >= t.threshold THEN 'modify_target'
            ELSE 'dependency' END AS role
FROM flagged f LEFT JOIN thr t USING (query_id)
ORDER BY query_id, name, origin
"""

ANALYTIC_ORACLES["q127"] = _Q127


def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Notes mention-matching — the ``Engine.task`` notes leg through
    the real ``index.notes.mention_match`` seam: planted notes (odd
    docs; module + function mentions, some unmatchable) against a
    bounded target set (file origins + node names); exact-name OR
    path-suffix matches, sorted match sets, no-match notes dropped.
    The library API keeps ``matching_files`` as an array; the registered
    query serializes it ('|'-joined) because the driver canonicalizer
    sorts pandas cells and cannot factorize lists (q108 house pattern)."""
    from cqs_spark.index.notes import mention_match

    docs = load_table(spark, sf_dir, "documents")
    notes = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.concat(F.lit("n"), F.col("doc_id")).alias("id"),
        F.concat(F.lit("note "), F.col("doc_id")).alias("text"),
        ((F.col("doc_id") % 3).cast("double") - 1.0).alias("sentiment"),
        F.array(
            F.concat(F.lit("mod_"), F.col("doc_id") % 7, F.lit(".py")),
            F.concat(F.lit("fn_"), F.col("doc_id") % 50),
        ).alias("mentions"),
    )
    targets = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .select(
            F.concat(
                F.lit("src/mod_"), F.col("doc_id") % 5, F.lit(".py")
            ).alias("target")
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 40 == 3).select(
                F.concat(F.lit("fn_"), F.col("doc_id") % 50).alias("target")
            )
        )
    )
    return mention_match(notes, targets).withColumn(
        "matching_files", F.concat_ws("|", "matching_files")
    )


ANALYTIC_QUERIES["q128"] = q128

_Q128 = """
WITH notes AS (
  SELECT 'n' || doc_id AS id, 'note ' || doc_id AS text,
         CAST(doc_id % 3 AS DOUBLE) - 1.0 AS sentiment,
         ['mod_' || (doc_id % 7) || '.py', 'fn_' || (doc_id % 50)] AS mentions
  FROM documents WHERE doc_id % 2 = 1),
m AS (SELECT id, text, sentiment, unnest(mentions) AS mention FROM notes),
targets AS (
  SELECT DISTINCT 'src/mod_' || (doc_id % 5) || '.py' AS target
  FROM documents WHERE doc_id % 4 = 0
  UNION
  SELECT DISTINCT 'fn_' || (doc_id % 50) FROM documents WHERE doc_id % 40 = 3),
j AS (
  SELECT m.id, m.text, m.sentiment, t.target
  FROM m JOIN targets t
    ON t.target = m.mention OR ends_with(t.target, '/' || m.mention))
SELECT text, sentiment,
       array_to_string(list_sort(list(DISTINCT target)), '|') AS matching_files
FROM j GROUP BY id, text, sentiment ORDER BY text
"""

ANALYTIC_ORACLES["q128"] = _Q128


def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Placement formula through the REAL ``Engine._placement`` seam
    (src/where_to_add.rs:92 suggest_placement, shared by where_to_add
    and task): files ranked by summed hit similarity with count, top-5.
    Scores are exact binary quarters so cross-engine sums are
    bit-stable."""
    from cqs_spark.engine import Engine

    docs = load_table(spark, sf_dir, "documents")
    hits = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.concat(F.lit("src_"), F.col("doc_id") % 17).alias("origin"),
        (((F.col("doc_id") * 13) % 40).cast("double") / 4.0).alias("score"),
    )
    return Engine._placement(hits, 5)


ANALYTIC_QUERIES["q129"] = q129

_Q129 = """
WITH hits AS (
  SELECT 'src_' || (doc_id % 17) AS origin,
         CAST((doc_id * 13) % 40 AS DOUBLE) / 4.0 AS score
  FROM documents WHERE doc_id % 3 <> 0)
SELECT origin, SUM(score) AS fit, COUNT(*) AS n_hits
FROM hits GROUP BY origin
ORDER BY fit DESC, origin LIMIT 5
"""

ANALYTIC_ORACLES["q129"] = _Q129


def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onboard composition (src/onboard.rs:148) through
    ``structural.onboard_frames`` — densest files, adaptive-threshold
    hotspots, and module/section docs flattened to one
    (section, key, val) frame."""
    from cqs_spark.operators.graph_queries import call_edges
    from cqs_spark.operators.structural import onboard_frames

    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        F.concat(F.lit("src_"), F.col("doc_id") % 13).alias("origin"),
        F.when(F.col("doc_id") % 4 == 0, "module")
        .when(F.col("doc_id") % 4 == 1, "section")
        .otherwise("function")
        .alias("chunk_type"),
        F.when(F.col("doc_id") % 5 == 0, "")
        .otherwise(F.concat(F.lit("doc "), F.col("doc_id")))
        .alias("doc"),
        F.concat(F.lit("fn"), F.col("doc_id")).alias("name"),
    )
    fr = onboard_frames(chunks, call_edges(spark, sf_dir), top=10)
    files = fr["files"].select(
        F.lit("files").alias("section"),
        F.col("origin").alias("key"),
        F.col("n_chunks").cast("string").alias("val"),
    )
    hot = fr["hotspots"].select(
        F.lit("hot").alias("section"),
        F.col("node").cast("string").alias("key"),
        F.col("n_callers").cast("string").alias("val"),
    )
    d = fr["docs"].select(
        F.lit("docs").alias("section"),
        F.concat_ws("/", "origin", "name").alias("key"),
        F.col("doc").alias("val"),
    )
    return (
        files.unionByName(hot).unionByName(d).orderBy("section", "key")
    )


ANALYTIC_QUERIES["q130"] = q130

_Q130 = """
WITH edges AS (
  SELECT DISTINCT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst
  FROM lineitem WHERE l_quantity <= 3),
chunks AS (
  SELECT 'src_' || (doc_id % 13) AS origin,
         CASE doc_id % 4 WHEN 0 THEN 'module' WHEN 1 THEN 'section' ELSE 'function' END AS chunk_type,
         CASE WHEN doc_id % 5 = 0 THEN '' ELSE 'doc ' || doc_id END AS doc,
         'fn' || doc_id AS name
  FROM documents),
files AS (
  SELECT 'files' AS section, origin AS key, CAST(COUNT(*) AS VARCHAR) AS val
  FROM chunks GROUP BY origin ORDER BY COUNT(*) DESC, origin LIMIT 10),
counts AS (SELECT dst AS node, COUNT(DISTINCT src) AS n_callers FROM edges GROUP BY dst),
total AS (SELECT COUNT(*) AS n_fn FROM counts),
hot AS (
  SELECT 'hot' AS section, CAST(node AS VARCHAR) AS key, CAST(n_callers AS VARCHAR) AS val
  FROM counts, total
  WHERE CAST(n_callers AS DOUBLE) >= GREATEST(5.0, LEAST(50.0, log2(CAST(n_fn AS DOUBLE)) * 0.7))
  ORDER BY n_callers DESC, node LIMIT 10),
d AS (
  SELECT 'docs' AS section, origin || '/' || name AS key, doc AS val
  FROM chunks
  WHERE chunk_type IN ('module', 'section') AND length(COALESCE(doc, '')) > 0
  ORDER BY origin, name LIMIT 10)
SELECT * FROM (
  SELECT * FROM files UNION ALL SELECT * FROM hot UNION ALL SELECT * FROM d
) ORDER BY section, key
"""

ANALYTIC_ORACLES["q130"] = _Q130
