"""Declared queries q47–q48: the hybrid scoring ladder end to end.

q47 runs the full §3.1 stage order over ``documents`` with frozen
parameters, oracle-checked in DuckDB.  q48 MMR-reranks the q47-style
pool on the driver (sequential greedy by design); since r4 it is
oracle-gated too — the k=10 greedy loop unrolls into 10 SQL selection
stages with bit-exact float parity to the Python implementation.

Cohort roles (documents table stand-ins for chunk metadata):
  dense leg   = quality composite (all docs)       — "cosine" proxy
  sparse leg  = tf-weighted term match (subset)    — SPLADE proxy
  parent      = doc_id % 50                        — parent_id
  origin      = source (src0..src19)               — file path
  chunk_type  = lang                               — type hints
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cqs_spark.catalog import load_table
from cqs_spark.operators import scoring
from cqs_spark.operators.relational import tokenized_docs
from cqs_spark.operators.textops import quality_features
from cqs_spark.staging import stage

QUERY_TERMS = [("data", 2.0), ("query", 1.5), ("scan", 1.0)]
NOTES = [("src3", 1.0), ("src7", -0.5), ("src11", 0.5)]
ALPHA = 0.7
HINTED_TYPES = ["en", "fr"]
SCORE_FLOOR = 0.05
TOP_K = 50


def _r4(c):
    return F.round(c.cast("double").cast("decimal(30,10)"), 4).cast("double")


def _fused_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dense = quality_features(docs, "doc_id", "text").select(
        F.col("doc_id").alias("id"), F.col("quality").alias("score")
    )
    q = F.broadcast(spark.createDataFrame(QUERY_TERMS, ["term", "w"]))
    sparse = (
        tokenized_docs(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .join(q, "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("tf")).alias("score"))
        .select(F.col("doc_id").alias("id"), "score")
    )
    return scoring.alpha_fuse(
        scoring.minmax_normalize(dense),
        scoring.minmax_normalize(sparse),
        alpha=ALPHA,
    )


def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scoring ladder: fuse → demote → note boost → type boost →
    parent boost → parent dedup → threshold → top-50."""
    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        "lang",
        (F.col("doc_id") % 50).alias("parent"),
    )
    cand = _fused_candidates(spark, sf_dir).join(meta, "id")
    notes = spark.createDataFrame(NOTES, ["mention", "sentiment"])
    cand = scoring.importance_demotion(
        cand,
        "fused",
        is_test=F.col("source").isin("src0", "src1"),
        is_private=F.col("lang") != "en",
    )
    cand = scoring.note_boost(cand, notes, "fused", "source")
    cand = scoring.type_boost(cand, "fused", "lang", HINTED_TYPES)
    cand = scoring.parent_boost(cand, "parent", "fused")
    cand = scoring.parent_dedup(cand, "parent", "fused", "id")
    cand = scoring.threshold(cand, "fused", SCORE_FLOOR)
    out = scoring.topk(cand, "fused", "id", TOP_K)
    return out.select("id", _r4(F.col("fused")).alias("score")).orderBy(
        F.desc("score"), "id"
    )


def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification of the q47 top-20 pool (driver-side greedy).

    Returns (rank, id, score).  Sequential by design (src/search/mmr.rs:59);
    the pool is 20 rows.  Oracle-gated since r4: the greedy loop unrolls
    into 10 single-row SQL selection stages (see _mmr_stages), with
    bit-exact float parity to scoring.mmr_rerank.
    """
    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("file"),
        F.col("lang").alias("name"),
        (F.col("doc_id") % 50).cast("long").alias("dir"),
    )
    pool_df = (
        q47(spark, sf_dir)
        .limit(20)
        .join(meta, "id")
        .select("id", "score", "file", "name", "dir")
    )
    pool = [r.asDict() for r in pool_df.collect()]
    ranked = scoring.mmr_rerank(pool, k=10, lamb=0.7)
    rows = [
        (i + 1, r["id"], round(r["score"], 4)) for i, r in enumerate(ranked)
    ]
    return spark.createDataFrame(rows, "rank long, id long, score double")


NAME_QUERY = "src1"


def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered name-match scoring (src/search/scoring/name_match.rs:90-128).

    ``source`` plays the identifier name; the frozen query 'src1'
    exercises every tier: exact → 1.0 (src1), name-contains-query →
    0.8 (src10..src19), word overlap → 0.25 (the 'src' token matches,
    the digit token doesn't).  Returns (id, name, name_score).
    """
    from cqs_spark.functions.text import name_match_score

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("name"),
        _r4(name_match_score(F.col("source"), NAME_QUERY)).alias("name_score"),
    ).orderBy("id")


SCORING_QUERIES = {"q47": q47, "q48": q48, "q59": q59}


_TOKDOCS = """
tok AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')), ' '),
                x -> length(x) >= 3)) AS term
  FROM documents)
"""

_TERMS_SQL = "(VALUES " + ", ".join(f"('{t}', {w})" for t, w in QUERY_TERMS) + ")"
_NOTES_SQL = "(VALUES " + ", ".join(f"('{m}', {s})" for m, s in NOTES) + ")"
_HINTED_SQL = ", ".join(f"'{t}'" for t in HINTED_TYPES)

_Q47 = f"""
WITH {_TOKDOCS},
dense0 AS (
  SELECT doc_id AS id,
         least(len(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')), ' '),
                  x -> length(x) >= 1))::DOUBLE / 100.0, 1.0) * 0.4
         + (len(list_intersect(
              list_distinct(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')), ' '),
                  x -> length(x) >= 1)),
              ['the', 'and', 'for', 'that', 'with', 'this', 'from', 'have']))::DOUBLE
            / NULLIF(len(list_distinct(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')), ' '),
                  x -> length(x) >= 1)))::DOUBLE, 0)) * 0.3
         + (LENGTH(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))::DOUBLE
            / NULLIF(LENGTH(text)::DOUBLE, 0)) * 0.3 AS s
  FROM documents),
dense1 AS (SELECT id, CAST(ROUND(CAST(s AS DECIMAL(30,10)), 4) AS DOUBLE) AS s FROM dense0),
dense AS (SELECT id, (s - MIN(s) OVER ()) / NULLIF(MAX(s) OVER () - MIN(s) OVER (), 0) AS s01 FROM dense1),
tf AS (SELECT doc_id, term, COUNT(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
sparse0 AS (
  SELECT doc_id AS id, SUM(q.w * tf.tf) AS s
  FROM tf JOIN {_TERMS_SQL} q(term, w) USING (term) GROUP BY doc_id),
sparse AS (SELECT id, (s - MIN(s) OVER ()) / NULLIF(MAX(s) OVER () - MIN(s) OVER (), 0) AS s01 FROM sparse0),
fused AS (
  SELECT COALESCE(d.id, s.id) AS id,
         {ALPHA} * COALESCE(d.s01, 0.0) + {1.0 - ALPHA} * COALESCE(s.s01, 0.0) AS f
  FROM dense d FULL OUTER JOIN sparse s ON d.id = s.id),
meta AS (SELECT doc_id AS id, source, lang, doc_id % 50 AS parent FROM documents),
demoted AS (
  SELECT m.id, m.source, m.lang, m.parent,
         f * CASE WHEN m.source IN ('src0', 'src1') THEN 0.70
                  WHEN m.lang <> 'en' THEN 0.80 ELSE 1.0 END AS f
  FROM fused JOIN meta m USING (id)),
noted AS (
  SELECT d.id, d.source, d.lang, d.parent,
         d.f * COALESCE(1.0 + 0.2 * n.sentiment, 1.0) AS f
  FROM demoted d LEFT JOIN {_NOTES_SQL} n(mention, sentiment) ON d.source = n.mention),
typed AS (
  SELECT id, parent,
         f * CASE WHEN lang IN ({_HINTED_SQL}) THEN 1.2 ELSE 1.0 END AS f
  FROM noted),
pboosted AS (
  SELECT id, parent,
         f * CASE WHEN COUNT(*) OVER (PARTITION BY parent) >= 2
                  THEN LEAST(1.0 + 0.05 * (COUNT(*) OVER (PARTITION BY parent) - 1), 1.15)
                  ELSE 1.0 END AS f
  FROM typed),
deduped AS (
  SELECT id, f FROM pboosted
  QUALIFY ROW_NUMBER() OVER (PARTITION BY parent ORDER BY f DESC, id) = 1)
SELECT id, CAST(ROUND(CAST(f AS DECIMAL(30,10)), 4) AS DOUBLE) AS score
FROM deduped WHERE f >= {SCORE_FLOOR}
ORDER BY f DESC, id LIMIT {TOP_K}
"""

# Tier ladder specialized to the frozen query 'src1' and the srcN name
# domain (sources tokenize to ['src', digits]): exact / contains /
# contained-by / word-overlap ((1 + digit-token-substring-match) / 2 * 0.5).
_Q59 = f"""
SELECT doc_id AS id, source AS name,
CAST(ROUND(CAST(
  CASE WHEN lower(source) = '{NAME_QUERY}' THEN 1.0
       WHEN position('{NAME_QUERY}' IN lower(source)) > 0 THEN 0.8
       WHEN position(lower(source) IN '{NAME_QUERY}') > 0 THEN 0.6
       ELSE 0.5 * ((1 + CASE WHEN length(substr(lower(source), 4)) > 1
                              AND position('1' IN substr(lower(source), 4)) > 0
                             THEN 1 ELSE 0 END) / 2.0)
  END AS DECIMAL(30,10)), 4) AS DOUBLE) AS name_score
FROM documents ORDER BY doc_id
"""

def _mmr_stages(k: int) -> str:
    """Greedy MMR unrolled as k single-row selection stages.

    Stage i picks argmax over the remaining pool of
    ``0.7·score − (1.0−0.7)·max_sim(selected)`` (ties by id) and appends
    it to the selected set.  Float parity with scoring.mmr_rerank is
    deliberate and load-bearing: the SQL spells ``(1.0 - 0.7)`` (Python
    computes 0.30000000000000004, not 0.3) and sums the feature weights
    in the same left-to-right order (0.4 + 0.2 + 0.15) so both engines
    produce bit-identical doubles and therefore identical argmax picks.
    """
    parts = [
        "sel0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS rank, id,"
        " score, file, name, dir FROM pool WHERE FALSE)"
    ]
    # AS MATERIALIZED is load-bearing: each stage references the prior
    # one three times (penalty subquery, NOT IN, union) — inlined CTEs
    # would re-expand the whole chain exponentially (observed: file-
    # handle exhaustion re-scanning the parquet hundreds of times).
    for i in range(1, k + 1):
        parts.append(f"""
step{i} AS MATERIALIZED (
  SELECT p.id, p.score, p.file, p.name, p.dir,
         0.7 * p.score - (1.0 - 0.7) * COALESCE((
             SELECT MAX((CASE WHEN p.file = s.file THEN 0.4 ELSE 0.0 END
                         + CASE WHEN p.name = s.name THEN 0.2 ELSE 0.0 END)
                        + CASE WHEN p.dir = s.dir THEN 0.15 ELSE 0.0 END)
             FROM sel{i - 1} s), 0.0) AS val
  FROM pool p WHERE p.id NOT IN (SELECT id FROM sel{i - 1})
  ORDER BY val DESC, p.id LIMIT 1),
sel{i} AS MATERIALIZED (
  SELECT rank, id, score, file, name, dir FROM sel{i - 1}
  UNION ALL
  SELECT CAST({i} AS BIGINT), id, score, file, name, dir FROM step{i})""")
    return ",\n".join(parts)


# The pool mirrors the Spark side's two cuts exactly: q47's top-50 is cut
# on the UNROUNDED fused score (the _Q47 subquery), then q48's limit(20)
# applies to q47's OUTPUT ordering — rounded score desc, id.
_Q48 = f"""
WITH pool AS MATERIALIZED (
  SELECT r.id, r.score, d.source AS file, d.lang AS name,
         CAST(d.doc_id % 50 AS BIGINT) AS dir
  FROM (
    SELECT id, score FROM ({_Q47}) ORDER BY score DESC, id LIMIT 20
  ) r JOIN documents d ON d.doc_id = r.id),
{_mmr_stages(10)}
SELECT rank, id, score FROM sel10 ORDER BY rank
"""

SCORING_ORACLES: dict[str, str] = {"q47": _Q47, "q48": _Q48, "q59": _Q59}


RERANK_QUERY = "table scan filter join query"


def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder rerank stage (src/reranker.rs:1-8) over a bounded
    pool: the lexical interaction scorer (BM25-shaped tf saturation ×
    query coverage + first-occurrence proximity) through the real
    Arrow-batched rerank_pool path — the same mapInPandas seam an ONNX
    session would plug into."""
    from cqs_spark.operators.rerank import rerank_pool

    docs = load_table(spark, sf_dir, "documents")
    pool = docs.filter(F.col("doc_id") < 200).select(
        F.col("doc_id").cast("string").alias("id"),
        F.substring("text", 1, 400).alias("content"),
    )
    out = rerank_pool(pool, RERANK_QUERY)
    scored = out.select(
        "id",
        F.round(F.col("ce_score").cast("decimal(30,10)"), 4)
        .cast("double")
        .alias("ce_score"),
    )
    return stage(scored).orderBy("id")


SCORING_QUERIES["q113"] = q113

# Mirrors lexical_cross_score's float op order term-by-term: norm =
# 0.25 + 0.75·plen/120, sat-term = tf·2.2/(tf + 1.2·norm); the only
# order-free reduction is the SUM over matched terms (≤5 here), which
# round-4 absorbs — verified bit-identical on the full sf0.01 pool.
_Q113 = f"""
WITH pool AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, substr(text, 1, 400) AS passage
  FROM documents WHERE doc_id < 200),
qterms AS (
  SELECT DISTINCT unnest(regexp_extract_all('{RERANK_QUERY}', '[a-z0-9]+')) AS term),
nq AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nq FROM qterms),
tok AS (
  SELECT id, regexp_extract_all(lower(passage), '[a-z0-9]+') AS toks FROM pool),
scored AS (
  SELECT t.id, q.term,
         len(list_filter(t.toks, x -> x = q.term)) AS tf,
         list_position(t.toks, q.term) AS fpos,
         len(t.toks) AS plen
  FROM tok t CROSS JOIN qterms q),
matched AS (SELECT * FROM scored WHERE tf > 0),
per_doc AS (
  SELECT id,
         SUM(tf * CAST(2.2 AS DOUBLE) /
             (tf + CAST(1.2 AS DOUBLE) *
              (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * plen / CAST(120.0 AS DOUBLE)))) AS sat,
         COUNT(*) AS nmatched,
         MAX(fpos) - MIN(fpos) + 1 AS span
  FROM matched GROUP BY id)
SELECT p.id,
       CAST(ROUND(CAST(COALESCE(
         d.sat * (CAST(d.nmatched AS DOUBLE) / nq.nq) +
         CASE WHEN d.nmatched >= 2
              THEN CAST(d.nmatched AS DOUBLE) / d.span ELSE 0.0 END,
         0.0) AS DECIMAL(30,10)), 4) AS DOUBLE) AS ce_score
FROM pool p LEFT JOIN per_doc d USING (id) CROSS JOIN nq
ORDER BY id
"""

SCORING_ORACLES["q113"] = _Q113


def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-signal provenance (src/search/scoring/provenance.rs,
    src/search/query.rs:672-716): the q47 ladder with ``record=`` on
    every multiplicative stage, returning the per-stage multipliers as
    score-neutral columns next to the final score — the explain-why
    surface behind ``search --provenance``."""
    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        "lang",
        (F.col("doc_id") % 50).alias("parent"),
    )
    cand = _fused_candidates(spark, sf_dir).join(meta, "id")
    notes = spark.createDataFrame(NOTES, ["mention", "sentiment"])
    cand = scoring.importance_demotion(
        cand,
        "fused",
        is_test=F.col("source").isin("src0", "src1"),
        is_private=F.col("lang") != "en",
        record="_demotion_mult",
    )
    cand = scoring.note_boost(
        cand, notes, "fused", "source", record="_note_mult"
    )
    cand = scoring.type_boost(
        cand, "fused", "lang", HINTED_TYPES, record="_type_mult"
    )
    cand = scoring.parent_boost(cand, "parent", "fused", record="_parent_mult")
    cand = scoring.parent_dedup(cand, "parent", "fused", "id")
    cand = scoring.threshold(cand, "fused", SCORE_FLOOR)
    out = scoring.topk(cand, "fused", "id", TOP_K)
    return out.select(
        "id",
        _r4(F.col("fused")).alias("score"),
        _r4(F.col("_demotion_mult")).alias("demotion_mult"),
        _r4(F.col("_note_mult")).alias("note_mult"),
        _r4(F.col("_type_mult")).alias("type_mult"),
        _r4(F.col("_parent_mult")).alias("parent_mult"),
    ).orderBy(F.desc("score"), "id")


SCORING_QUERIES["q117"] = q117

# _Q47 with the four stage multipliers carried through to the output.
_Q117 = f"""
WITH {_TOKDOCS},
dense0 AS (
  SELECT doc_id AS id,
         least(len(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')), ' '),
                  x -> length(x) >= 1))::DOUBLE / 100.0, 1.0) * 0.4
         + (len(list_intersect(
              list_distinct(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')), ' '),
                  x -> length(x) >= 1)),
              ['the', 'and', 'for', 'that', 'with', 'this', 'from', 'have']))::DOUBLE
            / NULLIF(len(list_distinct(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')), ' '),
                  x -> length(x) >= 1)))::DOUBLE, 0)) * 0.3
         + (LENGTH(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))::DOUBLE
            / NULLIF(LENGTH(text)::DOUBLE, 0)) * 0.3 AS s
  FROM documents),
dense1 AS (SELECT id, CAST(ROUND(CAST(s AS DECIMAL(30,10)), 4) AS DOUBLE) AS s FROM dense0),
dense AS (SELECT id, (s - MIN(s) OVER ()) / NULLIF(MAX(s) OVER () - MIN(s) OVER (), 0) AS s01 FROM dense1),
tf AS (SELECT doc_id, term, COUNT(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
sparse0 AS (
  SELECT doc_id AS id, SUM(q.w * tf.tf) AS s
  FROM tf JOIN {_TERMS_SQL} q(term, w) USING (term) GROUP BY doc_id),
sparse AS (SELECT id, (s - MIN(s) OVER ()) / NULLIF(MAX(s) OVER () - MIN(s) OVER (), 0) AS s01 FROM sparse0),
fused AS (
  SELECT COALESCE(d.id, s.id) AS id,
         {ALPHA} * COALESCE(d.s01, 0.0) + {1.0 - ALPHA} * COALESCE(s.s01, 0.0) AS f
  FROM dense d FULL OUTER JOIN sparse s ON d.id = s.id),
meta AS (SELECT doc_id AS id, source, lang, doc_id % 50 AS parent FROM documents),
demoted AS (
  SELECT m.id, m.source, m.lang, m.parent,
         CASE WHEN m.source IN ('src0', 'src1') THEN 0.70
              WHEN m.lang <> 'en' THEN 0.80 ELSE 1.0 END AS demotion_mult,
         f * CASE WHEN m.source IN ('src0', 'src1') THEN 0.70
                  WHEN m.lang <> 'en' THEN 0.80 ELSE 1.0 END AS f
  FROM fused JOIN meta m USING (id)),
noted AS (
  SELECT d.id, d.source, d.lang, d.parent, d.demotion_mult,
         COALESCE(1.0 + 0.2 * n.sentiment, 1.0) AS note_mult,
         d.f * COALESCE(1.0 + 0.2 * n.sentiment, 1.0) AS f
  FROM demoted d LEFT JOIN {_NOTES_SQL} n(mention, sentiment) ON d.source = n.mention),
typed AS (
  SELECT id, parent, demotion_mult, note_mult,
         CASE WHEN lang IN ({_HINTED_SQL}) THEN 1.2 ELSE 1.0 END AS type_mult,
         f * CASE WHEN lang IN ({_HINTED_SQL}) THEN 1.2 ELSE 1.0 END AS f
  FROM noted),
pboosted AS (
  SELECT id, parent, demotion_mult, note_mult, type_mult,
         CASE WHEN COUNT(*) OVER (PARTITION BY parent) >= 2
              THEN LEAST(1.0 + 0.05 * (COUNT(*) OVER (PARTITION BY parent) - 1), 1.15)
              ELSE 1.0 END AS parent_mult,
         f * CASE WHEN COUNT(*) OVER (PARTITION BY parent) >= 2
                  THEN LEAST(1.0 + 0.05 * (COUNT(*) OVER (PARTITION BY parent) - 1), 1.15)
                  ELSE 1.0 END AS f
  FROM typed),
deduped AS (
  SELECT id, f, demotion_mult, note_mult, type_mult, parent_mult FROM pboosted
  QUALIFY ROW_NUMBER() OVER (PARTITION BY parent ORDER BY f DESC, id) = 1)
SELECT id, CAST(ROUND(CAST(f AS DECIMAL(30,10)), 4) AS DOUBLE) AS score,
       CAST(ROUND(CAST(demotion_mult AS DECIMAL(30,10)), 4) AS DOUBLE) AS demotion_mult,
       CAST(ROUND(CAST(note_mult AS DECIMAL(30,10)), 4) AS DOUBLE) AS note_mult,
       CAST(ROUND(CAST(type_mult AS DECIMAL(30,10)), 4) AS DOUBLE) AS type_mult,
       CAST(ROUND(CAST(parent_mult AS DECIMAL(30,10)), 4) AS DOUBLE) AS parent_mult
FROM deduped WHERE f >= {SCORE_FLOOR}
ORDER BY f DESC, id LIMIT {TOP_K}
"""

SCORING_ORACLES["q117"] = _Q117
