"""Keyword index: tokenized postings + TF-IDF scoring (FTS5 analogue).

The reference keeps an FTS5 virtual table over normalized
name/signature/content/doc (src/schema.sql:149-156) and an in-memory
SPLADE inverted index (src/splade/index.rs).  Both are, shape-wise,
a postings DataFrame (term, chunk_id, field, tf) — the reference
already stores sparse vectors in exactly this long format
(src/schema.sql:252-258), which is the Spark-native layout.

Scale: postings partition naturally by term (the join key for query
scoring); a query scores by broadcasting its few terms and shuffling
only the matching postings — never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cqs_spark.functions.text import terms, tokenize_identifier

FIELD_WEIGHTS = {"name": 3.0, "doc": 1.5, "content": 1.0}


def build_postings(chunks: DataFrame) -> DataFrame:
    """(term, chunk_id, field, tf) postings from chunk rows.

    name/signature tokens via the identifier tokenizer
    (camelCase/snake_case split, src/nl/fts.rs:36); content/doc via the
    FTS normalizer.  One explode per field, unioned — each branch is a
    narrow projection so the scan prunes to (id, field) columns.
    """
    def field_postings(col: str, tok_expr) -> DataFrame:
        return (
            chunks.select(F.col("id").alias("chunk_id"), F.explode(tok_expr).alias("term"))
            .groupBy("chunk_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("field", F.lit(col))
        )

    name_toks = tokenize_identifier(F.concat_ws(" ", "name", "signature"))
    return (
        field_postings("name", name_toks)
        .unionByName(field_postings("doc", terms(F.coalesce(F.col("doc"), F.lit("")))))
        .unionByName(field_postings("content", terms(F.col("content"))))
        .select("term", "chunk_id", "field", F.col("tf").cast("long").alias("tf"))
    )


def document_frequency(postings: DataFrame) -> DataFrame:
    """(term, df) distinct-chunk counts — the IDF numerator input."""
    return postings.groupBy("term").agg(
        F.countDistinct("chunk_id").alias("df")
    )


def keyword_search(
    postings: DataFrame,
    query: str,
    n_chunks: int,
    k: int = 10,
    field_weights: dict[str, float] | None = None,
    expand_synonyms: bool = True,
) -> DataFrame:
    """TF-IDF ranked chunk ids for a free-text query: (chunk_id, score).

    score = Σ_terms field_weight · tf · ln(1 + N/df).  The query terms
    broadcast; only their postings shuffle.  Deterministic (score desc,
    chunk_id) ordering and bit-reproducible scores.  Query terms expand
    through the synonym table (src/search/synonyms.rs
    expand_query_for_fts — "auth" also matches "authentication") unless
    ``expand_synonyms=False``.
    """
    weights = field_weights or FIELD_WEIGHTS
    spark = postings.sparkSession
    q_terms = [t for t in _normalize_query(query) if t]
    if expand_synonyms and q_terms:
        from cqs_spark.index.synonyms import expand_terms

        q_terms = expand_terms(q_terms)
    if not q_terms:
        # No usable terms (1-char / punctuation-only query): degrade to an
        # empty leg — alpha_fuse treats an absent leg as 0.0, so hybrid
        # search falls back to the dense leg instead of crashing.
        return spark.createDataFrame([], "chunk_id string, score double")
    q = F.broadcast(spark.createDataFrame([(t,) for t in q_terms], ["term"]))
    df_map = document_frequency(postings.join(q, "term"))
    w_expr = F.lit(None)
    for fld, w in weights.items():
        w_expr = F.when(F.col("field") == fld, w).otherwise(w_expr)
    return (
        postings.join(q, "term")
        .join(df_map, "term")
        .withColumn("w", w_expr.cast("double"))
        .withColumn(
            "s",
            F.col("w") * F.col("tf") * F.log(1.0 + F.lit(float(n_chunks)) / F.col("df")),
        )
        .groupBy("chunk_id")
        # Sum in sorted order, not shuffle order: float addition is not
        # associative, and the score must be the same in every run.
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("s")), F.lit(0.0), lambda a, x: a + x
            ).alias("score")
        )
        .orderBy(F.desc("score"), "chunk_id")
        .limit(k)
    )


def _normalize_query(query: str) -> list[str]:
    import re

    return [t.lower() for t in re.split(r"[^A-Za-z0-9]+", query) if len(t) >= 2]
