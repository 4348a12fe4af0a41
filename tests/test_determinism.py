"""Determinism properties: repartition invariance + pure-function laws.

The Spark analogue of the reference's tie-break discipline
(SURVEY.md §5 carry-over): same input ⇒ same result regardless of
physical partitioning.  Pure functions get hypothesis properties;
Spark operators get fixed-corpus repartition checks (an operator whose
result depends on partitioning would flake here).
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cqs_spark.index.reuse import fake_embedding
from cqs_spark.operators import dedup, scoring
from cqs_spark.operators.graph import bfs, label_propagation


def _corpus(spark, n_docs=40, seed=7):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 40))))
        for i in range(n_docs)
    ]
    # Duplicate a few docs so dedup finds real pairs.
    rows += [(100 + i, rows[i][1]) for i in range(5)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("parts", [1, 7])
def test_minhash_repartition_invariant(spark, parts):
    base = _corpus(spark)
    out = dedup.minhash_dedup(base.repartition(parts), "doc_id", "text")
    ref = dedup.minhash_dedup(base, "doc_id", "text")
    assert _rows(out.select("a", "b", F.round("jac", 6))) == _rows(
        ref.select("a", "b", F.round("jac", 6))
    )
    # Exact duplicates must be found with jac == 1.0.
    pairs = {(r["a"], r["b"]): r["jac"] for r in ref.collect()}
    for i in range(5):
        assert pairs.get((i, 100 + i)) == 1.0


@pytest.mark.parametrize("parts", [1, 5])
def test_simhash_and_exact_dedup_invariant(spark, parts):
    base = _corpus(spark)
    assert _rows(dedup.simhash(base.repartition(parts), "doc_id", "text")) == _rows(
        dedup.simhash(base, "doc_id", "text")
    )
    assert _rows(dedup.exact_dedup(base.repartition(parts), "doc_id", "text")) == _rows(
        dedup.exact_dedup(base, "doc_id", "text")
    )


def test_graph_ops_repartition_invariant(spark):
    rng = random.Random(3)
    edges = spark.createDataFrame(
        [(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(120)],
        "src long, dst long",
    ).distinct()
    seeds = spark.createDataFrame([(0,), (10,)], ["node"])
    a = bfs(edges.repartition(1), seeds, 3)
    b = bfs(edges.repartition(9), seeds, 3)
    assert _rows(a) == _rows(b)
    assert _rows(label_propagation(edges.repartition(1), 3)) == _rows(
        label_propagation(edges.repartition(9), 3)
    )


@given(st.text(max_size=200))
@settings(max_examples=25, deadline=None)
def test_fake_embedding_unit_norm_and_pure(text):
    v1, v2 = fake_embedding(text), fake_embedding(text)
    assert v1 == v2 and len(v1) == 64
    assert abs(sum(x * x for x in v1) - 1.0) < 1e-9


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.floats(0, 1, allow_nan=False)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=25, deadline=None)
def test_mmr_is_permutation_invariant(pool_spec):
    pool = [
        {"id": i, "score": s, "file": f"f{i % 3}", "name": f"n{i % 2}", "dir": "d"}
        for i, s in pool_spec
    ]
    shuffled = list(reversed(pool))
    a = [r["id"] for r in scoring.mmr_rerank(pool, k=5)]
    b = [r["id"] for r in scoring.mmr_rerank(shuffled, k=5)]
    assert a == b


@pytest.mark.parametrize("parts", [1, 7])
def test_new_pipeline_ops_repartition_invariant(spark, parts):
    """Round-3 operators: same result under any input partitioning."""
    from cqs_spark.operators import textops

    base = _corpus(spark)
    repart = base.repartition(parts)
    for op in (
        lambda d: textops.block_dedup(d, "doc_id", "text", 5),
        lambda d: textops.unigram_xent(d, "doc_id", "text").select(
            "doc_id", "n_tokens", F.round("xent", 6), "keep"
        ),
        lambda d: textops.sequence_pack(d, "doc_id", "text", 64, bucket_span=9),
        lambda d: textops.bpe_pair_counts(d, "doc_id", "text", 10),
        lambda d: dedup.containment_pairs(d, "doc_id", "text", 0.5).select(
            "a", "b", F.round("cont_a_in_b", 6), F.round("cont_b_in_a", 6)
        ),
    ):
        assert _rows(op(repart)) == _rows(op(base))


@pytest.mark.parametrize("parts", [1, 5])
def test_semantic_dedup_repartition_invariant(spark, parts):
    vecs = spark.createDataFrame(
        [(i, fake_embedding(f"v{i % 13}", 16)) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    cen = vecs.filter("vec_id % 10 = 0")
    a = dedup.semantic_dedup(vecs.repartition(parts), cen, "vec_id", "embedding", 0.9)
    b = dedup.semantic_dedup(vecs, cen, "vec_id", "embedding", 0.9)
    assert _rows(a) == _rows(b)


@pytest.mark.parametrize("parts", [1, 7])
def test_session_new_ops_repartition_invariant(spark, parts):
    """gopher / tfidf / KN counts / retention / scd2: identical results
    under any input partitioning."""
    from cqs_spark.operators import textops
    from cqs_spark.operators.snapshots import scd2_merge

    base = _corpus(spark)
    repart = base.repartition(parts)
    for op in (
        lambda d: textops.gopher_rules(d, "doc_id", "text", min_words=3),
        lambda d: textops.tfidf_top_terms(d, "doc_id", "text", top_k=2),
        lambda d: textops.ngram_lm_counts(d, "doc_id", "text", top_n=20),
    ):
        assert _rows(op(repart)) == _rows(op(base))

    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i % 9, t0 + datetime.timedelta(hours=i * 7)) for i in range(80)],
        "user_id long, ts timestamp",
    )
    from cqs_spark.operators.eventops import retention

    assert _rows(retention(ev.repartition(parts))) == _rows(retention(ev))

    cur = spark.createDataFrame(
        [(i, f"a{i % 4}", 0, None) for i in range(30)],
        "k long, attr string, valid_from long, valid_to long",
    )
    upd = spark.createDataFrame(
        [(i, f"b{i}", 10) for i in range(0, 40, 3)],
        "k long, attr string, ts long",
    )
    a = scd2_merge(cur.repartition(parts), upd, "k", ["attr"])
    b = scd2_merge(cur, upd, "k", ["attr"])
    assert _rows(a) == _rows(b)


def test_ri_embedding_is_distributional():
    """Shared-vocabulary texts are close in cosine; disjoint ones are
    near-orthogonal — the property the whole-text hash fake lacked."""
    from cqs_spark.index.reuse import ri_embedding

    a = ri_embedding("retry with exponential backoff and jitter")
    b = ri_embedding("the retry loop applies exponential backoff")
    c = ri_embedding("parse tree grammar nodes for the chunker")
    cos = lambda u, v: sum(x * y for x, y in zip(u, v))  # noqa: E731
    assert cos(a, b) > 0.5
    assert abs(cos(a, c)) < 0.35
    assert ri_embedding("same words") == ri_embedding("same words")
    # Unit norm.
    assert abs(cos(a, a) - 1.0) < 1e-9


def test_ri_embedding_subword_composition():
    """Identifier queries cross the vocabulary gap (r4): a prose query
    lands near the snake_case identifier it never spells, because
    subword bases compose into the token vector."""
    from cqs_spark.index.reuse import ri_embedding

    cos = lambda u, v: sum(x * y for x, y in zip(u, v))  # noqa: E731
    q = ri_embedding("label propagation convergence")
    ident = ri_embedding("def label_propagation(edges) until convergence")
    other = ri_embedding("def triangle_count(edges) per node")
    assert cos(q, ident) > 0.3
    assert cos(q, ident) > cos(q, other) + 0.2
    # camelCase splits too; single plain words pay no subword cost.
    camel = ri_embedding("parseHtmlDoc")
    assert cos(ri_embedding("parse html doc"), camel) > 0.5


@pytest.mark.parametrize("parts", [1, 7])
def test_span_mix_shard_bigram_repartition_invariant(spark, parts):
    """span_dedup / mixture_allocation / shard_plan / bigram_lm_score:
    identical results under any input partitioning."""
    from cqs_spark.operators import textops

    base = _corpus(spark).withColumn(
        "source", (F.col("doc_id") % 3).cast("string")
    )
    repart = base.repartition(parts)
    for op in (
        lambda d: textops.span_dedup(d, "doc_id", "text", span_w=4),
        lambda d: textops.mixture_allocation(d, "source", "text", 1000, 2.0),
        lambda d: textops.shard_plan(d, "doc_id", "text", n_shards=4),
        lambda d: textops.bigram_lm_score(d, "doc_id", "text"),
    ):
        assert _rows(op(repart)) == _rows(op(base))


def test_span_dedup_drops_duplicated_spans_only_once(spark):
    """The 5 appended exact-duplicate docs in _corpus must lose every
    span (their copies appeared first at lower ids), while each span
    still survives exactly once corpus-wide."""
    from cqs_spark.operators import textops

    out = textops.span_dedup(_corpus(spark), "doc_id", "text", span_w=4)
    dupes = out.filter("doc_id >= 100").collect()
    assert dupes and all(r["kept_spans"] == 0 for r in dupes)
    assert all(r["clean_text"] == "" for r in dupes)
    originals = {r["doc_id"]: r for r in out.filter("doc_id < 5").collect()}
    assert all(r["kept_spans"] > 0 for r in originals.values())


@pytest.mark.parametrize("parts", [1, 7])
def test_coverage_anomaly_matrix_repartition_invariant(spark, parts):
    """vocab_coverage / dedup_source_matrix / daily_anomaly: identical
    results under any input partitioning."""
    import datetime

    from cqs_spark.operators import textops
    from cqs_spark.operators.dedup import dedup_source_matrix
    from cqs_spark.operators.eventops import daily_anomaly

    base = _corpus(spark).withColumn(
        "source", (F.col("doc_id") % 3).cast("string")
    )
    repart = base.repartition(parts)
    for op in (
        lambda d: textops.vocab_coverage(d, "doc_id", "text", (0.5, 0.9)),
        lambda d: dedup_source_matrix(d, "doc_id", "text", "source", 0.5),
    ):
        assert _rows(op(repart)) == _rows(op(base))

    t0 = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, t0 + datetime.timedelta(hours=i * 5), f"t{i % 3}")
         for i in range(120)],
        "event_id long, ts timestamp, event_type string",
    )
    a = daily_anomaly(ev.repartition(parts))
    b = daily_anomaly(ev)
    assert _rows(a) == _rows(b)


@pytest.mark.parametrize("parts", [1, 7])
def test_incremental_and_budget_select_repartition_invariant(spark, parts):
    """incremental_exact / budget_select: identical results under any
    input partitioning."""
    from cqs_spark.operators import textops
    from cqs_spark.operators.dedup import incremental_exact

    base = _corpus(spark).withColumn(
        "source", (F.col("doc_id") % 3).cast("string")
    )
    batch = base.filter("doc_id % 2 = 1")
    existing = base.filter("doc_id % 2 = 0")
    a = incremental_exact(batch.repartition(parts), existing, "doc_id", "text")
    b = incremental_exact(batch, existing, "doc_id", "text")
    assert _rows(a) == _rows(b)

    a = textops.budget_select(
        base.repartition(parts), "doc_id", "text", "source", 200
    )
    b = textops.budget_select(base, "doc_id", "text", "source", 200)
    assert _rows(a) == _rows(b)


def test_incremental_exact_drops_planted_clones(spark):
    """_corpus plants docs 100-104 as exact copies of docs 0-4: with
    evens as the index and odds as the batch, batch docs that clone an
    indexed doc must drop."""
    from cqs_spark.operators.dedup import incremental_exact

    base = _corpus(spark)
    batch = base.filter("doc_id % 2 = 1")     # includes 101, 103
    existing = base.filter("doc_id % 2 = 0")  # includes 0..4 evens
    out = incremental_exact(batch, existing, "doc_id", "text")
    kept = {r["doc_id"] for r in out.collect()}
    # 101 clones doc 1 (odd -> not indexed) so it survives only if no
    # even doc shares its text; 103 clones doc 3 likewise.  Assert the
    # survivors are exactly the batch hashes absent from the index.
    import hashlib

    texts = {r["doc_id"]: r["text"] for r in base.collect()}
    idx = {hashlib.md5(texts[i].encode()).hexdigest()
           for i in texts if i % 2 == 0}
    expect = {}
    for i in sorted(texts):
        if i % 2 == 0:
            continue
        h = hashlib.md5(texts[i].encode()).hexdigest()
        if h in idx:
            continue
        expect.setdefault(h, i)
    assert kept == set(expect.values())


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 9999),          # score in 1e-4 grid
            st.sampled_from(["fa", "fb", "fc"]),
            st.sampled_from(["na", "nb"]),
            st.integers(0, 3),
        ),
        min_size=2,
        max_size=18,
    )
)
def test_mmr_python_matches_unrolled_sql_oracle(rows):
    """The q48 float-parity claim, property-tested: on RANDOM pools the
    Python greedy MMR and the unrolled DuckDB selection stages pick the
    same documents in the same order — every argmax, every tie-break."""
    import duckdb

    from cqs_spark.operators.scoring import mmr_rerank
    from cqs_spark.operators.scoring_queries import _mmr_stages

    pool = [
        {
            "id": i,
            "score": s / 10000.0,
            "file": f,
            "name": n,
            "dir": d,
        }
        for i, (s, f, n, d) in enumerate(rows)
    ]
    py = [r["id"] for r in mmr_rerank(pool, k=10, lamb=0.7)]

    values = ", ".join(
        f"({r['id']}, {r['score']!r}, '{r['file']}', '{r['name']}', {r['dir']})"
        for r in pool
    )
    sql = f"""
    WITH pool AS MATERIALIZED (
      SELECT * FROM (VALUES {values}) t(id, score, file, name, dir)),
    {_mmr_stages(10)}
    SELECT id FROM sel10 ORDER BY rank
    """
    sql_ids = [r[0] for r in duckdb.connect().execute(sql).fetchall()]
    assert sql_ids == py


@given(
    st.integers(min_value=0, max_value=65535),
    st.integers(min_value=1, max_value=3),
    st.sets(st.integers(min_value=0, max_value=15), min_size=0, max_size=3),
)
@settings(max_examples=300, deadline=None)
def test_simhash_pigeonhole_is_exact(sig, max_hamming, flip_bits):
    """The band decomposition the operator uses (max_hamming+1 bands of
    16//n or 16//n+1 bits) guarantees EXACT recall: any pair within
    hamming distance max_hamming must agree on at least one whole band
    — the property simhash_neardup's candidate generation rests on."""
    other = sig
    for b in list(flip_bits)[:max_hamming]:
        other ^= 1 << b
    nbands = max_hamming + 1
    sizes = [16 // nbands + (1 if i < 16 % nbands else 0) for i in range(nbands)]
    offs = [sum(sizes[:i]) for i in range(nbands)]

    def bands(s):
        return [(s >> o) & ((1 << z) - 1) for o, z in zip(offs, sizes)]

    assert any(x == y for x, y in zip(bands(sig), bands(other)))


@pytest.mark.parametrize("parts", [1, 5])
def test_round7_ops_repartition_invariant(spark, parts):
    """Round-7 operators: same result under any input partitioning."""
    from cqs_spark.operators import textops

    base = _corpus(spark)
    punct = base.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(". shared tail sentence for everyone. ")
        ).alias("text"),
    )
    repart_b, repart_p = base.repartition(parts), punct.repartition(parts)
    for op, src, ref in (
        (lambda d: dedup.simhash_neardup(d, "doc_id", "text", max_hamming=1),
         repart_b, base),
        (lambda d: textops.duplicate_sentences(d, "doc_id", "text", min_tokens=3),
         repart_p, punct),
        (lambda d: textops.sentence_scrub(d, "doc_id", "text", min_tokens=3),
         repart_p, punct),
        (lambda d: textops.ngram_novelty(d, "doc_id", "text", k=5),
         repart_b, base),
    ):
        assert _rows(op(src)) == _rows(op(ref))
    leak = base.withColumn("source", (F.col("doc_id") % 3).cast("string"))
    assert _rows(
        textops.source_leakage(
            leak.repartition(parts), "doc_id", "source", "text", k=5
        )
    ) == _rows(textops.source_leakage(leak, "doc_id", "source", "text", k=5))


def test_keyword_search_scores_independent_of_row_order(spark):
    """A chunk's TF-IDF score sums its field scores in a fixed order, so
    the same postings rows in two input orders give bit-identical
    scores.  One term in three fields per chunk keeps the rows of a
    chunk together through the term shuffle, in input order; their
    scores sit near 0.1-0.3, where float addition order changes the
    last bit."""
    from cqs_spark.index.postings import keyword_search

    rows = [
        ("alpha", f"c{i:02d}", field, tf)
        for i in range(24)
        for field, tf in (("name", 1 + i % 2), ("doc", 2 + i % 3), ("content", 3 + i % 4))
    ]
    schema = "term string, chunk_id string, field string, tf long"

    def scores(ordered):
        postings = spark.createDataFrame(ordered, schema).coalesce(1)
        hits = keyword_search(postings, "alpha", 2, k=24, expand_synonyms=False)
        return {r["chunk_id"]: r["score"] for r in hits.collect()}

    forward, backward = scores(rows), scores(rows[::-1])
    assert len(forward) == 24
    assert forward == backward
