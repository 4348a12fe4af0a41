"""Text-analysis operators for corpus curation.

langid / quality scoring / token budgeting / fingerprinting — the
batch text-analysis layer a training-data pipeline needs, expressed as
pure Catalyst expressions (no Python UDFs in any hot path).

Reference parallels: identifier tokenization + FTS normalization
(src/nl/fts.rs), token budgeting (src/cli/limits.rs, --tokens),
content fingerprinting (canonical_hash, src/schema.sql:101).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from cqs_spark.functions.text import terms
from cqs_spark.partitioning import fan_out
from cqs_spark.staging import stage

# Deterministic per-language stopword lists (heuristic n-gram langid).
STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "and", "for", "that", "with", "this", "from", "have"],
    "es": ["que", "los", "las", "por", "con", "una", "del", "para"],
    "fr": ["les", "des", "est", "pour", "dans", "une", "sur", "pas"],
    "zh": ["de", "shi", "bu", "le", "zai", "wo", "you", "he"],
}


def _tok_col(text_col: str):
    return terms(text_col, min_len=1)


# Per-task input budget for the POSITIONAL-HASH kernels (winnowing,
# _gram_arrays): they md5 every overlapping k-token window, so each
# input byte is hashed ~k times (k=3–8) on top of tokenize + a per-doc
# ordered pass — ~8× the per-byte CPU of a plain tokenize kernel.
# Budgeting ~1/8 of the default 1 MB keeps task CPU time comparable
# across kernels.  Still size-derived, never a core-count constant: a
# parquet-split 100 TB corpus already exceeds the target width and the
# repartition is skipped entirely (measured: q105 winnowing fell from
# 1.3 s to 2.2 s when the 1 MB budget serialized its hash stage to 2
# tasks; 128 KB restores 12-way and the 1.3 s).
_HASH_KERNEL_BYTES_PER_TASK = 1 << 17


def _lang_scores(text_col: str) -> dict:
    """Per-language distinct-stopword hit counts (shared by langid and
    lang_confidence so the two can never disagree on the argmax)."""
    toks = F.array_distinct(_tok_col(text_col))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }


def _lang_argmax(scores: dict):
    """(best, pred) with the lexicographic tie-break both engines pin:
    iterating reverse-sorted means the smallest language name's
    assignment lands last and wins a tie."""
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return best, pred


def langid(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID: argmax stopword hits, lexicographic ties.

    (id, pred_lang, best_hits).  A real deployment swaps the lists for
    character-n-gram profiles; the operator shape (per-language score →
    deterministic argmax) is identical.
    """
    df = fan_out(df)
    scores = _lang_scores(text_col)
    best, pred = _lang_argmax(scores)
    return df.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best.cast("long").alias("best_hits"),
    )


def lang_confidence(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Language ID with document-level CONFIDENCE — the score a web
    curation pipeline thresholds on (CLD3/fastText emit (lang, prob);
    this deterministic twin emits the best language's share of all
    stopword evidence).

    (id, pred_lang, best_hits, confidence) where confidence =
    best_hits / Σ_lang hits, and 0.0 when NO language's stopwords
    appear at all — the "unknown language" case a confidence threshold
    must reject even though the argmax still names some language by
    tie-break.  Same argmax + tie-break as :func:`langid`; the integer
    ratio is the identical IEEE double division in Spark and DuckDB,
    so thresholds on it compare bit-stably cross-engine.  Pure column
    expressions — one narrow projection, no shuffle beyond fan_out.
    Oracle-gated as q142; feeds ``curate(min_lang_confidence=)``.
    """
    import operator
    from functools import reduce

    df = fan_out(df)
    scores = _lang_scores(text_col)
    best, pred = _lang_argmax(scores)
    total = reduce(operator.add, scores.values())
    conf = F.when(
        total > 0, best.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best.cast("long").alias("best_hits"),
        F.round(conf.cast("decimal(30,10)"), 4)
        .cast("double")
        .alias("confidence"),
    )


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc quality features + composite score.

    (id, n_chars, n_tokens, avg_token_len, stop_ratio, alnum_ratio,
    quality) — the length/punctuation/stopword heuristics of standard
    pretraining-data filters, all JVM-side.
    """
    df = fan_out(df)
    toks = _tok_col(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    alnum_chars = F.length(F.regexp_replace(text_col, "[^A-Za-z0-9 ]", ""))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    )
    avg_token_len = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda s, t: s + F.length(t)).cast("double")
        / F.nullif(n_tokens.cast("double"), F.lit(0.0))
    )
    stop_ratio = stop_hits.cast("double") / F.nullif(
        F.size(F.array_distinct(toks)).cast("double"), F.lit(0.0)
    )
    alnum_ratio = alnum_chars.cast("double") / F.nullif(
        n_chars.cast("double"), F.lit(0.0)
    )
    quality = (
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + stop_ratio * 0.3
        + alnum_ratio * 0.3
    )
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        r4(avg_token_len).alias("avg_token_len"),
        r4(stop_ratio).alias("stop_ratio"),
        r4(alnum_ratio).alias("alnum_ratio"),
        r4(quality).alias("quality"),
    )


def token_budget(
    df: DataFrame, id_col: str, text_col: str, budget: int
) -> DataFrame:
    """Running token budget cutoff (the --tokens budget shape).

    Orders docs by id, keeps the prefix whose cumulative whitespace
    token count fits the budget: (id, n_tokens, cum).  The running sum
    is inherently sequential — this operator is for bounded result
    cohorts (the reference applies it to search results, not corpora).
    """
    w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_counts = df.select(
        F.col(id_col), F.size(_tok_col(text_col)).cast("long").alias("n_tokens")
    )
    return (
        with_counts.withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= budget)
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    max_dup_ratio: float = 0.3,
) -> DataFrame:
    """Intra-document repeated n-gram ratio — the C4-style repetition
    quality gate (a doc whose shingles are mostly self-copies is
    boilerplate/spam, not prose).

    (id, n_shingles, n_distinct, dup_ratio, keep).  One explode + one
    aggregate; fan-out before the explode (same scale note as the
    other shingle consumers).  Docs shorter than ``n`` words carry
    zero shingles and keep=true.
    """
    from cqs_spark.functions.text import word_shingles_arr, words

    sh = (
        fan_out(df.select(id_col, text_col))
        .select(id_col, words(text_col).alias("_t"))
        .select(id_col, F.explode(word_shingles_arr("_t", n)).alias("sh"))
    )
    stats = sh.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.countDistinct("sh").alias("n_distinct"),
    )
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .fillna(0, ["n_shingles", "n_distinct"])
        .withColumn(
            "dup_ratio",
            F.when(
                F.col("n_shingles") > 0,
                (F.col("n_shingles") - F.col("n_distinct"))
                / F.col("n_shingles").cast("double"),
            ).otherwise(0.0),
        )
        .withColumn("keep", F.col("dup_ratio") <= max_dup_ratio)
    )


def vocab_stats(
    df: DataFrame, id_col: str, text_col: str, stop_frac: float = 0.5
) -> DataFrame:
    """Corpus vocabulary: per-term document frequency, collection term
    frequency, df fraction, and a discovered-stopword flag (df_frac ≥
    ``stop_frac``) — the data-driven stopword table behind quality
    scoring and IDF weighting.

    One explode + one groupBy; the corpus doc count rides along as a
    broadcast single-row aggregate (no driver action, the plan stays
    one job).
    """
    from cqs_spark.functions.text import words

    tok = fan_out(df.select(id_col, text_col)).select(
        id_col, F.explode(words(text_col)).alias("term")
    )
    n_docs = df.agg(F.countDistinct(id_col).alias("n_docs"))
    return (
        tok.groupBy("term")
        .agg(
            F.countDistinct(id_col).alias("doc_freq"),
            F.count("*").alias("term_freq"),
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn("df_frac", F.col("doc_freq") / F.col("n_docs").cast("double"))
        .withColumn("is_stop", F.col("df_frac") >= stop_frac)
        .drop("n_docs")
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_frac: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling — the training-mix constructor
    (keep fraction f_s of each stratum, e.g. 50% en / 25% de / 10% rest).

    Membership is a pure function of the row id: a multiplicative
    integer hash maps the id to a uniform bucket in [0, 1) and the row
    survives iff bucket < f(stratum).  Unlike ``sampleBy(seed)``, the
    sample is stable across runs, partitionings, and engines (the
    DuckDB oracle computes identical buckets).  The pre-modulus keeps
    the product in int64 for arbitrarily large ids; at deployment
    scale xxhash64 & mask is the drop-in upgrade.
    """
    bucket = (
        (F.col(id_col).cast("bigint") % 1000003) * F.lit(2654435761)
    ) % 10000
    frac = F.lit(float(default_frac))
    for k in sorted(fractions):
        frac = F.when(F.col(stratum_col) == k, float(fractions[k])).otherwise(frac)
    return df.filter(bucket < frac * 10000).withColumn(
        "bucket", bucket.cast("long")
    )


def dataset_split(
    df: DataFrame,
    id_col: str,
    fractions: tuple[tuple[str, float], ...] = (
        ("train", 0.8), ("val", 0.1), ("test", 0.1),
    ),
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every
    curated corpus ships with.

    Same engine-portable multiplicative hash as stratified_sample maps
    the id to a bucket in [0, 10000); cumulative INTEGER thresholds
    (round(Σf·10000)) decide membership, so no float boundary can flip
    a row between engines or runs.  Assignment is a pure function of
    the id: stable under repartitioning, appends, and re-runs — a doc
    never migrates between splits when the corpus grows (the property
    ``randomSplit(seed)`` cannot give you).

    Returns df + (bucket, split).  The id column must be integral —
    a silent cast-to-NULL would drop every row into the last split, so
    non-numeric ids raise instead; ``pmod`` keeps negative ids in the
    same [0, 10000) bucket space as positive ones.
    """
    from pyspark.sql.types import DecimalType, IntegralType

    id_type = df.schema[id_col].dataType
    # DecimalType is exact-integer only while it still fits int64: a
    # decimal(38,0) outside int64 casts to NULL, the bucket goes NULL,
    # and otherwise() silently routes the row into the last split — the
    # exact misrouting class this guard exists to close.  Precision ≤ 18
    # is the largest decimal Spark guarantees fits a bigint.
    exact_int = isinstance(id_type, IntegralType) or (
        isinstance(id_type, DecimalType)
        and id_type.scale == 0
        and id_type.precision <= 18
    )
    if not exact_int:
        raise ValueError(
            f"dataset_split needs an exact-integer id column fitting int64; "
            f"{id_col} is {id_type.simpleString()} (hash it to a bigint "
            "first, e.g. xxhash64)"
        )
    key = F.col(id_col).cast("bigint")
    return _assign_split(df, key, fractions)


def _assign_split(df: DataFrame, key, fractions) -> DataFrame:
    """df + (bucket, split) from an int64 key column expression — the
    shared bucket/threshold tail of :func:`dataset_split` (id-keyed)
    and :func:`leakage_safe_split` (content-keyed)."""
    bucket = F.pmod(
        F.pmod(key, F.lit(1000003)) * F.lit(2654435761),
        F.lit(10000),
    )
    cum = 0.0
    expr = None
    *head, (last_name, _last_frac) = list(fractions)
    for name, frac in head:
        cum += frac
        cond = bucket < int(round(cum * 10000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(last_name) if expr is None else expr.otherwise(last_name)
    )
    return df.withColumn("bucket", bucket.cast("long")).withColumn(
        "split", expr
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fractions: tuple[tuple[str, float], ...] = (
        ("train", 0.8), ("val", 0.1), ("test", 0.1),
    ),
) -> DataFrame:
    """Train/val/test assignment keyed on CONTENT, not id: exact
    duplicates (whitespace-canonicalized text, the house exact-dedup
    key) always land on the SAME side, so a clone of a training
    document can never leak into the eval split — the contamination an
    id-keyed :func:`dataset_split` cannot prevent when the corpus
    still carries duplicates (or when dedup keeps per-source copies on
    purpose).

    Same portable bucket math as dataset_split, applied to the
    md5-prefix int of the canonical text; one narrow projection, no
    shuffle, engine-portable and stable under appends/repartitioning.
    """
    from cqs_spark.operators.dedup import _HEX11

    key = F.expr(
        _HEX11.format(
            h=f"md5(lower(regexp_replace({text_col}, '\\\\s+', ' ')))"
        )
    )
    return _assign_split(df, key, fractions)


def cluster_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    labels: DataFrame | None = None,
    fractions: tuple[tuple[str, float], ...] = (
        ("train", 0.8), ("val", 0.1), ("test", 0.1),
    ),
) -> DataFrame:
    """Train/val/test assignment keyed on the NEAR-DUP CLUSTER id:
    every member of a MinHash cluster lands on the same side, closing
    the hole :func:`leakage_safe_split` leaves — a light edit of a
    training doc hashes to a different canonical key, so content-keyed
    splitting still lets near-clones straddle the eval boundary.

    Pass ``labels`` (the (node, label) cluster table ``dedup_corpus``
    already computes) to reuse the pipeline's existing clustering;
    otherwise the MinHash+LSH ladder runs here at ``threshold``.
    Singletons key on their own id.  Same portable bucket math as the
    other splits — stable under appends IF the cluster labels are
    (a grown cluster can change its min-id label; re-splitting after
    a dedup refresh is the deployment contract, exactly as for any
    cluster-derived artifact).
    """
    if labels is None:
        from cqs_spark.operators.dedup import minhash_dedup
        from cqs_spark.operators.graph import label_propagation

        pairs = minhash_dedup(df, id_col, text_col).filter(
            F.col("jac") >= threshold
        )
        labels = label_propagation(
            pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            converge=True,
        )
    keyed = df.join(
        labels.select(F.col("node").alias(id_col), "label"), id_col, "left"
    )
    key = F.coalesce(F.col("label"), F.col(id_col)).cast("bigint")
    return _assign_split(keyed, key, fractions).drop("label")


def dedup_attrition(
    docs: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    threshold: float = 0.8,
    labels: DataFrame | None = None,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Per-source dedup ATTRITION report: how much of each source the
    dedup ladder removes, split into exact losses (not the canonical-
    hash keeper) and near losses (not the MinHash cluster's min-id
    survivor, exact dupes excluded) — the number a pipeline owner
    checks before blaming a source mix for a shrinking corpus (a
    source that is 60% clones of another is a crawl-config bug, not a
    content signal).

    (source, n_docs, exact_dupes, near_dupes, survivors, attrition).
    Cluster survivors follow ``dedup_corpus``'s rule exactly (min id
    per converged min-label component), so survivors here = what the
    ladder would actually keep.

    Reuse at scale: pass ``labels`` (the (node, label) cluster table
    the dedup pass already computed — same contract as
    :func:`cluster_safe_split`) and/or ``hashes`` (the per-doc
    canonical-hash frame ``(id_col, h)``) so the report costs one
    aggregate instead of re-running the MinHash ladder + fixpoint
    propagation it is describing.  Without them the full computation
    runs here (the oracle-determinism form).
    """
    from cqs_spark.operators.dedup import canonical_text_hash, minhash_dedup
    from cqs_spark.operators.graph import label_propagation

    if hashes is None:
        eh = docs.select(
            F.col(id_col), F.col(source_col),
            canonical_text_hash(F.col(text_col)).alias("_ch"),
        )
    else:
        eh = docs.select(id_col, source_col).join(
            hashes.select(F.col(id_col), F.col("h").alias("_ch")), id_col
        )
    keeper = eh.groupBy("_ch").agg(F.min(id_col).alias("_keeper"))
    if labels is None:
        pairs = minhash_dedup(docs, id_col, text_col).filter(
            F.col("jac") >= threshold
        )
        labels = label_propagation(
            pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            converge=True,
        )
    labeled = labels.select(
        F.col("node").alias(id_col), F.col("label").alias("_cl")
    )
    flags = (
        eh.join(keeper, "_ch")
        .join(labeled, id_col, "left")
        .select(
            source_col,
            (F.col(id_col) != F.col("_keeper")).alias("_ex"),
            (
                F.col("_cl").isNotNull() & (F.col("_cl") != F.col(id_col))
            ).alias("_nr"),
        )
    )
    agg = flags.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_ex").cast("long")).alias("exact_dupes"),
        F.sum((F.col("_nr") & ~F.col("_ex")).cast("long")).alias("near_dupes"),
    )
    lost = F.col("exact_dupes") + F.col("near_dupes")
    return agg.select(
        source_col,
        "n_docs",
        "exact_dupes",
        "near_dupes",
        (F.col("n_docs") - lost).alias("survivors"),
        F.round(
            (lost.cast("double") / F.col("n_docs").cast("double")).cast(
                "decimal(30,10)"
            ),
            4,
        )
        .cast("double")
        .alias("attrition"),
    )


def duplication_matrix(
    docs: DataFrame, id_col: str, source_col: str, text_col: str
) -> DataFrame:
    """Cross-source EXACT-clone matrix: for every source pair, how many
    document pairs share a canonical text hash — WHO copies WHOM, the
    localizer behind :func:`dedup_attrition`'s per-source losses (a
    source that is 60% clones is a crawl-config bug; this names the
    source it mirrors).  Completes the cross-source family: q146
    k-grams, q160 embeddings, this the exact tier.

    (source_a, source_b, n_pairs) with source_a <= source_b
    (source_a == source_b counts within-source clone pairs).  Pairs
    are COUNTED from per-(hash, source) counts — n_i·n_j per hash for
    cross pairs, C(n,2) within — never materialized, so the output is
    bounded by n_sources² and one hash groupBy is the only corpus
    shuffle (the q153 split-contamination idiom, keyed by source
    instead of split).
    """
    from cqs_spark.operators.dedup import canonical_text_hash

    per = (
        docs.select(
            canonical_text_hash(F.col(text_col)).alias("_h"),
            F.col(source_col).alias("_s"),
        )
        .groupBy("_h", "_s")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    a = per.select("_h", F.col("_s").alias("source_a"), F.col("_n").alias("_na"))
    b = per.select("_h", F.col("_s").alias("source_b"), F.col("_n").alias("_nb"))
    joined = a.join(b, "_h").filter(F.col("source_a") <= F.col("source_b"))
    n_pairs = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("_na") * (F.col("_na") - 1) / 2,
    ).otherwise(F.col("_na") * F.col("_nb"))
    return (
        joined.groupBy("source_a", "source_b")
        .agg(F.sum(n_pairs).cast("long").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )


def split_contamination(
    with_split: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Split-leakage AUDIT: the number of exact-duplicate pairs that
    STRADDLE split boundaries in an already-assigned frame (columns
    ``split`` + the text).  Zero is the release gate for an eval split
    — any straddling pair means the test set contains a training doc's
    clone.  Returns one row (straddling_pairs, clusters_affected).

    One hash groupBy + a per-group distinct-split count: a hash group
    of n docs across s splits contributes Σ n_i·n_j (i<j) straddling
    pairs — computed from the per-(hash, split) counts, never by
    materializing the pairs."""
    from cqs_spark.operators.dedup import canonical_text_hash

    per = (
        with_split.select(
            canonical_text_hash(F.col(text_col)).alias("h"), "split"
        )
        .groupBy("h", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = per.groupBy("h").agg(
        F.sum("n").alias("tot"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
        F.count(F.lit(1)).alias("nsplits"),
    )
    straddle = (F.col("tot") * F.col("tot") - F.col("sq")) / 2
    return agg.agg(
        F.sum(straddle).cast("long").alias("straddling_pairs"),
        F.sum((F.col("nsplits") > 1).cast("long")).alias("clusters_affected"),
    )


def mix_report(
    df: DataFrame, id_col: str, text_col: str,
    by: tuple[str, ...] = ("source", "lang"),
) -> DataFrame:
    """Training-mix composition report: per-(source, lang) document and
    token counts plus each cell's share of total corpus tokens — the
    table a data-mixture decision is made from.

    One tokenize pass + one groupBy; the corpus total rides along as a
    broadcast single-row aggregate (no driver action).
    """
    from cqs_spark.functions.text import words

    counts = fan_out(df.select(id_col, text_col, *by)).select(
        *by, F.size(words(text_col)).cast("long").alias("_n")
    )
    cells = counts.groupBy(*by).agg(
        F.count("*").alias("n_docs"), F.sum("_n").alias("n_tokens")
    )
    total = counts.agg(F.sum("_n").alias("_total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .withColumn(
            "token_share", F.col("n_tokens") / F.col("_total").cast("double")
        )
        .drop("_total")
    )


def packing_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
    bucket_span: int | None = None,
) -> DataFrame:
    """Packing-efficiency report over :func:`sequence_pack`'s layout.

    Concat-and-chunk wastes no tokens by construction — the cost it
    DOES pay is fragmentation: documents split across sequence
    boundaries lose coherence (or force attention masking).  One row:
    (n_docs, total_tokens, n_packs, split_docs, boundary_crossings,
    split_frac) where split_docs counts documents crossing at least
    one ``budget`` boundary and boundary_crossings sums crossings
    (a doc longer than several budgets crosses several).

    Pure integer arithmetic on the prefix sums (``div``/``%``), so the
    report is cross-engine bit-stable; cost = the packing pass + one
    aggregate.
    """
    packed = sequence_pack(df, id_col, text_col, budget, bucket_span)
    end_pack = F.expr(f"(cum_before + n_tokens - 1) div {int(budget)}")
    start_pack = F.expr(f"cum_before div {int(budget)}")
    crossings = F.when(
        F.col("n_tokens") > 0, end_pack - start_pack
    ).otherwise(F.lit(0))
    return packed.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.expr(f"CAST((sum(n_tokens) + {int(budget) - 1}) div {int(budget)} "
               "AS BIGINT)").alias("n_packs"),
        F.sum((crossings > 0).cast("long")).cast("long").alias("split_docs"),
        F.sum(crossings).cast("long").alias("boundary_crossings"),
    ).select(
        "*",
        (
            F.col("split_docs").cast("double")
            / F.nullif(F.col("n_docs"), F.lit(0)).cast("double")
        ).alias("split_frac"),
    )


def fertility_report(
    df: DataFrame, id_col: str, text_col: str,
    by: tuple[str, ...] = ("source", "lang"),
) -> DataFrame:
    """Tokenizer-fertility report: per ``by`` cell, word and BPE-piece
    totals plus pieces-per-word — the number that tells a pipeline
    owner which slice of the mix burns tokenizer budget (code- and
    punctuation-heavy sources run hot; a fertility spike after a crawl
    change is an encoding bug surfacing before training does).

    (by..., n_docs, n_words, n_bpe_tokens, fertility) where fertility
    = n_bpe_tokens / n_words (exact bigint sums, one division).  One
    tokenize pass, one groupBy — same scale shape as ``mix_report``.
    """
    from cqs_spark.functions.text import bpe_token_count, words

    counts = fan_out(df.select(id_col, text_col, *by)).select(
        *by,
        F.size(words(text_col)).cast("long").alias("_w"),
        bpe_token_count(text_col).alias("_b"),
    )
    return counts.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_w").alias("n_words"),
        F.sum("_b").alias("n_bpe_tokens"),
        (
            F.sum("_b").cast("double")
            / F.nullif(F.sum("_w"), F.lit(0)).cast("double")
        ).alias("fertility"),
    )


def sequence_pack(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
    bucket_span: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in id
    order and assign each to the fixed-``budget`` training sequence its
    first token lands in — (id, n_tokens, cum_before, pack_id,
    pack_offset), the standard LLM pretraining packing layout.

    The global running sum is a prefix sum, which DOES distribute:
    with ``bucket_span`` set, ids bucket into contiguous ranges, each
    bucket computes its local prefix sums in parallel (window
    partitioned by bucket), bucket totals get one tiny cumulative pass
    (|buckets| rows), and the per-bucket offsets broadcast back — the
    classic two-phase scan, numerically identical to the sequential
    form (integer addition is associative).  ``bucket_span=None`` is
    the single-window reference form for bounded cohorts.
    """
    from cqs_spark.functions.text import words

    counts = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col), F.size(words(text_col)).cast("long").alias("n_tokens")
    )
    if bucket_span is None:
        w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
        counts = counts.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
    else:
        counts = counts.withColumn(
            "_b", F.floor(F.col(id_col).cast("bigint") / bucket_span)
        )
        within = (
            Window.partitionBy("_b").orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        counts = counts.withColumn(
            "_local", F.coalesce(F.sum("n_tokens").over(within), F.lit(0))
        )
        wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
        offsets = (
            counts.groupBy("_b")
            .agg(F.sum("n_tokens").alias("_tot"))
            .withColumn("_off", F.coalesce(F.sum("_tot").over(wb), F.lit(0)))
            .select("_b", "_off")
        )
        counts = (
            counts.join(F.broadcast(offsets), "_b")
            .withColumn("cum_before", F.col("_local") + F.col("_off"))
            .drop("_b", "_local", "_off")
        )
    return counts.select(
        id_col, "n_tokens", "cum_before",
        F.floor(F.col("cum_before") / budget).cast("long").alias("pack_id"),
        (F.col("cum_before") % budget).cast("long").alias("pack_offset"),
    )


def bpe_pair_counts(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 30
) -> DataFrame:
    """The distributed kernel of BPE tokenizer training: corpus-weighted
    adjacent character-pair counts over word TYPES — (pair, n, rk),
    top ``top_n`` pairs by count (ties lexicographic).

    Counting runs over the aggregated type table (vocab-sized), not the
    token stream: tf weights carry the corpus frequency, so the explode
    is |vocab| × word-length rows regardless of corpus size.  A full
    BPE train loops this count → pick top pair → merge → recount, with
    the driver holding only the (small) merge table; each iteration is
    exactly this job.
    """
    from cqs_spark.functions.text import words

    tok = fan_out(df.select(id_col, text_col)).select(
        F.explode(words(text_col)).alias("term")
    )
    types = tok.groupBy("term").agg(F.count("*").alias("tf"))
    t = F.col("term")
    idx = F.when(
        F.length(t) > 1, F.sequence(F.lit(1), F.length(t) - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = F.transform(idx, lambda i: t.substr(i, F.lit(2)))
    ex = types.select("tf", F.explode(pairs).alias("pair"))
    counts = ex.groupBy("pair").agg(F.sum("tf").alias("n"))
    w = Window.orderBy(F.desc("n"), "pair")
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= top_n)
    )


def weighted_sample(df: DataFrame, id_col: str, weight_col: str) -> DataFrame:
    """Per-row weighted Bernoulli sampling with a DETERMINISTIC uniform:
    keep a row iff hash-bucket(id)/10⁴ < weight (clamped to [0, 1]) —
    the quality-weighted / temperature-resampled training-mix
    constructor (keep probability proportional to a per-doc score).

    Same engine-portable hash as stratified_sample, so the sample is
    stable across runs, partitionings, and the DuckDB oracle; the
    weight column must itself be engine-deterministic (round it to a
    fixed decimal precision first).
    """
    bucket = (
        (F.col(id_col).cast("bigint") % 1000003) * F.lit(2654435761)
    ) % 10000
    w = F.least(
        F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0)
    )
    return df.filter(bucket < w * 10000).withColumn("bucket", bucket.cast("long"))


def fingerprint(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3, k: int = 4
) -> DataFrame:
    """Winnowing-style document fingerprint: k smallest shingle hashes.

    (id, fp) where fp joins the k lexicographically-smallest md5s of
    the doc's n-word shingles — a compact near-dup / provenance key.
    Reference parallel: canonical_hash as an exact fingerprint
    (src/schema.sql:101); this is its locality-sensitive extension.
    """
    from cqs_spark.operators.dedup import shingles

    sh = shingles(df, id_col, text_col, shingle_n).select(
        F.col(id_col), F.md5("sh").alias("h")
    )
    return sh.groupBy(id_col).agg(
        F.concat_ws(",", F.slice(F.sort_array(F.collect_set("h")), 1, k)).alias("fp")
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """MOSS winnowing (Schleimer et al. 2003): positional fingerprints
    with a matching GUARANTEE — any shared token run of at least
    ``window + k − 1`` tokens shares at least one selected fingerprint.

    k-gram hashes per doc; every window of ``window`` consecutive
    hashes keeps its minimum (RIGHTMOST position wins ties — the
    winnowing rule that makes selection self-synchronizing); distinct
    selected (pos, hash) rows are the fingerprints.  The plagiarism /
    provenance-grade near-dup key — unlike ``fingerprint``'s k-smallest
    global hashes, winnowing is position-dense, so fingerprint overlap
    localizes WHERE two documents share text.

    Returns (id, pos, h) — pos is the 1-based k-gram index.

    Shape at scale: one explode of grams, one per-doc window (the
    shuffle key is the doc id; window length is a constant), one
    distinct.  No cross-doc joins here — matching fingerprints later
    is a hash-keyed equi-join, exactly the LSH-bucket shape.
    """
    from cqs_spark.operators.dedup import _hash44

    base = (
        fan_out(
            df.select(id_col, text_col),
            bytes_per_task=_HASH_KERNEL_BYTES_PER_TASK,
        )
        .select(F.col(id_col), _tok_col(text_col).alias("_t"))
        .filter(F.size("_t") >= k)
    )
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.size("_t") - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice("_t", i, k)),
    )
    grams = base.select(
        F.col(id_col), F.posexplode(gram_arr).alias("pos0", "g")
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("g"))
    hashed = grams.select(
        F.col(id_col), "pos", _hash44("md5(g)").alias("h")
    )
    n_win = Window.partitionBy(id_col)
    sel_win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    sel = (
        hashed.withColumn("_n", F.count(F.lit(1)).over(n_win))
        .withColumn(
            "_m",
            F.min(
                F.struct(F.col("h"), (-F.col("pos")).alias("np"))
            ).over(sel_win),
        )
        .filter(F.col("pos") <= F.col("_n") - window + 1)  # full windows
    )
    return (
        sel.select(
            F.col(id_col),
            (-F.col("_m.np")).cast("long").alias("pos"),
            F.col("_m.h").cast("long").alias("h"),
        )
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop corpus docs sharing any n-word
    shingle with the eval set — the standard training-data hygiene pass
    (the n-gram-overlap rule popularized by GPT-3/C4 appendix audits).

    Returns (clean_corpus, report) where report = (id, n_contaminated_
    grams) for every flagged doc.  Eval shingles are DISTINCT and
    broadcast (benchmark suites are tiny next to a training corpus; at
    100 TB an eval set of even 1M docs yields a few-GB shingle set —
    past broadcast range switch the join to shuffle-on-g, the plan is
    otherwise unchanged).  Corpus shingles are one fan-out + explode;
    the semi-join touches only colliding grams.
    """
    from cqs_spark.functions.text import word_shingles_arr, words

    c_sh = (
        fan_out(corpus.select(id_col, text_col))
        .select(id_col, words(text_col).alias("_t"))
        .select(id_col, F.explode(word_shingles_arr("_t", n)).alias("g"))
    )
    e_sh = (
        eval_df.select(words(text_col).alias("_t"))
        .select(F.explode(word_shingles_arr("_t", n)).alias("g"))
        .distinct()
    )
    report = (
        c_sh.join(F.broadcast(e_sh), "g")
        .groupBy(id_col)
        .agg(F.countDistinct("g").alias("n_contaminated_grams"))
    )
    clean = corpus.join(report.select(id_col), id_col, "left_anti")
    return clean, report


def contamination_profile(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """The REVERSE direction of :func:`decontaminate`: per-EVAL-doc
    contamination — what share of each benchmark item's distinct
    ``n``-gram surface the training corpus already carries.  The
    number a release report quotes per benchmark ("GSM8K item X is
    94% covered"): decontaminate cleans the corpus, this grades the
    eval set, and an eval doc at high coverage is a score you can no
    longer trust even after the corpus-side scrub.

    Returns (id, total_grams, contaminated_grams, coverage) over
    DISTINCT per-doc grams; eval docs shorter than ``n`` tokens emit
    total_grams = 0 and coverage 0.0.

    Scale shape mirrors decontaminate with the broadcast flipped: the
    CORPUS gram stream (the huge side) is probed once against the
    broadcast distinct eval grams — the hit set is bounded by the
    eval's gram count, never the corpus's — then one small join back
    to the per-(eval doc, gram) frame.  No corpus-sized shuffle.
    """
    from cqs_spark.functions.text import word_shingles_arr, words

    # Per-doc gram dedup BEFORE the explode (one row per eval doc, so
    # array_distinct == the (id, g) distinct) — no shuffle of the
    # exploded gram frame, same trick as dedup.shingles.  Staged
    # (lazy): e_doc has two consumers (the broadcast distinct + the
    # per-doc join back); the old post-explode .distinct() exchange
    # was reused between them, so without staging the eval
    # tokenize+shingle pass would now run twice.  Lazy is safe because
    # e_doc's lineage is deterministic (a pure per-row tokenize +
    # shingle of eval_df): whichever consumer computes a block first,
    # the other reads — or recomputes — the same rows.
    e_doc = stage(
        eval_df.select(id_col, words(text_col).alias("_t")).select(
            id_col,
            F.explode(F.array_distinct(word_shingles_arr("_t", n))).alias("g"),
        )
    )
    c_sh = (
        fan_out(corpus.select(id_col, text_col))
        .select(words(text_col).alias("_t"))
        .select(F.explode(word_shingles_arr("_t", n)).alias("g"))
    )
    hits = c_sh.join(
        F.broadcast(e_doc.select("g").distinct()), "g", "left_semi"
    ).distinct()
    per = e_doc.join(hits.withColumn("_hit", F.lit(1)), "g", "left").groupBy(
        id_col
    ).agg(
        F.count(F.lit(1)).alias("total_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
        .cast("long")
        .alias("contaminated_grams"),
    )
    base = eval_df.select(id_col).join(per, id_col, "left")
    return base.select(
        id_col,
        F.coalesce(F.col("total_grams"), F.lit(0)).cast("long").alias(
            "total_grams"
        ),
        F.coalesce(F.col("contaminated_grams"), F.lit(0)).cast("long").alias(
            "contaminated_grams"
        ),
        F.when(
            F.coalesce(F.col("total_grams"), F.lit(0)) == 0, F.lit(0.0)
        )
        .otherwise(
            F.col("contaminated_grams").cast("double")
            / F.col("total_grams").cast("double")
        )
        .alias("coverage"),
    )


def oov_rate(
    df: DataFrame, id_col: str, text_col: str, vocab_size: int = 50
) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus's own top-N
    collection-frequency vocabulary (ties broken lexicographically) —
    the tokenizer-coverage probe a training mix is graded on.

    (id, n_tokens, n_oov, oov_rate).  One staged explode feeds BOTH
    the vocab aggregate and the per-doc join; the
    vocab rank is a single-partition window over the *aggregated* term
    table — fine to ~1e7 distinct terms; past that swap in a frequency
    threshold instead of an exact top-N.
    """
    from cqs_spark.functions.text import words

    # Two consumers (vocab aggregate + per-doc join); the explode is
    # narrow (no exchange to reuse) — stage it once.
    tok = stage(
        fan_out(df.select(id_col, text_col))
        .select(id_col, F.explode(words(text_col)).alias("term")),
        eager=True,
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("tf"), "term"))
        )
        .filter(F.col("rk") <= vocab_size)
        .select("term", F.lit(1).alias("_in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .fillna(0, ["n_tokens", "n_oov"])
        .withColumn(
            "oov_rate",
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_oov") / F.col("n_tokens").cast("double"),
            ).otherwise(0.0),
        )
    )


def length_outliers(
    df: DataFrame,
    id_col: str,
    len_col: str,
    group_col: str,
    z_max: float = 2.0,
) -> DataFrame:
    """Per-group length z-score outlier gate (|z| > z_max drops) — the
    cheap distribution-tail filter run before any content scoring.

    (id, group, len, z, keep).  Pure window aggregation partitioned by
    the group column; population stddev so the oracle (and any engine)
    agrees exactly.  Degenerate groups (stddev 0) keep everything.
    """
    w = Window.partitionBy(group_col)
    mu = F.avg(len_col).over(w)
    sd = F.stddev_pop(len_col).over(w)
    z = F.when(sd > 0, (F.col(len_col) - mu) / sd).otherwise(F.lit(0.0))
    return df.select(
        id_col, group_col, len_col,
        z.alias("z"),
        (F.abs(z) <= z_max).alias("keep"),
    )


def block_dedup(
    df: DataFrame, id_col: str, text_col: str, block_tokens: int = 10
) -> DataFrame:
    """Exact duplicate-BLOCK detection — the sub-document complement of
    doc-level dedup (RefinedWeb/suffix-array-style exact substring
    removal, approximated on non-overlapping fixed-width token blocks).

    Splits each doc's token stream into consecutive ``block_tokens``-token
    blocks (trailing partial block dropped), hashes each, and marks a
    block duplicate unless it is the corpus-wide FIRST occurrence
    (min (doc_id, position)).  Returns per-doc
    (id, n_blocks, n_dup_blocks, dup_ratio).

    One fan-out + posexplode, then a single shuffle on the block hash
    (row_number per hash); per-doc rollup reuses the id partitioning.
    A block repeated millions of times at 100 TB skews its hash
    partition — the fix is the same two-level agg as any heavy-hitter
    count (partial count per (hash, salt), then merge), noted here
    because the window form is the readable default.
    """
    from cqs_spark.functions.text import words

    b = int(block_tokens)
    toked = fan_out(df.select(id_col, text_col)).select(
        id_col, words(text_col).alias("_t")
    )
    n_blocks = (F.size("_t") / b).cast("int")
    idx = F.when(
        n_blocks > 0, F.sequence(F.lit(0), n_blocks - 1)
    ).otherwise(F.array().cast("array<int>"))
    blocks = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice("_t", i * b + 1, b))
    )
    exploded = toked.select(
        id_col, F.posexplode(blocks).alias("pos", "blk")
    ).select(id_col, "pos", F.md5("blk").alias("h"))
    w = Window.partitionBy("h").orderBy(id_col, "pos")
    flagged = exploded.withColumn("rn", F.row_number().over(w))
    stats = flagged.groupBy(id_col).agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_blocks"),
    )
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .fillna(0, ["n_blocks", "n_dup_blocks"])
        .withColumn(
            "dup_ratio",
            F.when(
                F.col("n_blocks") > 0,
                F.col("n_dup_blocks") / F.col("n_blocks").cast("double"),
            ).otherwise(0.0),
        )
    )


def unigram_xent(
    df: DataFrame, id_col: str, text_col: str, max_xent: float = 3.402
) -> DataFrame:
    """Per-doc unigram cross-entropy against the corpus's own unigram
    LM — the deterministic stand-in for the CCNet/KenLM perplexity
    quality filter (docs whose tokens are corpus-atypical score high
    and drop).

    xent = mean over doc tokens of −ln p(term), p = collection tf / N.
    (id, n_tokens, xent, keep).  One explode feeds both the LM
    aggregate and the per-doc join; the term-probability table is an
    aggregated broadcast (|vocab| rows, not |tokens|).  Empty docs
    carry xent 0 and keep.
    """
    from cqs_spark.functions.text import words

    # Three consumers (corpus total, LM aggregate, per-doc join): the
    # explode is narrow, so there is no exchange to reuse — stage it
    # once instead of tokenizing three times.
    tok = stage(
        fan_out(df.select(id_col, text_col))
        .select(id_col, F.explode(words(text_col)).alias("term")),
        eager=True,
    )
    total = tok.agg(F.count("*").alias("n_total"))
    lm = (
        tok.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            (-F.log(F.col("tf") / F.col("n_total").cast("double"))).alias("nll"),
        )
    )
    per_doc = (
        tok.join(F.broadcast(lm), "term")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.avg("nll").alias("xent"))
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .fillna(0, ["n_tokens"])
        .fillna(0.0, ["xent"])
        .withColumn("keep", F.col("xent") <= max_xent)
    )


# PII patterns: the practical trio every corpus scrub starts with.
# Deterministic regexes, applied via Catalyst regexp functions — no
# Python in the path.
_PII_PATTERNS = {
    # Order matters for scrubbing: SSN before the (greedier) phone
    # pattern, which would otherwise consume the ddd-dd-dddd shape.
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\+?\d[\d\s().-]{7,}\d",
}


def pii_scan(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc PII hit counts: (id, n_email, n_phone, n_ssn, has_pii)."""
    out = df.select(id_col, text_col)
    for name, pat in _PII_PATTERNS.items():
        # bigint, not F.size's int32: count columns are bigint house-wide
        # so the oracle hash gate never sees an int-width skew.
        out = out.withColumn(
            f"n_{name}",
            F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
            ).cast("long"),
        )
    flags = [F.col(f"n_{n}") > 0 for n in _PII_PATTERNS]
    has = flags[0]
    for f in flags[1:]:
        has = has | f
    return out.drop(text_col).withColumn("has_pii", has)


def pii_scrub(df: DataFrame, text_col: str) -> DataFrame:
    """Replace PII spans with typed placeholders ([EMAIL], [PHONE],
    [SSN]) in ``text_col`` — redaction, not deletion, so token offsets
    stay roughly stable for downstream dedup."""
    out = df
    for name, pat in _PII_PATTERNS.items():
        out = out.withColumn(
            text_col,
            F.regexp_replace(F.col(text_col), pat, f"[{name.upper()}]"),
        )
    return out


# Prompt-injection directive detection (reference
# src/llm/validation.rs:141-305, the v1.48-v1.51 `scan == relayed`
# contract): a kill-verb (ignore|disregard|forget) followed by an
# optional run of whole-word fillers (all|the|any|your) and a target
# noun prefix (prior|previous|above|instructions|everything), OR one
# of the exact non-verb directive prefixes — anchored to LINE STARTS
# after stripping ONE leading comment marker, so the same words
# mid-sentence stay prose (the reference's own false-positive lesson:
# a bare `contains` fired on hundreds of legitimate doc comments).
# RE2-safe (no lookarounds/backrefs) so the DuckDB oracle runs the
# SAME pattern; whitespace is ASCII space/tab — the line splitter
# already consumed \n, and \r/unicode spaces are normalized upstream
# by unicode hygiene.  Applied to lower(text) in both engines.
_INJECTION_DIRECTIVE_RE = (
    r"(?m)^[ \t]*"
    r"(?:///|//!|/\*\*|/\*|//|<!--|--|%|;|#|\*)?"
    r"[ \t]*"
    r"(?:(?:ignore|disregard|forget)[ \t]+(?:(?:all|the|any|your)[ \t]+)*"
    r"(?:prior|previous|above|instructions|everything)"
    r"|instead of|instead, |instead:|your instructions are"
    r"|new instructions|system prompt:|system:|as an ai|\[system\])"
)


def injection_scan(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-doc prompt-injection directive flags: (id,
    leading_directive, code_fence, embedded_url, injection).

    The training-data twin of the reference's summary validation
    (src/llm/validation.rs:153 detect_all_injection_patterns): a
    corpus carrying instruction-shaped directives flows straight into
    training dumps, so the release pipeline must at least SEE them.

    - ``leading_directive``: a context-wipe directive opens a line
      (optionally behind one comment marker) — the high-confidence
      signal, and the only one the release gate counts: training
      documents legitimately contain code fences and URLs, which the
      reference flags only because *summaries* should not.
    - ``code_fence``: a triple-backtick fence anywhere in the body.
    - ``embedded_url``: an http(s) URL anywhere in the body.
    - ``injection``: any flag fired (the reference's per-chunk
      ``injection_flags`` non-empty).

    Pure JVM regex/substring expressions — one scan-side projection,
    no shuffle; this catches *lazy* injections (visibly
    instruction-shaped text), same honest scope as the reference.
    """
    low = F.lower(F.col(text_col))
    lead = F.coalesce(
        low.rlike(_INJECTION_DIRECTIVE_RE), F.lit(False)
    )
    fence = F.coalesce(F.col(text_col).contains("```"), F.lit(False))
    url = F.coalesce(
        low.contains("http://") | low.contains("https://"), F.lit(False)
    )
    return df.select(
        id_col,
        lead.alias("leading_directive"),
        fence.alias("code_fence"),
        url.alias("embedded_url"),
        (lead | fence | url).alias("injection"),
    )


def injection_flags_expr(text_col) -> "F.Column":
    """Relay-envelope injection flags over EXACTLY the relayed bytes:
    ``array<string>`` of fired detector names, empty when clean —
    the reference's per-chunk ``injection_flags`` shape
    (src/llm/validation.rs:152 detect_all_injection_patterns, flag
    names ``leading-directive`` / ``code-fence`` / ``embedded-url``,
    CHANGELOG §1.51 Security "scan == relayed").

    Built from the SAME pattern objects as :func:`injection_scan`, so
    the read-relay surfaces (``Engine.read_chunk``, ``reconstruct``,
    the convert relay) and the corpus gate cannot drift apart.  Pure
    JVM expressions — attaching this to a relay projection adds no
    shuffle and no Python."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    low = F.lower(c)
    arr = F.array(
        F.when(
            low.rlike(_INJECTION_DIRECTIVE_RE), F.lit("leading-directive")
        ),
        F.when(c.contains("```"), F.lit("code-fence")),
        F.when(
            low.contains("http://") | low.contains("https://"),
            F.lit("embedded-url"),
        ),
    )
    return F.filter(arr, lambda x: x.isNotNull())


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", table A1 — the standard pretraining rule set).
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
) -> DataFrame:
    """Gopher-style document quality gate, all JVM-side.

    Emits one row per doc with the raw statistics, one boolean per
    rule, and the conjunctive ``keep``:

      (id, n_words, mean_word_len, alpha_frac, stop_hits, symbol_ratio,
       bullet_frac, ellipsis_frac, ok_words, ok_mean_len, ok_alpha,
       ok_stops, ok_symbols, ok_bullets, ok_ellipsis, keep)

    Rules (defaults = the published thresholds): word count within
    [min_words, max_words]; mean word length within [3, 10]; >= 80% of
    words contain an alphabetic character; >= 2 of the 8 required
    English stopwords present; symbol-to-word ratio (# and ...) <= 0.1;
    < 90% of lines bullet-led; < 30% of lines ellipsis-terminated.
    Every statistic is a Catalyst expression over one whitespace split
    and one line split — no shuffle, no Python.
    """
    df = fan_out(df)
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda w: F.length(w) > 0
    )
    n_words = F.size(words)
    dnw = F.nullif(n_words.cast("double"), F.lit(0.0))
    mean_word_len = (
        F.aggregate(words, F.lit(0).cast("long"), lambda s, w: s + F.length(w))
        .cast("double") / dnw
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = alpha_words.cast("double") / dnw
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(w) for w in _GOPHER_STOPS]),
        )
    )
    n_hash = F.size(F.filter(words, lambda w: w.contains("#")))
    n_ellipsis_w = F.size(F.filter(words, lambda w: w.contains("...")))
    symbol_ratio = (n_hash + n_ellipsis_w).cast("double") / dnw
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.length(F.trim(l)) > 0
    )
    n_lines = F.nullif(F.size(lines).cast("double"), F.lit(0.0))
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]")))
        .cast("double") / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$")))
        .cast("double") / n_lines
    )
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        r4(mean_word_len).alias("mean_word_len"),
        r4(alpha_frac).alias("alpha_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        r4(symbol_ratio).alias("symbol_ratio"),
        r4(F.coalesce(bullet_frac, F.lit(0.0))).alias("bullet_frac"),
        r4(F.coalesce(ellipsis_frac, F.lit(0.0))).alias("ellipsis_frac"),
    )
    out = out.select(
        "*",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias("ok_words"),
        (
            (F.col("mean_word_len") >= min_mean_len)
            & (F.col("mean_word_len") <= max_mean_len)
        ).alias("ok_mean_len"),
        (F.col("alpha_frac") >= min_alpha_frac).alias("ok_alpha"),
        (F.col("stop_hits") >= min_stop_hits).alias("ok_stops"),
        (F.col("symbol_ratio") <= max_symbol_ratio).alias("ok_symbols"),
        (F.col("bullet_frac") <= max_bullet_frac).alias("ok_bullets"),
        (F.col("ellipsis_frac") <= max_ellipsis_frac).alias("ok_ellipsis"),
    )
    keep = F.lit(True)
    for c in (
        "ok_words", "ok_mean_len", "ok_alpha", "ok_stops",
        "ok_symbols", "ok_bullets", "ok_ellipsis",
    ):
        keep = keep & F.col(c)
    return out.withColumn("keep", keep)


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    (id, term, tf, doc_freq, tfidf, rk).  Ranking uses INTEGER keys
    only (tf desc, doc_freq asc, term asc) — the tf-idf ordering for
    equal-tf terms, but engine-portable: no float comparisons decide
    ranks, so the DuckDB hash gate can't be broken by libm last-ulp
    drift.  The tfidf value itself (tf · ln(N/df), rounded 4) ships as
    a payload column.

    Shape at scale: one explode + one (id, term) count, one term-level
    count off the same exploded pass, and the |vocab|-row doc-freq
    table broadcasts back — the corpus shuffles once on (id, term).
    """
    df = fan_out(df)
    # Corpus doc count rides as a broadcast single-row aggregate (like
    # vocab_stats) instead of an eager df.count() — one job, not two.
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_N"))
    tok = df.select(F.col(id_col).alias("id"), F.explode(_tok_col(text_col)).alias("term"))
    # tf feeds the doc-freq aggregate AND the ranking join — stage it
    # so the tokenize+explode+count runs once.
    tf = stage(
        tok.groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        eager=True,
    )
    dfreq = (
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("tf"), F.asc("doc_freq"), F.asc("term")
    )
    tfidf = (
        F.col("tf").cast("double")
        * F.log(F.col("_N") / F.col("doc_freq").cast("double"))
    )
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= top_k)
        .select("id", "term", "tf", "doc_freq", r4(tfidf).alias("tfidf"), "rk")
    )


def ngram_lm_counts(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 50
) -> DataFrame:
    """Kneser–Ney continuation statistics for LM training prep.

    Per word: total unigram count, bigram-context diversity
    (distinct LEFT neighbors — the KN continuation numerator
    N1+(·, w)), and distinct RIGHT continuations (N1+(w, ·), the
    lower-order normalizer).  Top-n words by continuation count with
    (count desc, word asc) determinism.  All integer aggregates: one
    explode to bigrams, three groupBys that AQE coalesces off the same
    shuffle key.
    """
    df = fan_out(df)
    toks = _tok_col(text_col)
    bigrams = df.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # ONE distinct-bigram pass staged for both diversity aggregates
    # (left and right each re-ran the explode+distinct before).  LAZY
    # by measurement (r13 A/B: eager +0.17 s on q82 — the eager job
    # serializes this pass before the action's independent legs, and
    # locally the single BlockManager's per-block locking already
    # prevents duplicate computation between the two consumers).
    bg_d = stage(bigrams.distinct())
    left_div = (
        bg_d.groupBy(F.col("w2").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_left_ctx"))
    )
    right_div = (
        bg_d.groupBy(F.col("w1").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_right_cont"))
    )
    w_rk = Window.orderBy(F.desc("n_left_ctx"), F.asc("w"))
    return (
        uni.join(left_div, "w", "left")
        .join(right_div, "w", "left")
        .fillna(0, ["n_left_ctx", "n_right_cont"])
        .withColumn("rk", F.row_number().over(w_rk).cast("long"))
        .filter(F.col("rk") <= top_n)
        .select("w", "n", "n_left_ctx", "n_right_cont", "rk")
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): per-doc
    log-likelihood ratio between a TARGET unigram LM and the overall
    SOURCE LM.

    (id, n_tokens, log_ratio) — log_ratio = Σ_tok log(p_target(tok) /
    p_source(tok)) with add-``smoothing`` estimates over the source
    vocabulary.  Docs resembling the target domain score high; feeding
    exp(log_ratio) into weighted_sample() is importance resampling.

    Shape at scale: two vocab aggregates (target LM is usually a small
    held-out set), the merged |vocab|-row ratio table broadcasts back
    onto one explode of the corpus, and per-doc sums aggregate on the
    doc id — no shuffle of raw text.
    """
    tok_src = df.select(
        F.col(id_col).alias("id"), F.explode(_tok_col(text_col)).alias("term")
    )
    src_counts = tok_src.groupBy("term").agg(F.count(F.lit(1)).alias("n_src"))
    tgt_counts = (
        target.select(F.explode(_tok_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_tgt"))
    )
    vocab = src_counts.join(tgt_counts, "term", "left").fillna(0, ["n_tgt"])
    # Totals are scalars (two tiny aggregates on the count tables).
    tot = vocab.agg(
        F.sum("n_src").alias("s"), F.sum("n_tgt").alias("t"),
        F.count(F.lit(1)).alias("v"),
    ).first()
    s_tot = float(tot["s"]) + smoothing * tot["v"]
    t_tot = float(tot["t"]) + smoothing * tot["v"]
    ratio = vocab.select(
        "term",
        (
            F.log((F.col("n_tgt") + smoothing) / F.lit(t_tot))
            - F.log((F.col("n_src") + smoothing) / F.lit(s_tot))
        ).alias("lr"),
    )
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    return (
        tok_src.join(F.broadcast(ratio), "term")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            r4(F.sum("lr")).alias("log_ratio"),
        )
    )


def span_dedup(
    df: DataFrame, id_col: str, text_col: str, span_w: int = 8
) -> DataFrame:
    """Span-level exact dedup: CCNet paragraph-hash / exact-substring
    dedup re-expressed over fixed ``span_w``-token windows (Lee et al.
    2022 shows repeated SPANS, not just repeated documents, dominate
    web-corpus duplication; CCNet drops duplicated paragraphs the same
    way).  Each doc splits into non-overlapping spans; a span survives
    only at its globally first occurrence (min (doc, pos) over every
    doc containing the same span text); docs are reconstructed from
    their surviving spans.

    (id, n_spans, kept_spans, clean_text), ordered by id.  A doc
    whose text normalizes to zero tokens carries no spans and is
    absent from the output (the oracle drops it identically).

    Shape at scale: one explode to |tokens|/span_w rows, the
    first-occurrence rule is an AGGREGATE (min struct per span) + join
    back — not a per-span-partition window sort, so a span duplicated
    a million times costs one map-side-combined min, never a
    million-row sort; reconstruction is one groupBy on the doc id.
    Reference parallel: exact canonical-hash dedup at doc grain
    (src/schema.sql:101) — this is its sub-document refinement.
    """
    from cqs_spark.functions.text import words

    toks = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), words(text_col).alias("_t")
    )
    n_sp = ((F.size("_t") + F.lit(span_w - 1)) / F.lit(span_w)).cast("int")
    idx = F.when(n_sp > 0, F.sequence(F.lit(0), n_sp - 1)).otherwise(
        F.array().cast("array<int>")
    )
    sp = toks.select(
        "_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.slice("_t", i * span_w + 1, F.lit(span_w))
                ),
            )
        ).alias("pos", "span"),
    )
    firsts = sp.groupBy("span").agg(
        F.min(F.struct(F.col("_id").alias("i"), F.col("pos").alias("p"))).alias("_w")
    )
    marked = sp.join(firsts, "span").withColumn(
        "kept",
        (F.col("_id") == F.col("_w.i")) & (F.col("pos") == F.col("_w.p")),
    )
    return (
        marked.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("kept").cast("long")).alias("kept_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"),
                                F.struct(
                                    F.col("pos").alias("p"),
                                    F.col("span").alias("s"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .withColumnRenamed("_id", id_col)
        .orderBy(id_col)
    )


def mixture_allocation(
    df: DataFrame,
    stratum_col: str,
    text_col: str,
    budget: int,
    epoch_cap: float = 2.0,
) -> DataFrame:
    """Temperature-weighted training-mixture allocation under an epoch
    cap — the domain-mixing step between mix_report (what exists) and
    stratified_sample (how to draw): target share per stratum is
    sqrt-token-count (α = 0.5 temperature sampling, the multilingual /
    multi-domain rebalancing rule), clipped so no stratum repeats more
    than ``epoch_cap`` epochs (the UniMax-style cap that stops small
    domains from over-epoching).

    (stratum, n_docs, n_tokens, weight_k, alloc_tokens, epochs).

    Engine-portable arithmetic: the α-weight is floor(sqrt(tokens)·1e3)
    as an INTEGER, so the normalizing sum is exact and the only float
    ops (one division, one floor) are identical across engines.  One
    tokenize pass + one groupBy; the weight total broadcasts back.
    """
    from cqs_spark.functions.text import words

    cells = (
        fan_out(df.select(stratum_col, text_col))
        .select(stratum_col, F.size(words(text_col)).cast("long").alias("_n"))
        .groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_n").alias("n_tokens"))
        .withColumn(
            "weight_k",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000).cast("long"),
        )
    )
    tot = cells.agg(F.sum("weight_k").alias("_W"))
    # NULLIF guards: a stratum of zero-token docs (or an all-empty
    # corpus) must yield NULL, not an ANSI DIVIDE_BY_ZERO job abort.
    quota = F.col("weight_k").cast("double") * F.lit(float(budget)) / F.nullif(
        F.col("_W").cast("double"), F.lit(0.0)
    )
    alloc = F.least(
        F.floor(F.lit(float(epoch_cap)) * F.col("n_tokens")), F.floor(quota)
    ).cast("long")
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            stratum_col,
            "n_docs",
            "n_tokens",
            "weight_k",
            alloc.alias("alloc_tokens"),
            r4(
                alloc / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0))
            ).alias("epochs"),
        )
        .orderBy(stratum_col)
    )


def shard_bucket(id_col: str, n_shards: int):
    """Deterministic shard assignment by the engine-portable
    multiplicative hash (same family as stratified_sample).

    High bits of the multiplicative hash, not the raw modulus: an
    odd constant is a bijection on the low k bits, so h % 2^k would
    collapse structured ids (all-even, stride-of-n_shards) into a
    fraction of the shards.  Dropping the low 16 bits first makes
    the shard depend on every bit of the id; /65536 is exact in
    doubles (product < 2^53, power-of-two divisor).  Shared by
    shard_plan and the shard writer/manifest
    (cqs_spark.operators.shards) so plan and placement never drift."""
    h = (F.col(id_col).cast("bigint") % 1000003) * F.lit(2654435761)
    return (F.floor(h / F.lit(65536)).cast("bigint") % n_shards).cast("int")


def shard_plan(
    df: DataFrame, id_col: str, text_col: str, n_shards: int = 16
) -> DataFrame:
    """Deterministic export-shard plan: assign every doc a shard by
    :func:`shard_bucket` and report per-shard balance — the table a
    training-data writer uses to emit evenly-sized, reproducible
    shards with no global sort and exactly one shuffle.

    (shard, n_docs, n_tokens, min_doc, max_doc, doc_share).
    """
    from cqs_spark.functions.text import words

    rows = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        shard_bucket(id_col, n_shards).alias("shard"),
        F.size(words(text_col)).cast("long").alias("_n"),
    )
    total = rows.agg(F.count(F.lit(1)).alias("_N"))
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    return (
        rows.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("n_tokens"),
            F.min("_id").alias("min_doc"),
            F.max("_id").alias("max_doc"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "min_doc",
            "max_doc",
            r4(F.col("n_docs") / F.col("_N").cast("double")).alias("doc_share"),
        )
        .orderBy("shard")
    )


def bigram_lm_score(
    df: DataFrame, id_col: str, text_col: str, smoothing: float = 0.5
) -> DataFrame:
    """Per-doc bigram-LM quality score against the corpus's own
    add-k-smoothed bigram model — the order-sensitive upgrade of
    unigram_xent (a KenLM-style perplexity filter sees scrambled or
    boilerplate token ORDER, which no unigram model can).

    p(b|a) = (c2(ab)+k) / (c1(a)+k·V); avg_logp = Σ tf·ln p / Σ tf;
    ppl = exp(−avg_logp).  (id, n_bigrams, avg_logp, ppl) — docs with
    fewer than two tokens carry no bigram and drop.

    Shape at scale: the per-doc bigram tf aggregate REUSES into the
    corpus model (groupBy bg over the tf table, not a second explode);
    the model joins back on the bigram key (shuffle join both sides,
    map-side-combined); the vocab size rides as a broadcast scalar.
    """
    from cqs_spark.functions.text import word_shingles_arr, words

    # toks feeds the bigram tf AND the unigram counts; tf feeds the
    # corpus model AND the per-doc scoring join — stage both so the
    # tokenize/explode lineage runs once per frame, not once per
    # consumer (multi-consumer staging, guide §1/§3.3).
    toks = stage(
        fan_out(df.select(id_col, text_col))
        .select(F.col(id_col).alias("_id"), words(text_col).alias("_t")),
        eager=True,
    )
    tf = stage(
        toks.select("_id", F.explode(word_shingles_arr("_t", 2)).alias("bg"))
        .groupBy("_id", "bg")
        .agg(F.count(F.lit(1)).alias("tf")),
        eager=True,
    )
    c2 = tf.groupBy("bg").agg(F.sum("tf").alias("n2"))
    uni = (
        toks.select(F.explode("_t").alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("_V"))
    model = (
        c2.withColumn("a", F.substring_index("bg", " ", 1))
        .join(uni, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.log(
                (F.col("n2") + F.lit(smoothing))
                / (F.col("n1") + F.lit(smoothing) * F.col("_V"))
            ).alias("lp"),
        )
    )
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    avg = F.sum(F.col("tf") * F.col("lp")) / F.sum("tf").cast("double")
    return (
        tf.join(model, "bg")
        .groupBy("_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            r4(avg).alias("avg_logp"),
            r4(F.exp(-avg)).alias("ppl"),
        )
        .withColumnRenamed("_id", id_col)
        .orderBy(id_col)
    )


def nb_confusion(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    smoothing: float = 1.0,
) -> DataFrame:
    """Self-train/self-test multinomial Naive Bayes over token counts
    — the classic distributed text classifier (the workhorse behind
    fastText-style language/quality routing when no wheel is
    available), trained and evaluated corpus-in-corpus-out as a label
    quality audit: how separable are the declared labels on token
    evidence alone?

    Returns the confusion matrix (label, pred_label, n_docs), ordered.
    Docs whose text tokenizes to zero terms carry no evidence and drop
    from the matrix (sum(n_docs) counts only non-empty docs).
    Prediction = argmax over classes of ln p(c) + Σ tf·ln p(w|c) with
    add-``smoothing`` estimates; scores are rounded in a DECIMAL
    domain before the argmax so the winner (ties → smallest label) is
    engine-exact.

    Shape at scale: model = |vocab|×|classes| rows (vocab × class
    cross join against the aggregated class counts — never against
    raw tokens); scoring joins per-doc tf on the term key and
    aggregates (doc, class) partials; the argmax is a |classes|-row
    window per doc.
    """
    from cqs_spark.functions.text import words

    k = float(smoothing)
    # tf feeds the class aggregate AND the scoring join; class_tf
    # feeds the vocab, the class totals, and the model join — stage
    # both so the tokenize+explode lineage runs once (guide §1/§3.3).
    # LAZY by measurement (r13 A/B: the two eager jobs serialized the
    # whole ladder at construction, q94 +0.76 s; per-block locking
    # keeps the concurrent consumers from duplicating work locally).
    tf = stage(
        fan_out(df.select(id_col, label_col, text_col))
        .select(
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("_y"),
            F.explode(words(text_col)).alias("term"),
        )
        .groupBy("_id", "_y", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    class_tf = stage(
        tf.groupBy("_y", "term")
        .agg(F.sum("tf").alias("ctf"))
    )
    vocab = class_tf.select("term").distinct()
    class_tot = class_tf.groupBy("_y").agg(F.sum("ctf").alias("_T"))
    v_size = vocab.agg(F.count(F.lit(1)).alias("_V"))
    priors = (
        df.groupBy(F.col(label_col).alias("_y"))
        .agg(F.count(F.lit(1)).alias("_pn"))
    )
    # Independent lineages for the totals/class list (self-joining the
    # aggregates would leave refs ambiguous), and column names that
    # stay distinct under Spark's default case-INSENSITIVE resolution
    # ("_n" vs "_N" collide).
    n_tot = df.agg(F.count(F.lit(1)).alias("_tot"))
    classes = df.select(F.col(label_col).alias("_y")).distinct()
    model = (
        vocab.crossJoin(classes)
        .join(class_tf, ["_y", "term"], "left")
        .fillna(0, ["ctf"])
        .join(class_tot, "_y")
        .crossJoin(F.broadcast(v_size))
        .select(
            F.col("_y").alias("_c"),
            "term",
            F.log(
                (F.col("ctf") + F.lit(k))
                / (F.col("_T") + F.lit(k) * F.col("_V"))
            ).alias("lp"),
        )
    )
    logprior = (
        priors.crossJoin(F.broadcast(n_tot))
        .select(
            F.col("_y").alias("_c"),
            F.log(F.col("_pn") / F.col("_tot").cast("double")).alias("lprior"),
        )
    )
    scores = (
        tf.join(model, "term")
        .groupBy("_id", "_y", "_c")
        .agg(F.sum(F.col("tf") * F.col("lp")).alias("_s"))
        .join(logprior, "_c")
        .select(
            "_id",
            "_y",
            "_c",
            F.round((F.col("_s") + F.col("lprior")).cast("decimal(30,10)"), 6)
            .alias("_sr"),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_sr"), "_c")
    pred = scores.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return (
        pred.groupBy("_y", "_c")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("_y").alias("label"),
            F.col("_c").alias("pred_label"),
            "n_docs",
        )
        .orderBy("label", "pred_label")
    )


def vocab_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pcts: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Vocabulary coverage curve: how many top-frequency terms cover
    X% of corpus tokens — the table a tokenizer-vocabulary-size or
    stopword-budget decision reads.

    (pct, n_terms, cum_tokens, total_tokens): for each requested
    percentile, the smallest rank (terms ordered tf desc, term asc)
    whose running token total reaches ceil(pct·total), plus that
    prefix's token count.  Thresholds are INTEGER (ceil of an exact
    double product), so membership never flips on float noise.

    Shape at scale: the window runs over the aggregated VOCABULARY
    (|vocab| rows), never raw tokens; the percentile table is a
    literal-sized cross join.
    """
    from cqs_spark.functions.text import words

    tf = (
        fan_out(df.select(id_col, text_col))
        .select(F.explode(words(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.orderBy(F.desc("tf"), "term")
    ranked = tf.select(
        "term",
        "tf",
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("tf").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    total = tf.agg(F.sum("tf").alias("_total"))
    pct_df = df.sparkSession.createDataFrame(
        [(float(p),) for p in sorted(pcts)], "pct double"
    )
    hit = (
        ranked.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(pct_df))
        .filter(F.col("cum") >= F.ceil(F.col("pct") * F.col("_total")))
        .groupBy("pct")
        .agg(
            F.min("rank").alias("n_terms"),
            F.min("cum").alias("cum_tokens"),
            F.min("_total").alias("total_tokens"),
        )
    )
    return hit.orderBy("pct")


def budget_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stratum_col: str,
    budget: int,
) -> DataFrame:
    """Per-stratum budgeted quality selection: rank each stratum's
    docs by the q32 composite quality (desc, id tiebreak) and keep
    the prefix whose running token total fits ``budget`` — the
    "best docs first until the domain budget is spent" selection rule
    that turns quality scores + a mixture allocation into an actual
    training set.

    (id, stratum, quality, n_tokens, cum), ordered.

    The ranking key is the DECIMAL-rounded quality from
    quality_features, so prefix membership is engine-exact; the
    window partitions by stratum (parallel across strata — the
    running sum is sequential only within one domain's ranking,
    which is the semantics, not a shuffle accident).
    """
    q = quality_features(
        df.select(id_col, stratum_col, text_col), id_col, text_col
    ).select(id_col, "n_tokens", "quality")
    rows = df.select(F.col(id_col), F.col(stratum_col).alias("stratum")).join(
        q, id_col
    )
    w = (
        Window.partitionBy("stratum")
        .orderBy(F.desc("quality"), id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rows.withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= budget)
        .select(id_col, "stratum", "quality", "n_tokens", "cum")
        .orderBy("stratum", F.desc("quality"), id_col)
    )


def learn_bpe(df: DataFrame, text_col: str, num_merges: int = 8) -> DataFrame:
    """Distributed BPE merge learning (Sennrich et al. 2016): the
    tokenizer-training step of a data pipeline, run corpus-side.

    One corpus-wide shuffle builds the word-frequency table; every
    subsequent iteration runs on that vocab-bounded frame (|vocab| ≪
    corpus — the reason BPE training scales to 100 TB: the corpus is
    touched exactly once).  Per merge round: adjacent-pair counts are
    a map-side-combinable hash aggregate; the argmax (max count, then
    lexicographically smallest pair — the deterministic tie-break) is
    one driver scalar, the same bounded-collect pattern as
    graph.label_propagation's convergence probe; the merge itself is a
    left-to-right greedy fold per word (array `aggregate`, JVM-side,
    non-overlapping like the reference algorithm).  Staging
    per round truncates the nested-fold lineage.

    Returns (step, left_sym, right_sym, weight) — the learned merge
    table, ready to broadcast into an apply-BPE pass.
    """
    spark = df.sparkSession
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    # Lazy checkpoints through the merge loop: each round's argmax
    # (.first() below) is the action that materializes the current
    # units — eager spent a SEPARATE job per round on the same blocks,
    # and the final round's units (never consumed again) cost a whole
    # wasted pass.
    units = stage(
        words.select(
            "w", "f", F.expr("regexp_extract_all(w, '.', 0)").alias("syms")
        )
    )
    merges: list[tuple] = []
    for step in range(num_merges):
        pairs = units.select(
            "f",
            F.explode(
                F.expr(
                    "transform(slice(syms, 1, size(syms) - 1),"
                    " (x, i) -> struct(x AS a, element_at(syms, i + 2) AS b))"
                )
            ).alias("p"),
        ).select("f", "p.a", "p.b")
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("f").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .first()
        )
        if best is None:
            break
        a, b = best["a"], best["b"]
        merges.append((step, a, b, int(best["cnt"])))
        la, lb, lm = F.lit(a), F.lit(b), F.lit(a + b)
        units = stage(
            units.withColumn(
                "syms",
                F.aggregate(
                    F.slice("syms", F.lit(2), F.size("syms") - 1),
                    F.slice("syms", F.lit(1), F.lit(1)),
                    lambda acc, x: F.when(
                        (F.element_at(acc, -1) == la) & (x == lb),
                        F.concat(
                            F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(lm)
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ),
            )
        )
    return spark.createDataFrame(
        merges, "step long, left_sym string, right_sym string, weight long"
    )


def apply_bpe(df: DataFrame, word_col: str, merges: list) -> DataFrame:
    """Segment a word column with a learned BPE merge list.

    Applies each (left, right) merge in rank order as a JVM-side
    left-to-right greedy array fold — identical semantics to the
    training-time merge, so apply(learn(corpus)) reproduces the
    trainer's final symbol table exactly.  The merge list is bounded
    (tokenizer-sized) and compiles into the plan as literals: one
    nested column expression, no shuffle, no Python in the loop.

    Adds `tokens`: the space-joined subword segmentation.
    """
    out = df.withColumn(
        "_syms", F.expr(f"regexp_extract_all({word_col}, '.', 0)")
    )
    for a, b in merges:
        la, lb, lm = F.lit(a), F.lit(b), F.lit(a + b)
        out = out.withColumn(
            "_syms",
            F.aggregate(
                F.slice("_syms", F.lit(2), F.size("_syms") - 1),
                F.slice("_syms", F.lit(1), F.lit(1)),
                lambda acc, x: F.when(
                    (F.element_at(acc, -1) == la) & (x == lb),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(lm)
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ),
        )
    return out.withColumn("tokens", F.concat_ws(" ", "_syms")).drop("_syms")


def source_cap(
    docs: DataFrame,
    id_col: str,
    source_col: str,
    cap: int,
    order_col: str | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Per-source document caps (domain caps): keep at most ``cap``
    docs per source, preferring the highest ``order_col`` (quality,
    length) with deterministic id tie-break — the CommonCrawl-style
    guard against a single domain dominating a training corpus.
    Without ``order_col`` the kept set is the ``cap`` smallest ids
    (pure arrival-order cap).

    Skew is the whole problem here — domain distributions are Zipfian,
    and a single window over ``source_col`` sorts the mega-domain's
    millions of rows in one task.  So the top-``cap`` runs TWO-PHASE:
    phase 1 ranks within (source, salt) where salt = xxhash64(id) mod
    ``n_salts`` — the mega-domain's sort splits across ``n_salts``
    tasks — and keeps each salted group's top-``cap``; phase 2 ranks
    the surviving ≤ ``n_salts``·``cap`` rows per source exactly.  The
    global top-``cap`` of a source is always contained in the union of
    its salted top-``cap``s, so the result is EXACTLY the single-window
    answer (the oracle pins this: its SQL is the naive one-window
    form).  The salt never touches the output — only which task sorts
    which rows — so results are stable across runs and partitionings.

    Returns the kept rows with ``src_rank`` in [1, cap] appended.
    """
    order = (
        [F.col(order_col).desc()] if order_col is not None else []
    ) + [F.col(id_col).asc()]
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    w1 = Window.partitionBy(F.col(source_col), salt).orderBy(*order)
    pruned = (
        docs.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
        .drop("_r1")
    )
    w2 = Window.partitionBy(source_col).orderBy(*order)
    return pruned.withColumn(
        "src_rank", F.row_number().over(w2).cast("long")
    ).filter(F.col("src_rank") <= cap)


def _gram_arrays(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    keep_tokens: bool = False,
) -> DataFrame:
    """Per-document gram frame: (id, _g) where ``_g[pos]`` is the md5
    of the k-token window starting at 0-based token offset ``pos``
    (``keep_tokens=True`` also carries the token array ``_t``).

    ONE ROW PER DOCUMENT: the tokenize + hash work happens once here,
    and every consumer (positional windows via ``posexplode``, per-doc
    distinct gram sets via ``array_distinct`` + ``explode``, the strip
    APPLY via array ops on ``_t``) derives narrowly from this frame —
    so staging it stages the whole family's expensive kernel in its
    most compact form (no exploded rows)."""
    from cqs_spark.functions.text import words

    toks = fan_out(
        docs.select(id_col, text_col),
        bytes_per_task=_HASH_KERNEL_BYTES_PER_TASK,
    ).select(id_col, words(text_col).alias("_t"))
    n_w = F.size("_t") - (k - 1)
    idx = F.when(n_w > 0, F.sequence(F.lit(0), n_w - 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("_t"), i + 1, k)))
    )
    cols = [id_col, "_t", grams.alias("_g")] if keep_tokens else [
        id_col, grams.alias("_g")
    ]
    return toks.select(*cols)


def _windows_from_grams(gf: DataFrame, id_col: str) -> DataFrame:
    """(id, pos, h): positional window explode of a gram frame."""
    return gf.select(
        id_col, F.posexplode("_g").alias("pos", "h")
    ).select(id_col, F.col("pos").cast("long").alias("pos"), "h")


def _kgram_windows(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, h): md5 of every positional k-token window per doc.

    Positions are 0-based token offsets over the house tokenizer
    (``words``), so passage spans line up with every other token-level
    operator.  Fan-out before the explosion, like ``shingles``.
    """
    return _windows_from_grams(
        _gram_arrays(docs, id_col, text_col, k), id_col
    )


def _kgram_set(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, h): the per-document DISTINCT k-gram hashes, deduped with
    ``array_distinct`` BEFORE the explode — each document is one input
    row, so per-row array dedup equals the (id, h) distinct without
    shuffling the exploded gram frame (same trick as dedup.shingles).
    Use instead of ``_kgram_windows(...).select(id, h).distinct()``
    wherever positions are not needed."""
    return _gram_arrays(docs, id_col, text_col, k).select(
        id_col, F.explode(F.array_distinct("_g")).alias("h")
    )


def _duplicate_windows_from_grams(gf: DataFrame, id_col: str) -> DataFrame:
    """(id, pos) of every k-gram window whose gram also occurs in an
    earlier document (min doc id owns the first occurrence) — the
    shared DETECT core of ``duplicate_passages`` and
    ``passage_scrub``, so the first-occurrence rule lives in exactly
    one place.  ``gf`` should be a STAGED ``_gram_arrays`` frame: both
    window legs (first-occurrence aggregate + the join back) re-derive
    the explode narrowly from it."""
    wg = _windows_from_grams(gf, id_col)
    first = wg.groupBy("h").agg(F.min(id_col).alias("_fdoc"))
    return (
        wg.join(first, "h")
        .filter(F.col(id_col) > F.col("_fdoc"))
        .select(id_col, "pos")
    )


def duplicate_passages(
    docs: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Cross-document exact substring dedup, DETECT step (the
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better" ExactSubstr shape): maximal token spans of a document whose
    every ``k``-gram window also occurs in an EARLIER document (min
    doc id owns the first occurrence).  Same-document repeats are not
    flagged — this is the cross-doc memorization guard, not the
    within-doc repetition gate (``repetition_stats`` owns that).

    Returns (id, start_tok, end_tok, n_tokens): half-open 0-based
    token spans, overlapping/adjacent duplicate windows merged via
    gaps-and-islands.  Equal-length windows sorted by position make
    the island break a pure LAG comparison (pos > prev + k), no
    running-max frame needed.

    Scale shape: the k-gram explosion is linear in corpus tokens; the
    first-occurrence groupBy is map-side combinable (min agg); the
    join back keys on the gram hash (shuffle, linear); the island
    merge collects each document's flagged window starts into one
    sorted array (bounded by document length, never corpus size) and
    splits it with LINEAR per-row expressions — no window sort, no
    second aggregate exchange.  A 100 TB corpus runs exactly this plan
    with the gram table optionally staged to parquet for the APPLY
    pass (``passage_scrub``) to reuse.
    """
    gf = stage(_gram_arrays(docs, id_col, text_col, k), eager=True)
    dup = _duplicate_windows_from_grams(gf, id_col)
    return _merge_islands(dup, id_col, k)


def _merge_islands(dup: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge flagged (id, pos) k-windows into maximal spans: one
    groupBy collects each doc's sorted window starts, then the island
    boundaries fall out of two index-aware array filters (an element
    STARTS an island iff it is first or > prev + k; ENDS one iff it is
    last or the next element > it + k — the same break predicate the
    LAG formulation pins, O(n) per doc instead of a window sort plus a
    second aggregate).  ``F.get`` is 0-based and yields null out of
    range, and `true OR null` is true, so the boundary rows need no
    special-casing."""
    ps = F.col("_ps")
    starts = F.filter(
        ps, lambda p, i: (i == 0) | (p > F.get(ps, i - 1) + k)
    )
    ends = F.filter(
        ps, lambda p, i: (i == F.size(ps) - 1) | (F.get(ps, i + 1) > p + k)
    )
    spans = F.zip_with(
        starts, ends, lambda s, e: F.struct(
            s.alias("start_tok"), (e + k).alias("end_tok")
        )
    )
    return (
        dup.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_ps"))
        .select(id_col, F.explode(spans).alias("_sp"))
        .select(
            id_col,
            F.col("_sp.start_tok").alias("start_tok"),
            F.col("_sp.end_tok").alias("end_tok"),
            (F.col("_sp.end_tok") - F.col("_sp.start_tok")).alias(
                "n_tokens"
            ),
        )
    )


def sentence_units(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sentence segmentation into NORMALIZED dedup units: split on
    ``[.!?]+`` runs, normalize each piece with the house rules
    (lowercase, non-alnum → space), keep non-empty pieces.

    (id, sidx, sent_norm, n_tokens) where ``sidx`` is the piece's
    0-based position in the ORIGINAL split — stable under filtering,
    so flagged indexes map back to the raw text.  RE2-safe boundary
    (no lookbehind), so the identical split runs in DuckDB.  Pure
    column expressions + one posexplode — linear in corpus characters.
    """
    df = fan_out(docs.select(id_col, text_col))
    pieces = F.split(F.col(text_col), "[.!?]+")
    ex = df.select(id_col, F.posexplode(pieces).alias("sidx", "_raw"))
    toks = F.filter(
        F.split(F.lower(F.regexp_replace("_raw", "[^A-Za-z0-9 ]", " ")), " +"),
        lambda t: F.length(t) >= 1,
    )
    return ex.select(
        F.col(id_col),
        F.col("sidx").cast("long").alias("sidx"),
        F.concat_ws(" ", toks).alias("sent_norm"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)


def duplicate_sentences(
    docs: DataFrame, id_col: str, text_col: str, min_tokens: int = 5
) -> DataFrame:
    """Cross-document exact dedup at SENTENCE granularity, DETECT step
    — the sentence-level variant of the ExactSubstr recipe
    (:func:`duplicate_passages` owns the token-span variant): sentences
    of >= ``min_tokens`` tokens whose normalized text already occurs in
    an EARLIER document (min doc id owns the first occurrence).
    Same-document repeats are not flagged — the cross-doc memorization
    guard, not the within-doc repetition gate.

    Returns (id, sidx, n_tokens).  ``min_tokens`` keeps conversational
    shorts ("ok", "thanks") out of the dedup key space — below it a
    sentence can never be flagged.

    Scale shape: one posexplode linear in corpus sentences; the
    first-occurrence groupBy is map-side combinable on an md5 key (a
    fixed-width shuffle key instead of raw sentence strings); the join
    back keys on the same hash.  No window, no all-pairs anything.
    """
    return _duplicate_from_units(
        sentence_units(docs, id_col, text_col), id_col, min_tokens
    )


def _duplicate_from_units(
    units: DataFrame, id_col: str, min_tokens: int
) -> DataFrame:
    """DETECT core of :func:`duplicate_sentences` over an
    already-built sentence-unit frame, so :func:`sentence_scrub` can
    segment the corpus ONCE for both the detect and the apply legs.
    The candidate frame is staged: it feeds the first-occurrence
    aggregate AND the join back (two consumers)."""
    cand = stage(
        units.filter(F.col("n_tokens") >= min_tokens)
        .withColumn("h", F.md5("sent_norm")),
        eager=True,
    )
    first = cand.groupBy("h").agg(F.min(id_col).alias("_fdoc"))
    return (
        cand.join(first, "h")
        .filter(F.col(id_col) > F.col("_fdoc"))
        .select(id_col, "sidx", "n_tokens")
    )


def sentence_scrub(
    docs: DataFrame, id_col: str, text_col: str, min_tokens: int = 5
) -> DataFrame:
    """Sentence-level ExactSubstr, APPLY step: drop every flagged
    duplicate sentence (first-occurrence document keeps its text) and
    reassemble the survivors in order over the NORMALIZED sentence
    stream.  Sentences below ``min_tokens`` are never candidates, so
    they always survive; documents whose every sentence is flagged
    drop out of the result.

    Returns (id, kept_text, kept_sentences, dropped_sentences).
    """
    # Segment ONCE (staged): the unit frame feeds the detect leg and
    # the reassembly — previously the split ran three times (once here
    # plus twice inside duplicate_sentences' two consumers).
    sents = stage(sentence_units(docs, id_col, text_col), eager=True)
    dup = _duplicate_from_units(sents, id_col, min_tokens)
    return _reassemble_sentences(sents, dup, id_col)


def _reassemble_sentences(
    sents: DataFrame, flagged: DataFrame, id_col: str
) -> DataFrame:
    """(id, kept_text, kept_sentences, dropped_sentences) from a
    sentence-unit frame minus the flagged (id, sidx) rows — the shared
    APPLY tail of :func:`sentence_scrub` and the streaming incremental
    sentence scrub (cqs_spark.streaming.maintain.curate_arrivals).

    One aggregate over the unit frame collects each doc's ordered
    sentences; the flagged stream groups into one index array per doc
    and the drop is an in-row array filter — previously the unit frame
    was shuffled three times (total groupBy, anti-join, kept groupBy).
    """
    farr = flagged.select(id_col, "sidx").groupBy(id_col).agg(
        F.collect_set("sidx").alias("_fs")
    )
    per = sents.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("sidx", "sent_norm"))
        ).alias("_all"),
        F.count(F.lit(1)).alias("_total"),
    )
    fs = F.coalesce(F.col("_fs"), F.array().cast("array<bigint>"))
    kept = F.filter(
        F.col("_all"), lambda s: ~F.array_contains(fs, s["sidx"])
    )
    return (
        per.join(farr, id_col, "left")
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.transform(kept, lambda s: s["sent_norm"])
            ).alias("kept_text"),
            F.size(kept).cast("long").alias("kept_sentences"),
            (F.col("_total") - F.size(kept)).alias("dropped_sentences"),
        )
        .filter(F.col("kept_sentences") >= 1)
    )


def passage_scrub(
    docs: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Cross-document exact substring dedup, APPLY step: drop every
    token covered by a duplicated ``k``-gram window (first-occurrence
    document keeps its text untouched) and reassemble the survivor
    tokens in order.

    Covered positions are computed PER DOCUMENT: the flagged window
    starts aggregate into one array per doc (the only shuffle of the
    flag stream), expand to covered offsets with ``flatten(transform(
    sequence))``, and the survivors fall out of one ``array_except``
    over the doc's own token indexes — the token stream itself is
    never exploded, anti-joined or re-grouped.  Documents whose every
    token is covered drop out of the result (nothing left to keep);
    documents with no duplicated windows pass through rebuilt from
    their own tokens.  Returns (id, kept_text, kept_tokens,
    dropped_tokens) over the normalized token stream.
    """
    gf = stage(
        _gram_arrays(docs, id_col, text_col, k, keep_tokens=True), eager=True
    )
    dup = _duplicate_windows_from_grams(gf, id_col)
    return _strip_from_toks(gf, dup, id_col, k)


def _strip_windows(
    docs: DataFrame, flagged: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Drop every token covered by a flagged (id, pos) k-window and
    reassemble the survivors in order: (id, kept_text, kept_tokens,
    dropped_tokens).  Shared APPLY tail of ``passage_scrub`` and
    ``strip_boilerplate`` (and the streaming incremental scrub)."""
    from cqs_spark.functions.text import words

    toks = fan_out(docs.select(id_col, text_col)).select(
        id_col, words(text_col).alias("_t")
    )
    return _strip_from_toks(toks, flagged, id_col, k)


def _strip_from_toks(
    toks: DataFrame, flagged: DataFrame, id_col: str, k: int
) -> DataFrame:
    """APPLY core of :func:`_strip_windows` over an already-tokenized
    (id, _t) frame, entirely with per-document array expressions:

    - the flagged (id, pos) stream groups into one window-start array
      per doc (its only shuffle — k× smaller than exploding covered
      positions, and map-side combinable);
    - covered offsets = ``flatten(transform(starts, sequence))``,
      survivors = ``array_except(all_idx, covered)`` — a hash-set
      difference that PRESERVES the left argument's order, so the
      ordered reassembly needs no sort and no collect_list;
    - one join back to the token frame on the doc id.

    Shuffle count: 2 (flag groupBy + the join) vs the exploded form's
    4 over the full token stream (cov distinct, anti-join, collect
    groupBy, total groupBy).
    """
    cov_starts = flagged.groupBy(id_col).agg(
        F.collect_set("pos").alias("_ws")
    )
    n = F.size("_t").cast("long")
    all_idx = F.when(
        n > 0, F.sequence(F.lit(0).cast("long"), n - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    covered = F.coalesce(
        F.flatten(
            F.transform(
                F.col("_ws"), lambda w: F.sequence(w, w + (k - 1))
            )
        ),
        F.array().cast("array<bigint>"),
    )
    kept = F.transform(
        F.array_except(all_idx, covered),
        lambda i: F.get(F.col("_t"), i.cast("int")),
    )
    return (
        toks.join(cov_starts, id_col, "left")
        .select(
            F.col(id_col),
            F.concat_ws(" ", kept).alias("kept_text"),
            F.size(kept).cast("long").alias("kept_tokens"),
            (n - F.size(kept)).alias("dropped_tokens"),
        )
        .filter(F.col("kept_tokens") >= 1)
    )


# C0 controls minus \t\n\r, the UTF-8 replacement char (the mojibake
# tell), and the zero-width family (ZWSP/ZWNJ/ZWJ/BOM-in-body) — the
# encoding-damage classes a pretraining ingest strips before anything
# else tokenizes them into the vocab.
_CTL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
_REPL_CLASS = "[\\uFFFD]"
_ZW_CLASS = "[\\u200B-\\u200D\\uFEFF]"
_HYGIENE_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\uFFFD\\u200B-\\u200D\\uFEFF]"


def unicode_hygiene(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Encoding-damage scan: per doc, counts of control characters
    (C0 minus tab/newline/CR), U+FFFD replacement characters (decoder
    damage already baked into the bytes), and zero-width characters,
    plus their combined share of the text.

    (id, n_control, n_replacement, n_zero_width, bad_ratio).  Counts
    are length-difference expressions (len(text) − len(text with the
    class stripped)) — pure JVM regex, one projection, no shuffle.
    """
    df = fan_out(df)
    ln = F.length(text_col)

    def n_of(cls):
        return (ln - F.length(F.regexp_replace(text_col, cls, ""))).cast("long")

    n_ctl, n_repl, n_zw = n_of(_CTL_CLASS), n_of(_REPL_CLASS), n_of(_ZW_CLASS)
    bad = (n_ctl + n_repl + n_zw).cast("double") / F.nullif(
        ln.cast("double"), F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        n_ctl.alias("n_control"),
        n_repl.alias("n_replacement"),
        n_zw.alias("n_zero_width"),
        F.round(F.coalesce(bad, F.lit(0.0)).cast("decimal(30,10)"), 4)
        .cast("double")
        .alias("bad_ratio"),
    )


def unicode_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Strip the encoding-damage classes (see :func:`unicode_hygiene`)
    in place: (id, text) with controls / U+FFFD / zero-widths removed.
    Tab, newline and CR survive — they are structure, not damage."""
    df = fan_out(df)
    return df.select(
        F.col(id_col),
        F.regexp_replace(text_col, _HYGIENE_CLASS, "").alias(text_col),
    )


def ngram_novelty(
    docs: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Per-document novelty: the share of a doc's DISTINCT ``k``-grams
    that appear in NO other document — the inverse of the duplication
    diagnostics, used to up-weight genuinely fresh material (or flag
    all-boilerplate docs at novelty ~0).

    (id, total_grams, novel_grams, novelty).  Docs too short to form a
    single k-gram drop out (no gram evidence either way).  Scale
    shape: one k-gram explode + distinct (linear in corpus tokens),
    one map-side-combinable doc-frequency aggregate on the gram hash,
    one join back on the same hash — no window, nothing quadratic.
    """
    # Per-doc distinct grams without the post-explode shuffle
    # (array_distinct pre-explode; see _kgram_set).  Staged once: the
    # frame feeds both the doc-frequency aggregate and the join back.
    wg = stage(_kgram_set(docs, id_col, text_col, k), eager=True)
    docfreq = wg.groupBy("h").agg(F.count(F.lit(1)).alias("_nd"))
    per = (
        wg.join(docfreq, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.sum((F.col("_nd") == 1).cast("long")).alias("novel_grams"),
        )
    )
    nov = F.col("novel_grams").cast("double") / F.col("total_grams").cast(
        "double"
    )
    return per.select(
        id_col,
        "total_grams",
        "novel_grams",
        F.round(nov.cast("decimal(30,10)"), 4).cast("double").alias("novelty"),
    )


def source_leakage(
    docs: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Cross-source contamination diagnostic: for every pair of
    sources, how many DISTINCT ``k``-grams they share, plus the overlap
    coefficient shared / min(|A|, |B|) — the number a data-pipeline
    owner checks before treating two crawls/dumps as independent (a
    high coefficient means one source is substantially contained in
    the other, so per-source quotas and dedup budgets must treat them
    as one).

    Returns (source_a, source_b, shared_grams, overlap), source_a <
    source_b, only pairs that share at least one gram.

    Scale shape: one k-gram explode (linear in corpus tokens) → one
    distinct (source, gram) projection (map-side combinable) → a
    self-join keyed on the gram hash.  Per-gram fan-out is bounded by
    the number of SOURCES carrying that gram (≤ n_sources choose 2 per
    gram, never documents²), and the output is at most n_sources² rows
    — a diagnostics-sized frame regardless of corpus size.
    """
    # Per-doc pre-dedup (_kgram_set) shrinks the cross-doc distinct's
    # input and skips the unused position computation; the (source, h)
    # distinct across documents still runs (it must).  Staged: three
    # consumers (per-source totals + both sides of the self-join).
    grams = stage(
        _kgram_set(docs, id_col, text_col, k)
        .join(docs.select(id_col, source_col), id_col)
        .select(source_col, "h")
        .distinct(),
        eager=True,
    )
    n = grams.groupBy(source_col).agg(F.count(F.lit(1)).alias("_ng"))
    a = grams.select(F.col(source_col).alias("source_a"), "h")
    b = grams.select(F.col(source_col).alias("source_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    na = n.select(F.col(source_col).alias("source_a"), F.col("_ng").alias("_na"))
    nb = n.select(F.col(source_col).alias("source_b"), F.col("_ng").alias("_nb"))
    overlap = F.col("shared_grams").cast("double") / F.least(
        "_na", "_nb"
    ).cast("double")
    return (
        shared.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            F.round(overlap.cast("decimal(30,10)"), 4)
            .cast("double")
            .alias("overlap"),
        )
    )


def boilerplate_ngrams(
    docs: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    k: int = 3,
    min_frac: float = 0.6,
) -> DataFrame:
    """Per-source boilerplate detection (the CCNet/template-removal
    stage): k-gram windows that appear in at least ``min_frac`` of a
    source's documents are boilerplate — headers, footers, navigation,
    unsubscribe lines — and should be stripped from EVERY document of
    that source, first occurrence included (which is exactly what
    separates this from dedup: dedup keeps the first copy, boilerplate
    removal keeps none).

    Returns (source, h, doc_frac).  Scale shape: per-doc gram dedup is
    an in-row ``array_distinct`` (no shuffle — each doc is one row),
    the doc-frequency aggregation is map-side combinable and linear in
    corpus tokens; nothing is quadratic in documents, and the
    boilerplate table itself is small by construction (only
    high-frequency grams survive), so the APPLY join can broadcast it.
    """
    gs = _kgram_set(docs, id_col, text_col, k)
    src = docs.select(id_col, source_col)
    return _boilerplate_from_sets(gs, src, id_col, source_col, min_frac)


def _boilerplate_from_sets(
    gs: DataFrame,
    src: DataFrame,
    id_col: str,
    source_col: str,
    min_frac: float,
) -> DataFrame:
    """(source, h, doc_frac) from a PER-DOC DISTINCT gram frame
    (``_kgram_set`` shape: one (id, h) row per doc carrying the gram)
    — the DETECT core shared with ``strip_boilerplate``.  Because
    (id, h) rows are already unique, the per-(source, gram) document
    count is a plain ``count`` — the old positional-window form paid
    an extra full (source, h, id) distinct exchange first."""
    per_src = src.groupBy(source_col).agg(
        F.countDistinct(id_col).alias("_nd")
    )
    counts = (
        gs.join(src, id_col)
        .groupBy(source_col, "h")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        counts.join(per_src, source_col)
        .filter(F.col("_c") >= min_frac * F.col("_nd"))
        .select(
            source_col,
            "h",
            (F.col("_c") / F.col("_nd")).alias("doc_frac"),
        )
    )


def strip_boilerplate(
    docs: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    k: int = 3,
    min_frac: float = 0.6,
) -> DataFrame:
    """APPLY step of :func:`boilerplate_ngrams`: drop every token
    covered by one of its source's boilerplate k-grams and reassemble
    the survivors — from ALL documents, first occurrence included.
    Returns (id, kept_text, kept_tokens, dropped_tokens).

    The per-doc gram frame is built ONCE (checkpointed, WITH the token
    arrays) and feeds the detect aggregation, the covered-window join
    and the strip reassembly — the tokenize + hash kernel is the
    dominant linear cost, so the apply path must not pay it twice
    (previously the strip tail re-tokenized the corpus from scratch).
    """
    gf = stage(
        _gram_arrays(docs, id_col, text_col, k, keep_tokens=True), eager=True
    )
    src = docs.select(id_col, source_col)
    gs = gf.select(id_col, F.explode(F.array_distinct("_g")).alias("h"))
    bp = _boilerplate_from_sets(
        gs, src, id_col, source_col, min_frac
    ).select(source_col, "h")
    flagged = (
        _windows_from_grams(gf, id_col)
        .join(src, id_col)
        .join(F.broadcast(bp), [source_col, "h"])
        .select(id_col, "pos")
    )
    return _strip_from_toks(gf, flagged, id_col, k)


def url_dedup(docs: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """URL-level dedup: one row per canonical URL with the min-id
    keeper and the duplicate count — run BEFORE any content pass (the
    cheapest dedup a web corpus gets; same page, million spellings).
    Map-side-combinable groupBy on the canonicalized key; the
    canonicalization itself is pure JVM string expressions."""
    from cqs_spark.functions.text import canonical_url

    return (
        docs.select(
            F.col(id_col).alias("id"),
            canonical_url(F.col(url_col)).alias("canon_url"),
        )
        .groupBy("canon_url")
        .agg(
            F.min("id").alias("keeper"),
            F.count(F.lit(1)).alias("dupes"),
        )
    )
