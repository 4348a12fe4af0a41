"""End-to-end corpus curation: the training-data pipeline composition.

The capstone over the operator library — what a 100 TB pretraining
ingest actually runs, in order:

  1. language filter       (textops.langid — keep target languages)
  2. quality floor         (textops.quality_features — drop junk)
  3. Gopher rule gate      (textops.gopher_rules — published word/
                            length/symbol/stopword thresholds)
  4. repetition gate       (textops.repetition_stats — C4-style
                            repeated-n-gram spam/boilerplate cut)
  5. exact dedup           (dedup.exact_dedup — canonical-hash keepers)
  6. near dedup            (dedup.dedup_corpus — MinHash+LSH clusters)
  6b. ExactSubstr scrub    (optional: textops.passage_scrub /
                            sentence_scrub — strip residual cross-doc
                            spans the doc-level dedup can't reach)
  7. PII scrub             (textops.pii_scrub — typed redaction on the
                            survivors only, the cheapest place)
  8. report                (per-stage survivor counts + token totals)

Stage order is the cost order: cheap row-local filters first shrink
the corpus before the shuffling dedup stages; exact dedup before near
dedup so identical documents never reach the shingle pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cqs_spark.functions.text import bpe_token_count
from cqs_spark.operators.dedup import dedup_corpus, exact_dedup
from cqs_spark.operators.textops import (
    gopher_rules,
    injection_scan,
    lang_confidence,
    pii_scrub,
    quality_features,
    repetition_stats,
)
from cqs_spark.staging import stage


def gate_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    max_dup_ratio: float = 0.3,
    gopher_min_words: int = 20,
    gopher_min_stops: int = 1,
    min_lang_confidence: float = 0.0,
    flag_injection: bool = False,
) -> DataFrame:
    """The row-local gate pass of the curation ladder, as FLAG columns.

    Returns ``docs`` plus cumulative booleans ``_lang_ok``/``_q_ok``/
    ``_g_ok``/``_rep_ok``/``_inj_ok`` (each implies the previous — the
    ladder order).  Shared by batch :func:`curate` and the streaming
    :func:`cqs_spark.streaming.maintain.curate_arrivals` so the two
    ladders cannot drift on gate semantics: a document passes the
    streaming gates iff it passes the batch gates.

    ``min_lang_confidence`` rejects documents whose predicted language
    carries less than this share of the total stopword evidence (the
    q142 confidence) — the "argmax named SOME language by tie-break
    but there is no real evidence" case.  0.0 (default) disables the
    threshold: confidence is always >= 0.

    ``flag_injection`` adds the prompt-injection directive gate
    (:func:`cqs_spark.operators.textops.injection_scan`, the
    reference's src/llm/validation.rs scan turned corpus-side): a
    document whose text carries a line-leading context-wipe directive
    is cut.  Only the ``leading_directive`` signal gates — training
    documents legitimately contain code fences and URLs.  Off by
    default (``_inj_ok`` degenerates to ``_rep_ok``): directive-shaped
    lines are rare enough that most ladders only want them REPORTED
    (release_audit's ``injection`` row), not silently dropped.
    """
    lang_ok = F.col("pred_lang").isin(*keep_langs) & (
        F.col("confidence") >= min_lang_confidence
    )
    rep = repetition_stats(
        docs, id_col, text_col, max_dup_ratio=max_dup_ratio
    ).select(id_col, F.col("keep").alias("_low_rep"))
    # min_stop_hits defaults to 1 here (vs the published 2 in q79):
    # the synthetic corpus is stopword-poor and the ladder's quality
    # floor already screens on stop_ratio; real English prose passes
    # either setting.
    gopher = gopher_rules(
        docs, id_col, text_col,
        min_words=gopher_min_words, min_stop_hits=gopher_min_stops,
    ).select(id_col, F.col("keep").alias("_gopher_ok"))
    out = (
        docs.join(lang_confidence(docs, id_col, text_col), id_col)
        .join(
            quality_features(docs, id_col, text_col).select(id_col, "quality"),
            id_col,
        )
        .join(gopher, id_col)
        .join(rep, id_col)
        .withColumn("_lang_ok", lang_ok)
        .withColumn("_q_ok", lang_ok & (F.col("quality") >= min_quality))
        .withColumn("_g_ok", F.col("_q_ok") & F.col("_gopher_ok"))
        .withColumn("_rep_ok", F.col("_g_ok") & F.col("_low_rep"))
    )
    if flag_injection:
        inj = injection_scan(docs, id_col, text_col).select(
            id_col, F.col("leading_directive").alias("_directive")
        )
        out = out.join(inj, id_col).withColumn(
            "_inj_ok", F.col("_rep_ok") & ~F.col("_directive")
        ).drop("_directive")
    else:
        # Identity stage when off: downstream (curate, the streaming
        # twin, gate_report) filters/counts on _inj_ok unconditionally.
        out = out.withColumn("_inj_ok", F.col("_rep_ok"))
    return out


def gate_report(flagged: DataFrame) -> dict[str, int]:
    """One aggregate over a :func:`gate_flags` frame → per-stage counts."""
    stage = flagged.agg(
        F.count(F.lit(1)).alias("input"),
        F.sum(F.col("_lang_ok").cast("long")).alias("lang"),
        F.sum(F.col("_q_ok").cast("long")).alias("q"),
        F.sum(F.col("_g_ok").cast("long")).alias("g"),
        F.sum(F.col("_rep_ok").cast("long")).alias("rep"),
        F.sum(F.col("_inj_ok").cast("long")).alias("inj"),
    ).first()
    return {
        "input": stage["input"],
        "after_langid": stage["lang"] or 0,
        "after_quality": stage["q"] or 0,
        "after_gopher": stage["g"] or 0,
        "after_repetition": stage["rep"] or 0,
        # == after_repetition when the injection gate is off (identity)
        "after_injection": stage["inj"] or 0,
    }


def dataset_card(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
    name: str = "dataset",
    shards_dir: str | None = None,
) -> str:
    """Render a markdown DATASET CARD from the release reports — the
    artifact a dataset ships with (datasheets-for-datasets shape):
    composition (mix_report), tokenizer fertility (fertility_report),
    per-source dedup attrition (dedup_attrition), and the release
    audit gates (release_audit), each a driver-side render of a
    bounded report frame (rows = sources × langs / gates — never
    documents).

    The numbers come from the SAME operators the oracle gates
    (q74/q159/q155/q156), so the card can never disagree with the
    audited pipeline.
    """
    from cqs_spark.operators.dedup import canonical_text_hash, minhash_dedup
    from cqs_spark.operators.graph import label_propagation
    from cqs_spark.operators.textops import (
        dedup_attrition,
        fertility_report,
        mix_report,
    )

    # The MinHash ladder + fixpoint propagation run ONCE; the attrition
    # table and the audit's dedup legs both reuse the materialized
    # cluster/hash frames (the labels=/hashes= contract).
    pairs = minhash_dedup(docs, id_col, text_col).filter(F.col("jac") >= 0.8)
    labels = stage(
        label_propagation(
            pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            converge=True,
        )
    )
    hashes = stage(
        docs.select(F.col(id_col), canonical_text_hash(F.col(text_col)).alias("h"))
    )

    lines = [f"# Dataset card: {name}", ""]
    tot = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(source_col).alias("s"),
        F.countDistinct(lang_col).alias("l"),
    ).first()
    lines += [
        f"- documents: {tot['n']}",
        f"- sources: {tot['s']}",
        f"- languages: {tot['l']}",
        "",
        "## Composition (token share by source, lang)",
        "",
        "| source | lang | docs | tokens | share |",
        "|---|---|---|---|---|",
    ]
    for r in mix_report(docs, id_col, text_col, by=(source_col, lang_col)) \
            .orderBy(F.desc("token_share"), source_col, lang_col) \
            .limit(20).collect():
        lines.append(
            f"| {r[source_col]} | {r[lang_col]} | {r['n_docs']} "
            f"| {r['n_tokens']} | {r['token_share']:.4f} |"
        )
    lines += [
        "",
        "## Tokenizer fertility (BPE pieces per word, by source)",
        "",
        "| source | docs | words | bpe tokens | fertility |",
        "|---|---|---|---|---|",
    ]
    for r in fertility_report(docs, id_col, text_col, by=(source_col,)) \
            .orderBy(F.desc("fertility")).limit(20).collect():
        lines.append(
            f"| {r[source_col]} | {r['n_docs']} | {r['n_words']} "
            f"| {r['n_bpe_tokens']} | {r['fertility']:.4f} |"
        )
    lines += [
        "",
        "## Dedup attrition (per source)",
        "",
        "| source | docs | exact dupes | near dupes | survivors | attrition |",
        "|---|---|---|---|---|---|",
    ]
    for r in dedup_attrition(
        docs, id_col, source_col, text_col, labels=labels, hashes=hashes
    ).orderBy(F.desc("attrition")).limit(20).collect():
        lines.append(
            f"| {r[source_col]} | {r['n_docs']} | {r['exact_dupes']} "
            f"| {r['near_dupes']} | {r['survivors']} | {r['attrition']:.4f} |"
        )
    lines += [
        "",
        "## Release audit",
        "",
        "| check | n | ratio | ok |",
        "|---|---|---|---|",
    ]
    audit = release_audit(
        docs, eval_df, id_col=id_col, source_col=source_col,
        text_col=text_col, labels=labels, hashes=hashes,
    ).collect()
    for r in audit:
        mark = "PASS" if r["ok"] else "FAIL"
        lines.append(
            f"| {r['check']} | {r['n']} | {r['ratio']:.4f} | {mark} |"
        )
    all_ok = all(r["ok"] for r in audit)
    if shards_dir is not None:
        # Link the shard export's manifest + re-read audit (q167 /
        # write_shards): a card that names concrete shard checksums is
        # what lets a consumer verify the release byte-for-byte.
        from cqs_spark.operators.shards import verify_shards

        vs = verify_shards(
            docs.sparkSession, shards_dir, id_col, text_col
        ).collect()
        lines += [
            "",
            f"## Shards ({shards_dir})",
            "",
            "| shard | docs | checksum | verified |",
            "|---|---|---|---|",
        ]
        for r in vs:
            lines.append(
                f"| {r['shard']} | {r['n_docs_expected']} "
                f"| {r['checksum_expected']} "
                f"| {'PASS' if r['ok'] else 'FAIL'} |"
            )
        all_ok = all_ok and all(r["ok"] for r in vs)
    verdict = "PASS" if all_ok else "FAIL"
    lines += ["", f"**Release verdict: {verdict}**", ""]
    return "\n".join(lines)


def release_audit(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    near_threshold: float = 0.8,
    decontam_n: int = 8,
    max_source_share: float = 0.8,
    labels: DataFrame | None = None,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Dataset RELEASE AUDIT: one report splicing the release gates a
    training corpus must clear before it ships — the dataset analogue
    of the engine's code-index health report (reference
    src/health.rs:48 shape: named checks, counts, pass/fail).

    One row per check, (check, n, ratio, ok):

    - ``dedup_exact`` / ``dedup_near``: duplicates still in the corpus
      (``dedup_attrition`` sums); n must be 0 after a dedup pass.
    - ``pii``: documents carrying un-redacted email/SSN/phone
      (``pii_scan``); 0 after redaction.
    - ``injection``: documents whose text carries a line-leading
      prompt-injection directive (``injection_scan``'s
      ``leading_directive`` — the high-confidence signal only; fences
      and URLs are legitimate in training documents); a corpus
      shipping context-wipe directives poisons downstream agents
      (reference src/llm/validation.rs treats this as a core
      contract).
    - ``decontamination``: documents sharing any ``decontam_n``-gram
      with ``eval_df`` (``decontaminate``'s report); 0 after hygiene.
      Skipped (no row) when ``eval_df`` is None.
    - ``split_contamination``: exact-dup pairs straddling the
      content-keyed split boundary (``leakage_safe_split`` →
      ``split_contamination``); 0 is the eval-split release gate.
    - ``source_dominance``: n = number of sources, ratio = the largest
      source's token share (``mix_report``), ok iff that share is at
      most ``max_source_share`` — one crawl dominating the mix is a
      composition bug.

    ``ratio`` is n / corpus docs for the count checks.  Pass
    ``labels``/``hashes`` (the dedup pass's own cluster table and
    per-doc hash frame) to skip re-running the MinHash ladder, as in
    :func:`cqs_spark.operators.textops.dedup_attrition`.

    Scale shape: every leg is a bounded aggregate over one corpus scan
    of its operator (no leg materializes pairs — split contamination
    counts via the (Σn)²−Σn² identity, dedup via the banded ladder);
    the report itself is seven rows.
    """
    from cqs_spark.operators.textops import (
        decontaminate,
        dedup_attrition,
        leakage_safe_split,
        mix_report,
        pii_scan,
        split_contamination,
    )

    total = docs.agg(F.count(F.lit(1)).cast("long").alias("_tot"))
    # n/0 is NULL under non-ANSI Spark; an empty input corpus must
    # still render a report (ratio 0.0), not TypeError in float()/:.4f.
    _ratio = F.when(F.col("_tot") == 0, F.lit(0.0)).otherwise(
        F.coalesce(F.col("n"), F.lit(0)).cast("double")
        / F.col("_tot").cast("double")
    )

    def count_leg(check: str, n_df: DataFrame) -> DataFrame:
        """(check, n, ratio=n/corpus, ok = n==0) from a 1-row (n) frame.
        ``n`` is coalesced to 0: sum-shaped legs yield NULL, not 0, on
        an empty corpus."""
        n = F.coalesce(F.col("n"), F.lit(0)).cast("long")
        return n_df.crossJoin(F.broadcast(total)).select(
            F.lit(check).alias("check"),
            n.alias("n"),
            _ratio.alias("ratio"),
            (n == 0).alias("ok"),
        )

    attr = dedup_attrition(
        docs, id_col, source_col, text_col,
        threshold=near_threshold, labels=labels, hashes=hashes,
    )
    dd = attr.agg(
        F.coalesce(F.sum("exact_dupes"), F.lit(0)).alias("_ex"),
        F.coalesce(F.sum("near_dupes"), F.lit(0)).alias("_nr"),
    )
    # Both rows from ONE aggregate row (explode, not two branches): a
    # second branch would re-run the whole MinHash ladder lineage.
    dedup_legs = (
        dd.crossJoin(F.broadcast(total))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("dedup_exact").alias("check"),
                        F.col("_ex").cast("long").alias("n"),
                    ),
                    F.struct(
                        F.lit("dedup_near").alias("check"),
                        F.col("_nr").cast("long").alias("n"),
                    ),
                )
            ).alias("s"),
            "_tot",
        )
        .select(
            F.col("s.check").alias("check"),
            F.col("s.n").alias("n"),
            F.when(F.col("_tot") == 0, F.lit(0.0))
            .otherwise(
                F.col("s.n").cast("double") / F.col("_tot").cast("double")
            )
            .alias("ratio"),
            (F.col("s.n") == 0).alias("ok"),
        )
    )

    pii = count_leg(
        "pii",
        pii_scan(docs, id_col, text_col).agg(
            F.coalesce(F.sum(F.col("has_pii").cast("long")), F.lit(0)).alias("n")
        ),
    )
    injection = count_leg(
        "injection",
        injection_scan(docs, id_col, text_col).agg(
            F.coalesce(
                F.sum(F.col("leading_directive").cast("long")), F.lit(0)
            ).alias("n")
        ),
    )
    decon = None
    if eval_df is not None:
        _, contam = decontaminate(
            docs, eval_df, id_col, text_col, n=decontam_n
        )
        decon = count_leg(
            "decontamination", contam.agg(F.count(F.lit(1)).alias("n"))
        )
    split = count_leg(
        "split_contamination",
        split_contamination(
            leakage_safe_split(docs, id_col, text_col), id_col, text_col
        ).select(F.col("straddling_pairs").alias("n")),
    )
    dominance = (
        mix_report(docs, id_col, text_col, by=(source_col,))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            # empty corpus → no sources → MAX is NULL; report 0.0/ok
            F.coalesce(F.max("token_share"), F.lit(0.0)).alias("_share"),
        )
        .select(
            F.lit("source_dominance").alias("check"),
            "n",
            F.col("_share").alias("ratio"),
            (F.col("_share") <= F.lit(max_source_share)).alias("ok"),
        )
    )
    out = dedup_legs.unionByName(pii).unionByName(injection)
    if decon is not None:
        out = out.unionByName(decon)
    return out.unionByName(split).unionByName(dominance).orderBy("check")


_DRIFT_METRICS = (
    "mean_quality", "mean_tokens", "mean_stop_ratio",
    "mean_alnum_ratio", "pii_rate",
)


def profile_per_doc(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc drift-monitor features: quality_features columns plus a
    ``_pii`` 0/1 double — the ONE definition of the monitored surface,
    shared by the streaming monitor
    (:func:`cqs_spark.streaming.maintain.monitor_arrivals`) and the
    batch :func:`drift_profile` so the two can never disagree on what
    a metric means."""
    from cqs_spark.operators.textops import pii_scan, quality_features

    return quality_features(docs, id_col, text_col).join(
        pii_scan(docs, id_col, text_col).select(
            id_col, F.col("has_pii").cast("double").alias("_pii")
        ),
        id_col,
    )


def profile_aggs() -> list:
    """The _DRIFT_METRICS aggregations over a :func:`profile_per_doc`
    frame, in metric order — shared batch/streaming."""
    return [
        F.avg("quality").alias("mean_quality"),
        F.avg(F.col("n_tokens").cast("double")).alias("mean_tokens"),
        F.avg("stop_ratio").alias("mean_stop_ratio"),
        F.avg("alnum_ratio").alias("mean_alnum_ratio"),
        F.avg("_pii").alias("pii_rate"),
    ]


def drift_profile(
    docs: DataFrame,
    batch_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str | None = None,
    z_threshold: float = 3.0,
    min_history: int = 3,
) -> DataFrame:
    """Batch twin of the streaming drift monitor's math
    (:func:`cqs_spark.streaming.maintain.monitor_arrivals`): one
    profile row per (batch[, source]) — mean composite quality,
    tokens/doc, stopword and alnum ratios, PII rate — each z-scored
    against the PRIOR batches' profile of the SAME source (rows
    between unbounded preceding and 1 preceding, ordered by batch).

    Returns (batch[, source], metrics..., n_hist, any_drift) where
    ``any_drift`` flags a row whose any metric sits more than
    ``z_threshold`` population-stddevs from its history mean (needs
    ``min_history`` prior rows; a zero-variance history flags on any
    change) — exactly the streaming monitor's rule, but expressible as
    plain windowed aggregation, so the z-math itself is oracle-
    checkable.  Scale shape: one corpus scan for the per-doc features,
    one groupBy to profiles (rows = batches × sources), windows over
    that tiny frame.
    """
    from pyspark.sql import Window

    keys = [batch_col] + ([source_col] if source_col is not None else [])
    per_doc = profile_per_doc(docs, id_col, text_col).join(
        docs.select(id_col, *keys), id_col
    )
    prof = per_doc.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"), *profile_aggs()
    )
    part = [source_col] if source_col is not None else [F.lit(1)]
    w = (
        Window.partitionBy(*part)
        .orderBy(batch_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_hist = F.count(F.lit(1)).over(w)
    flags = []
    for m in _DRIFT_METRICS:
        mu = F.avg(m).over(w)
        sd = F.stddev_pop(m).over(w)
        dev = F.abs(F.col(m) - mu)
        flags.append(
            (n_hist >= min_history)
            & F.when(sd < 1e-12, dev > 1e-9).otherwise(
                dev > z_threshold * sd
            )
        )
    any_drift = flags[0]
    for f in flags[1:]:
        any_drift = any_drift | f
    return prof.select(
        *keys,
        "n_docs",
        *_DRIFT_METRICS,
        n_hist.cast("long").alias("n_hist"),
        F.coalesce(any_drift, F.lit(False)).alias("any_drift"),
    ).orderBy(*keys)


def semantic_drift_profile(
    emb: DataFrame,
    centroids: DataFrame,
    batch_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shift_threshold: float = 0.25,
    min_history: int = 1,
) -> DataFrame:
    """Embedding-space drift: per-batch centroid ASSIGNMENT SHARES,
    L1-shifted against the pooled PRIOR batches, on a frozen centroid
    set.  The semantic leg the surface monitors (q157 /
    ``monitor_arrivals``) are blind to: a paraphrase-level corpus
    shift (new crawl, model-generated spam) keeps length/stopword/PII
    stats flat while the embedding mass migrates between clusters
    (reference parallel src/drift.rs:51 — index-embedding drift vs a
    frozen baseline).

    Returns one row per (batch, centroid): ``n`` assigned, ``share``
    of the batch, plus the batch-level ``n_hist`` (prior batches),
    ``l1_shift`` (half-L1 distance between the batch's share vector
    and the pooled history's — 0..1, the total-variation distance)
    and ``drift`` (l1_shift > ``shift_threshold`` once ``min_history``
    prior batches exist), repeated on each of the batch's rows.

    Oracle-stable by construction (the q157 lesson: never gate a
    mean-of-ratio double): every comparison is integer cross-multiplied
    — ``l1_shift = Σ|n_bc·totH − nH_c·totB| / (2·totB·totH)`` with
    bigint numerators, ONE IEEE division at the end, so Spark and
    DuckDB agree bitwise.  Mean cosine-to-centroid (a float mean) is
    deliberately NOT in this surface.

    Scale shape: one broadcast assignment pass over the corpus, then
    all windows run on the (batches × centroids) grid — thousands of
    rows at most, never documents.
    """
    from pyspark.sql import Window

    from cqs_spark.operators.vectorops import ivf_assign

    asg = ivf_assign(emb, centroids, id_col, vec_col)
    bat = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(batch_col).alias("batch"),
    )
    cnt = (
        bat.join(asg, "id")
        .groupBy("batch", "centroid_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # Full (batch × centroid) grid: a centroid with NO assignments in a
    # batch carries n=0 — dropping the row would hide exactly the mass
    # migration the L1 measures.
    grid = bat.select("batch").distinct().crossJoin(
        F.broadcast(
            centroids.select(F.col(id_col).cast("long").alias("centroid_id"))
        )
    )
    full = grid.join(cnt, ["batch", "centroid_id"], "left").select(
        "batch", "centroid_id", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    wb = Window.partitionBy("batch")
    wh = (
        Window.partitionBy("centroid_id")
        .orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    full = (
        full.withColumn("tot", F.sum("n").over(wb))
        .withColumn("hist_n", F.coalesce(F.sum("n").over(wh), F.lit(0)))
        .withColumn("n_hist", F.count(F.lit(1)).over(wh))
    )
    # hist_tot = Σ tot over prior batches: each grid row carries its
    # batch's tot exactly once per centroid, so the same window works.
    full = full.withColumn(
        "hist_tot", F.coalesce(F.sum("tot").over(wh), F.lit(0))
    )
    contrib = F.abs(
        F.col("n") * F.col("hist_tot") - F.col("hist_n") * F.col("tot")
    )
    full = full.withColumn("_l1_num", F.sum(contrib).over(wb))
    l1 = F.when(
        (F.col("hist_tot") == 0) | (F.col("tot") == 0), F.lit(0.0)
    ).otherwise(
        F.col("_l1_num").cast("double")
        / (2.0 * (F.col("tot") * F.col("hist_tot")).cast("double"))
    )
    return full.select(
        "batch",
        "centroid_id",
        "n",
        F.when(F.col("tot") == 0, F.lit(0.0))
        .otherwise(F.col("n").cast("double") / F.col("tot").cast("double"))
        .alias("share"),
        F.col("n_hist").cast("long").alias("n_hist"),
        l1.alias("l1_shift"),
        (
            (F.col("n_hist") >= min_history) & (l1 > shift_threshold)
        ).alias("drift"),
    ).orderBy("batch", "centroid_id")


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    max_dup_ratio: float = 0.3,
    near_dup_threshold: float = 0.8,
    gopher_min_words: int = 20,
    gopher_min_stops: int = 1,
    scrub_pii: bool = True,
    min_lang_confidence: float = 0.0,
    exactsubstr: str | None = None,
    flag_injection: bool = False,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the curation ladder; returns (curated_df, per-stage counts).

    The counts dict is the curation report (how much each stage cut) —
    the number every data-pipeline owner asks for first.

    Report cost: the filter stages (langid, quality, repetition) are
    computed as FLAGS on one cached pass, so their counts come from a
    single aggregate instead of one lineage-replaying ``count()`` per
    stage; the dedup stages are filters over cached survivors.  Three
    driver actions total (flags agg, exact-dedup count, final
    count+tokens agg) — at 100 TB each saved action is a saved corpus
    pass.  The repetition flag costs one extra explode+aggregate inside
    that same pass (the q62 shape), still ahead of any dedup shuffle.
    """
    flagged = gate_flags(
        docs, id_col, text_col,
        keep_langs=keep_langs, min_quality=min_quality,
        max_dup_ratio=max_dup_ratio, gopher_min_words=gopher_min_words,
        gopher_min_stops=gopher_min_stops,
        min_lang_confidence=min_lang_confidence,
        flag_injection=flag_injection,
    ).cache()
    report: dict[str, int] = gate_report(flagged)

    survivors = flagged.filter(F.col("_inj_ok")).select(*docs.columns)
    keepers = exact_dedup(survivors, id_col, text_col).select(
        F.col("keeper").alias(id_col)
    )
    survivors = survivors.join(keepers, id_col, "left_semi").cache()
    report["after_exact_dedup"] = survivors.count()

    out = dedup_corpus(
        survivors, id_col, text_col, threshold=near_dup_threshold
    )
    if exactsubstr is not None:
        # Cross-doc span scrub AFTER near dedup (the Lee et al. 2022
        # order: whole-document dedup first, then strip the residual
        # cross-document spans/sentences the doc-level pass can't
        # reach).  The scrubbers reassemble from the NORMALIZED token
        # stream (their operator contract); fully-duplicated docs drop
        # out entirely.
        if exactsubstr not in ("passage", "sentence"):
            raise ValueError(
                f"exactsubstr must be 'passage', 'sentence' or None, "
                f"got {exactsubstr!r}"
            )
        from cqs_spark.operators.textops import passage_scrub, sentence_scrub

        # localCheckpoint (not cache): the pre-scrub survivors feed the
        # count, the scrubber, AND the join-back — materialized once
        # (BY the count right below — lazy, so the count and the
        # checkpoint share one job) with no unpersist bookkeeping.
        pre = stage(out)
        report["after_near_dedup"] = pre.count()
        if scrub_pii:
            # Redaction must see RAW text: the scrubbers reassemble
            # from the normalized token stream (lowercase, non-alnum
            # stripped to spaces), where an email/SSN survives as bare
            # digit/word tokens the PII regexes can never match.  Dedup
            # keys were computed on raw text before this point, so
            # clone clusters already collapsed.
            pre = pii_scrub(pre, text_col)
        scrub = passage_scrub if exactsubstr == "passage" else sentence_scrub
        kept = scrub(pre, id_col, text_col)
        out = pre.drop(text_col).join(
            kept.select(id_col, F.col("kept_text").alias(text_col)), id_col
        ).select(*docs.columns)
    elif scrub_pii:
        # Without exactsubstr the output text is raw, so redaction runs
        # LAST: the survivor set is the smallest corpus the regexes
        # will ever see, and dedup keys were computed on the raw text
        # so clone clusters still collapsed.
        out = pii_scrub(out, text_col)
    final = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(bpe_token_count(text_col)).cast("long").alias("t"),
    ).first()
    if exactsubstr is not None:
        report["after_exactsubstr"] = final["n"]
    else:
        report["after_near_dedup"] = final["n"]
        # Identity stage when off — the key always exists so the batch
        # report and the streaming report row (fixed _REPORT_KEYS
        # schema) stay column-compatible.
        report["after_exactsubstr"] = final["n"]
    report["total_tokens"] = final["t"] or 0
    flagged.unpersist()
    return out, report
