"""The arrival ladders: streaming twins of the batch curation operators.

Each ladder drains a directory of arriving parquet files, one file per
micro-batch, against staged state under an index or stats directory:
``dedup_arrivals`` (near dedup), ``curate_arrivals`` (the full curation
ladder), ``monitor_arrivals`` (quality drift), ``media_arrivals``
(perceptual media dedup) and ``monitor_media_arrivals`` (media-feed
drift).  ``seed_staged_index`` and ``seed_media_index`` write the day-0
state a ladder starts from.

:func:`_drain` runs every ladder's stream.  It reads the arrivals with a
fixed schema, skips empty micro-batches, resolves the stream
incarnation's run id from the checkpoint, stages the batch eagerly and
hands it to the ladder's step, then stops once the backlog is drained
(``availableNow``).  foreachBatch is at-least-once: a crash after a
step's writes but before the streaming commit replays the batch.  Steps
converge anyway because every write is an overwrite of the run's own
``run=<id>/batch=N`` slice (:func:`_write_batch_slice`) and every read
of staged state excludes that slice (:func:`_read_staged`) — so each
batch lands exactly once per checkpoint.

The reference's watch daemon (FS events, incremental reindex, periodic
reconcile; src/cli/watch/reconcile.rs) has its batch twin in
``Engine.refresh``, not here.
"""

from __future__ import annotations

from collections.abc import Callable, Collection

from pyspark.sql import DataFrame, SparkSession, functions as F

from cqs_spark.staging import stage


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``.  os.path only sees the
    driver's LOCAL disk, so it would read a remote (hdfs://, s3a://)
    staged index as permanently absent — silently disabling dedup every
    batch.  The Hadoop FileSystem resolves whatever filesystem the
    path's scheme names, exactly like the reads and writes themselves."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return fs.exists(hpath)


def _read_text(spark: SparkSession, path: str) -> str | None:
    """The small UTF-8 text file at ``path``, or None when absent."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create or overwrite the small UTF-8 text file at ``path``."""
    fs, hpath = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _claim_marker(
    spark: SparkSession,
    path: str,
    marker: str,
    refusal: Callable[[str], str],
    legacy_ok: Collection[str] = (),
    legacy_warning: Callable[[str], str] | None = None,
) -> None:
    """Claim the key-space marker file at ``path`` for ``marker``:
    absent or empty (a truncated write) -> write it; equal -> ok; in
    ``legacy_ok`` -> warn ``legacy_warning(prev)`` and upgrade in place;
    anything else -> ``ValueError(refusal(prev))``."""
    prev = (_read_text(spark, path) or "").strip()
    if prev == marker:
        return
    if prev:
        if prev not in legacy_ok:
            raise ValueError(refusal(prev))
        import warnings

        warnings.warn(legacy_warning(prev), UserWarning, stacklevel=3)
    _write_text(spark, path, marker)


def _run_id(spark: SparkSession, checkpoint_dir: str) -> str:
    """Stable id of this stream INCARNATION, from the checkpoint's
    ``metadata`` file (Spark writes ``{"id": "<uuid>"}`` there at query
    start and re-reads it on every restart).

    Replay exclusion must be scoped to (run, batch), not batch alone:
    batch ids restart at 0 per checkpoint, so a supported CLI
    combination — reuse an existing ``index_dir`` with a NEW
    checkpoint — would otherwise silently hide the PRIOR run's
    ``batch=N`` slice from dedup state as the new stream reaches batch
    N, admitting duplicates of those survivors as canonical.  The
    metadata id is exactly the scope needed: a crash-restart from the
    SAME checkpoint (the true at-least-once replay) keeps the id, a
    new checkpoint gets a fresh uuid.  Falls back to a checkpoint-path
    hash if the metadata file is absent/corrupt (cannot happen inside
    foreachBatch of a healthy query — the file is written before the
    first batch)."""
    import hashlib
    import json

    data = _read_text(spark, f"{checkpoint_dir}/metadata")
    if data is not None:
        try:
            rid = json.loads(data).get("id")
            if rid:
                return str(rid)
        except (ValueError, AttributeError):
            pass
    return hashlib.sha1(checkpoint_dir.encode()).hexdigest()[:16]


def _migrate_legacy_slices(spark: SparkSession, root: str) -> None:
    """One-time in-place upgrade of a pre-run-scoped staged directory:
    top-level ``batch=N`` slices move under ``run=__legacy__/`` so they
    coexist with the run-scoped layout (parquet partition discovery
    rejects mixed nesting depths in one root).  Idempotent — a no-op on
    fresh, already-migrated, or flat directories — and the legacy run
    name can never equal a metadata uuid, so migrated state is always
    visible to every new run's replay exclusion."""
    jvm = spark._jvm
    fs, hroot = _fs(spark, root)
    if not fs.exists(hroot):
        return
    legacy = [
        st.getPath()
        for st in fs.listStatus(hroot)
        if st.isDirectory() and st.getPath().getName().startswith("batch=")
    ]
    if not legacy:
        return
    dest = jvm.org.apache.hadoop.fs.Path(f"{root}/run=__legacy__")
    fs.mkdirs(dest)
    for p in legacy:
        fs.rename(
            p, jvm.org.apache.hadoop.fs.Path(f"{root}/run=__legacy__/{p.getName()}")
        )


def _read_staged(
    spark: SparkSession,
    path: str,
    batch_id: int,
    schema: str,
    cols: tuple,
    run_id: str,
) -> DataFrame:
    """Read a staged index EXCLUDING the current run's own slice for
    the current batch.

    foreachBatch is at-least-once: a replay of batch N whose
    ``_write_batch_slice`` calls already landed (crash after the writes
    but before the streaming commit) would otherwise re-read N's OWN
    rows as prior state.  In curate_arrivals that means every gated
    doc's hash is already "seen", the retry drops the whole batch, and
    the slice overwrites land EMPTY — permanent loss of the batch's
    survivors (and later true duplicates of them get admitted as
    canonical).  In dedup_arrivals the batch's staged shingles
    double-count in jaccard verification (sh_b unioned with staged
    copies of the same ids), inflating jac and flipping borderline
    decisions on replay.  Exclusion is scoped to (run, batch) — see
    :func:`_run_id` — so a DIFFERENT run's batch=N slice (reused
    index_dir, new checkpoint) stays visible.  Slices are
    ``run=<id>/batch=N`` partition directories, so the exclusion
    predicate prunes whole slices at scan time — the non-replay fast
    path reads exactly what it read before.

    Returns an empty frame with ``schema`` when the index directory
    does not exist yet (first batch).  A corrupt/unreadable existing
    index still raises — never silently reads as empty (that would
    disable dedup and poison the index with duplicates marked
    canonical).
    """
    if not _fs_exists(spark, path):
        return spark.createDataFrame([], schema)
    df = spark.read.parquet(path)
    # Hand-built staged state may predate the partition columns —
    # tolerate a plain staged table rather than failing the stream.
    if "run" in df.columns and "batch" in df.columns:
        df = df.filter(
            ~((F.col("run") == run_id) & (F.col("batch") == batch_id))
        )
    elif "batch" in df.columns:
        df = df.filter(F.col("batch") != batch_id)
    return df.select(*cols)


def _write_batch_slice(
    df: DataFrame, root: str, batch_id: int, run_id: str
) -> None:
    """Idempotent per-batch staging: OVERWRITE the run's own
    ``run=<id>/batch=N`` subdirectory instead of appending to the root.
    A foreachBatch retry after a mid-step crash re-runs the whole step;
    plain appends would then duplicate the batch's rows (doubling
    staged shingle counts skews every future jaccard, and doubled
    output rows make the dedup pipeline itself emit duplicates) —
    overwriting the same slice makes the retry converge to the exact
    once-only state, which is what lets the module honestly claim
    exactly-once per batch.  Scoping the slice path by run id means a
    NEW stream incarnation over a reused directory appends alongside
    prior runs' slices instead of clobbering their batch=N data."""
    df.write.mode("overwrite").parquet(f"{root}/run={run_id}/batch={batch_id}")


def _drain(
    spark: SparkSession,
    arrivals_root: str,
    schema: str,
    checkpoint_dir: str,
    step,
) -> None:
    """Drain the arrival backlog at ``arrivals_root`` (parquet files
    with ``schema``, one file per micro-batch) through
    ``step(batch, batch_id, run_id)`` and stop.

    Empty micro-batches never reach ``step``.  The run id is resolved
    once, at the first non-empty batch — the checkpoint metadata exists
    by then.  The batch reaches ``step`` eagerly staged, so every
    consumer in the step reads one materialization.  Replay safety is
    the step's contract: write only through :func:`_write_batch_slice`
    and read staged state only through :func:`_read_staged`."""
    rid_cache: list[str] = []

    def run(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        if not rid_cache:
            rid_cache.append(_run_id(spark, checkpoint_dir))
        step(stage(batch, eager=True), batch_id, rid_cache[0])

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_root)
        .writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _check_unit_marker(
    spark: SparkSession, index_dir: str, unit: str, k: int = 8
) -> None:
    """Enforce ONE ExactSubstr unit kind — and for passages, ONE k-gram
    width — per index_dir: the staged ``grams`` table stores bare md5
    hashes, so passage-grams, sentence-hashes, and passage-grams of a
    DIFFERENT k are indistinguishable on read — mixing them would
    silently dedup against the wrong key space (disjoint key spaces
    find nothing, with no error).  A tiny marker file records
    ``passage:k=<k>:v2`` / ``sentence:v2`` on first use and rejects a
    different one later (sentence hashes don't vary by k, so the
    sentence marker carries no k).  The ``:v2`` suffix versions the
    HASH KEYING, not the unit: v2 hashes are computed over
    PII-redacted survivor text; unversioned markers predate that and
    were keyed on raw text.  Any future keying change must bump this
    version so stale dirs are detectable instead of silently missing.

    Back compat: legacy markers are ACCEPTED and upgraded in place
    rather than hard-failing a pre-existing deployment —

    - bare ``passage`` (pre-k-marker releases) is accepted iff the
      requested k is the historical default 8; any other k genuinely
      differs and still raises;
    - ``passage:k=<k>`` (k-marker, pre-v2) is accepted iff k matches;
    - bare ``sentence`` is accepted as-is.

    Accepting a pre-v2 dir mixes raw-keyed and redaction-keyed hashes:
    cross-batch ExactSubstr may MISS duplicates whose unit text
    contains PII (redacted new-batch hashes never equal the staged raw
    ones).  That is a bounded recall loss on PII-bearing units only —
    a ``UserWarning`` says so once, at upgrade time; re-seed the
    index_dir to restore full recall.  Hadoop FS like every other
    staged-path touch (the index_dir may be remote)."""
    marker = f"passage:k={k}:v2" if unit == "passage" else f"{unit}:v2"
    # Markers this call may upgrade from (all raw-text-keyed eras).
    # A bare 'passage' predates the k marker entirely, so it can only
    # mean the historical default width 8 — any other requested k is a
    # genuine mismatch.
    if unit == "passage":
        legacy_ok = {f"passage:k={k}"} | ({"passage"} if k == 8 else set())
    else:
        legacy_ok = {unit}
    _claim_marker(
        spark, f"{index_dir}/grams_unit", marker,
        refusal=lambda prev: (
            f"index_dir {index_dir} was built with "
            f"exactsubstr={prev!r}; refusing to mix with {marker!r} "
            "(staged hashes are not interchangeable across units or "
            "k-gram widths; re-seed a fresh index_dir to change them)"
        ),
        legacy_ok=legacy_ok,
        legacy_warning=lambda prev: (
            f"index_dir {index_dir} carries a pre-v2 exactsubstr marker "
            f"{prev!r}: its staged hashes were keyed on raw text, so "
            "cross-batch dedup may miss units containing PII until the "
            "index_dir is re-seeded (upgrading marker to "
            f"{marker!r} and continuing)."
        ),
    )


def seed_staged_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_hashes: bool = True,
    exactsubstr: str | None = None,
    exactsubstr_k: int = 8,
) -> None:
    """Bootstrap the arrival pipelines' staged index from an existing
    corpus — the "day 0" state of a deployment that already curated a
    backlog in batch mode and now streams arrivals against it.

    Writes shingles/bands(/hashes) as ``run=__seed__/batch=-1``
    slices, the exact layout the stream itself maintains: a directory
    must never mix flat files with partition subdirectories (partition
    discovery rejects the mix), and the __seed__ run id can never
    collide with a checkpoint-metadata uuid nor -1 with a foreachBatch
    batch_id, so replay exclusion (_read_staged) always keeps the seed
    visible.
    """
    import os

    from cqs_spark.operators.dedup import (
        band_signatures,
        canonical_text_hash,
        minhash_signatures,
        shingles,
    )

    sh_p = os.path.join(index_dir, "shingles")
    bd_p = os.path.join(index_dir, "bands")
    hs_p = os.path.join(index_dir, "hashes")
    for p in (sh_p, bd_p, hs_p):
        _migrate_legacy_slices(spark, p)
    ssh = stage(shingles(corpus, id_col, text_col), eager=True)
    _write_batch_slice(ssh, sh_p, -1, "__seed__")
    _write_batch_slice(
        band_signatures(minhash_signatures(ssh, id_col), id_col),
        bd_p,
        -1,
        "__seed__",
    )
    if with_hashes:
        _write_batch_slice(
            corpus.select(canonical_text_hash(F.col(text_col)).alias("h")),
            hs_p,
            -1,
            "__seed__",
        )
    if exactsubstr is not None:
        # Day-0 state for the incremental ExactSubstr stage: the
        # seeded corpus already "owns" every span/sentence it carries.
        if exactsubstr == "passage":
            from cqs_spark.operators.textops import _kgram_windows

            units = _kgram_windows(corpus, id_col, text_col, exactsubstr_k)
        elif exactsubstr == "sentence":
            from cqs_spark.operators.textops import sentence_units

            units = (
                sentence_units(corpus, id_col, text_col)
                .filter(F.col("n_tokens") >= 5)
                .withColumn("h", F.md5("sent_norm"))
            )
        else:
            raise ValueError(
                f"exactsubstr must be 'passage', 'sentence' or None, "
                f"got {exactsubstr!r}"
            )
        _check_unit_marker(spark, index_dir, exactsubstr, exactsubstr_k)
        gr_p = os.path.join(index_dir, "grams")
        _migrate_legacy_slices(spark, gr_p)
        _write_batch_slice(
            units.select("h").distinct(), gr_p, -1, "__seed__"
        )


def dedup_arrivals(
    spark: SparkSession,
    arrivals_root: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
):
    """Streaming arrival near-dedup: the incremental MinHash pass as a
    continuously-maintained pipeline.

    Each micro-batch of arriving documents (parquet file stream, one
    file per trigger) runs ``incremental_minhash`` against the staged
    LSH index at ``index_dir``; surviving docs append to ``out_dir``
    AND their shingles/bands append to the index, so later arrivals
    dedup against earlier survivors too — the reference's
    watch-reconcile loop (src/cli/watch/reconcile.rs) generalized from
    exact content-hash refresh to near-dup.

    Duplicates never join the index (the index holds canonical
    survivors only).  Oversized-bucket hubs are recomputed ad hoc per
    batch here; a deployment refreshes the staged hub table in the
    periodic reconcile sweep instead, like chunk staleness.  Ids must
    arrive monotonically increasing (append-only arrival log).
    :func:`_drain` gives exactly-once per batch via the checkpoint.
    """
    import os

    from cqs_spark.operators.dedup import (
        band_signatures,
        incremental_minhash,
        minhash_signatures,
        shingles,
    )

    sh_p = os.path.join(index_dir, "shingles")
    bd_p = os.path.join(index_dir, "bands")
    for p in (sh_p, bd_p, out_dir):
        _migrate_legacy_slices(spark, p)

    def step(batch: DataFrame, batch_id: int, rid: str) -> None:
        # Staged reads exclude this run's own slice for this batch
        # (_read_staged): replay safety.  Per-table checks: batch
        # slices are overwrite-idempotent, so a crash that staged
        # shingles but not bands self-heals on retry.
        ish = _read_staged(
            spark, sh_p, batch_id, f"{id_col} long, sh string",
            (id_col, "sh"), rid,
        )
        ibands = _read_staged(
            spark, bd_p, batch_id,
            f"{id_col} long, band int, sig string",
            (id_col, "band", "sig"), rid,
        )
        pairs = incremental_minhash(
            batch, ish, ibands, id_col, text_col
        ).filter(F.col("jac") >= threshold)
        # Canonical a < b and monotone arrival ids mean b is always the
        # newer doc: the b-side set IS the batch's duplicates.  (For a
        # within-batch chain X≈A≈B this drops BOTH A and B even when
        # jac(B, X) is sub-threshold — the same transitive collapse the
        # batch ladder applies; only across MICRO-BATCH boundaries is
        # the dedup greedy against survivors.)
        dups = pairs.select(F.col("b").alias(id_col)).distinct()
        survivors = stage(batch.join(dups, id_col, "left_anti"), eager=True)
        _write_batch_slice(survivors, out_dir, batch_id, rid)
        ssh = stage(shingles(survivors, id_col, text_col), eager=True)
        # Shingles land BEFORE bands: a crash between the writes then
        # leaves shingle rows without band rows (some candidates missed
        # until the retry completes) rather than band rows whose ids
        # have no shingles to verify against.
        _write_batch_slice(ssh, sh_p, batch_id, rid)
        _write_batch_slice(
            band_signatures(minhash_signatures(ssh, id_col), id_col),
            bd_p,
            batch_id,
            rid,
        )

    _drain(
        spark, arrivals_root, f"{id_col} long, {text_col} string",
        checkpoint_dir, step,
    )


def curate_arrivals(
    spark: SparkSession,
    arrivals_root: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    report_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    max_dup_ratio: float = 0.3,
    threshold: float = 0.8,
    gopher_min_words: int = 20,
    gopher_min_stops: int = 1,
    scrub_pii: bool = True,
    min_lang_confidence: float = 0.0,
    exactsubstr: str | None = None,
    exactsubstr_k: int = 8,
    flag_injection: bool = False,
):
    """The FULL curation ladder as a continuously-maintained stream —
    the streaming twin of :func:`cqs_spark.operators.curate.curate`.

    Each micro-batch of arriving documents runs, in the batch ladder's
    order: the row-local gates (langid → quality floor → Gopher →
    repetition, via the SHARED ``gate_flags`` pass so the two ladders
    cannot drift), exact dedup against the staged canonical-hash table
    (``incremental_exact``), near dedup against the staged LSH index
    (``incremental_minhash``), then PII scrub on the raw survivor text
    (BEFORE the optional ExactSubstr reassembly — its normalized token
    stream is unmatchable by the PII regexes).  Survivors append to
    ``out_dir``; their hashes/shingles/bands append to the staged
    indexes so later arrivals dedup against earlier survivors; one
    per-batch report row (the batch ladder's stage counts) appends to
    ``report_dir``.

    Semantics vs the batch ladder, stated honestly: the gates, exact
    dedup (first arrival = min id under monotone arrival ids), and PII
    scrub are IDENTICAL.  Near dedup drops every pair's higher id —
    WITHIN a micro-batch that collapses chains transitively just like
    the batch ladder, but ACROSS micro-batch boundaries an arrival is
    only compared against prior SURVIVORS (the index holds survivors
    only), so a chain A≈B≈C with A≉C split across batches keeps
    {A, C} where batch ``dedup_corpus`` keeps {A}.  On chain-free
    corpora (every duplicate is within threshold of its cluster's
    first arrival) the two agree exactly; the batch-boundary greed is
    the standard steady-state trade — the daily pass never
    re-clusters the world.

    Index staging mirrors ``dedup_arrivals``: duplicates never join
    the index; shingles/bands are computed on the RAW survivor text
    (pre-scrub), matching the batch ladder where dedup keys are
    computed before redaction so clone clusters still collapse.

    ``exactsubstr`` ("passage" | "sentence" | None=off) adds the
    incremental ExactSubstr stage — the streaming twin of
    ``curate(exactsubstr=)``: after near dedup, every k-gram span
    (passage; ``exactsubstr_k`` tokens) or >=5-token sentence of a
    survivor that was already seen in a PRIOR batch's survivors
    (staged hash table at ``index_dir/grams``) or in an earlier doc of
    the same batch is stripped; fully-covered docs drop.  The batch's
    pre-scrub survivor hashes then join the staged table, so the first
    carrier keeps its text and every later arrival loses the span —
    the batch ladder's first-occurrence rule, applied across
    micro-batches.  Gram hashes key on the REDACTED survivor text in
    both ladders (redaction precedes the stage; seed corpora are batch
    outputs, already redacted).  The staged table is DISTINCT hashes
    only (compact; one 32-char key per unique unit ever kept); one
    ``index_dir`` must stick to ONE unit and (for passages) ONE k —
    the hashes are not interchangeable, and a marker file enforces it
    (``_check_unit_marker``).
    """
    import os

    from cqs_spark.operators.curate import gate_flags, gate_report
    from cqs_spark.operators.dedup import (
        band_signatures,
        canonical_text_hash,
        incremental_exact,
        incremental_minhash,
        minhash_signatures,
        shingles,
    )
    from cqs_spark.operators.textops import pii_scrub

    if exactsubstr not in (None, "passage", "sentence"):
        # Fail at submit time, not inside batch 0's foreachBatch.
        raise ValueError(
            f"exactsubstr must be 'passage', 'sentence' or None, "
            f"got {exactsubstr!r}"
        )
    if exactsubstr is not None:
        _check_unit_marker(spark, index_dir, exactsubstr, exactsubstr_k)
    sh_p = os.path.join(index_dir, "shingles")
    bd_p = os.path.join(index_dir, "bands")
    hs_p = os.path.join(index_dir, "hashes")
    gr_p = os.path.join(index_dir, "grams")
    for p in (sh_p, bd_p, hs_p, gr_p, out_dir) + (
        (report_dir,) if report_dir is not None else ()
    ):
        _migrate_legacy_slices(spark, p)

    def step(batch: DataFrame, batch_id: int, rid: str) -> None:
        flagged = stage(
            gate_flags(
                batch, id_col, text_col,
                keep_langs=keep_langs, min_quality=min_quality,
                max_dup_ratio=max_dup_ratio,
                gopher_min_words=gopher_min_words,
                gopher_min_stops=gopher_min_stops,
                min_lang_confidence=min_lang_confidence,
                flag_injection=flag_injection,
            ),
            eager=True,
        )
        # The report costs three extra driver actions per micro-batch
        # (gate aggregate + two stage counts) — only pay them when a
        # report sink exists.
        report = gate_report(flagged) if report_dir is not None else {}
        gated = flagged.filter(F.col("_inj_ok")).select(*batch.columns)

        # Staged reads exclude this run's own slice for this batch
        # (_read_staged): a replay would otherwise find every gated
        # doc's hash already "seen" and overwrite the slices empty.
        seen = _read_staged(spark, hs_p, batch_id, "h string", ("h",), rid)
        kept = incremental_exact(
            gated, seen, id_col, text_col, prehashed=True
        ).select(id_col)
        gated = stage(gated.join(kept, id_col, "left_semi"), eager=True)
        if report_dir is not None:
            report["after_exact_dedup"] = gated.count()

        ish = _read_staged(
            spark, sh_p, batch_id, f"{id_col} long, sh string",
            (id_col, "sh"), rid,
        )
        ibands = _read_staged(
            spark, bd_p, batch_id,
            f"{id_col} long, band int, sig string",
            (id_col, "band", "sig"), rid,
        )
        pairs = incremental_minhash(
            gated, ish, ibands, id_col, text_col
        ).filter(F.col("jac") >= threshold)
        # Canonical a < b + monotone arrival ids: b is always the newer
        # doc, so the b-side set IS this batch's near-duplicates.
        dups = pairs.select(F.col("b").alias(id_col)).distinct()
        survivors = stage(gated.join(dups, id_col, "left_anti"), eager=True)
        if report_dir is not None:
            report["after_near_dedup"] = survivors.count()

        # PII redaction runs on the RAW survivor text BEFORE the
        # ExactSubstr stage, exactly like the batch ladder: the
        # scrubbers reassemble from the normalized token stream
        # (lowercase, non-alnum stripped to spaces), where an
        # email/SSN survives as bare digit/word tokens the PII regexes
        # can never match.  Dedup keys (hashes/shingles/bands) were
        # computed on raw text above, so clone clusters still
        # collapsed; the staged grams table is therefore keyed on
        # REDACTED text in both ladders (seed corpora are batch
        # outputs, already redacted).
        redacted = pii_scrub(survivors, text_col) if scrub_pii else survivors
        scrubbed = redacted
        units = None  # the staged-hash source frame, per unit kind
        if exactsubstr == "passage":
            from cqs_spark.operators.textops import (
                _kgram_windows,
                _strip_windows,
            )

            k = exactsubstr_k
            units = stage(
                _kgram_windows(redacted, id_col, text_col, k), eager=True
            )
            seen_g = _read_staged(spark, gr_p, batch_id, "h string", ("h",), rid)
            first = units.groupBy("h").agg(F.min(id_col).alias("_fdoc"))
            flagged = (
                units.join(first, "h")
                .filter(F.col(id_col) > F.col("_fdoc"))
                .select(id_col, "pos")
                .unionByName(
                    units.join(seen_g, "h", "left_semi").select(id_col, "pos")
                )
                .distinct()
            )
            kept = _strip_windows(redacted, flagged, id_col, text_col, k)
        elif exactsubstr == "sentence":
            from cqs_spark.operators.textops import (
                _reassemble_sentences,
                sentence_units,
            )

            sents = stage(sentence_units(redacted, id_col, text_col), eager=True)
            units = sents.filter(F.col("n_tokens") >= 5).withColumn(
                "h", F.md5("sent_norm")
            )
            seen_g = _read_staged(spark, gr_p, batch_id, "h string", ("h",), rid)
            first = units.groupBy("h").agg(F.min(id_col).alias("_fdoc"))
            flagged = (
                units.join(first, "h")
                .filter(F.col(id_col) > F.col("_fdoc"))
                .select(id_col, "sidx")
                .unionByName(
                    units.join(seen_g, "h", "left_semi").select(id_col, "sidx")
                )
                .distinct()
            )
            kept = _reassemble_sentences(sents, flagged, id_col)
        if units is not None:
            scrubbed = stage(
                redacted.drop(text_col)
                .join(
                    kept.select(
                        id_col, F.col("kept_text").alias(text_col)
                    ),
                    id_col,
                )
                .select(*survivors.columns),
                eager=True,
            )

        out = scrubbed
        if report_dir is not None:
            # after_exactsubstr: the ExactSubstr stage can drop
            # fully-covered docs, so the emitted-survivor count is NOT
            # after_near_dedup — record the true final count (the batch
            # ladder's after_exactsubstr).  With the stage off it
            # equals after_near_dedup (identity stage), keeping the
            # report-row schema fixed.
            report["after_exactsubstr"] = (
                scrubbed.count() if units is not None
                else report["after_near_dedup"]
            )
        # Every sink is a batch-keyed overwrite slice (_write_batch_slice)
        # so a foreachBatch retry converges instead of appending twice.
        _write_batch_slice(out, out_dir, batch_id, rid)
        # Index maintenance on RAW survivor text, survivors only;
        # shingles BEFORE bands (see dedup_arrivals on crash ordering).
        ssh = stage(shingles(survivors, id_col, text_col), eager=True)
        _write_batch_slice(ssh, sh_p, batch_id, rid)
        _write_batch_slice(
            band_signatures(minhash_signatures(ssh, id_col), id_col),
            bd_p,
            batch_id,
            rid,
        )
        _write_batch_slice(
            survivors.select(
                canonical_text_hash(F.col(text_col)).alias("h")
            ),
            hs_p,
            batch_id,
            rid,
        )
        if units is not None:
            # PRE-scrub survivor hashes: the first carrier keeps its
            # text, so its units are the ones later arrivals must lose.
            _write_batch_slice(
                units.select("h").distinct(), gr_p, batch_id, rid
            )
        if report_dir is not None:
            _write_batch_slice(
                spark.createDataFrame(
                    [(batch_id, *[int(report[k]) for k in _REPORT_KEYS])],
                    "batch_id long, " + ", ".join(
                        f"{k} long" for k in _REPORT_KEYS
                    ),
                ),
                report_dir,
                batch_id,
                rid,
            )

    _drain(
        spark, arrivals_root, f"{id_col} long, {text_col} string",
        checkpoint_dir, step,
    )


_REPORT_KEYS = (
    "input", "after_langid", "after_quality", "after_gopher",
    "after_repetition", "after_injection", "after_exact_dedup",
    "after_near_dedup", "after_exactsubstr",
)

# Same metric names (and, via profile_aggs, same definitions) as the
# batch drift twin — the monitor and curate.drift_profile cannot drift.
from cqs_spark.operators.curate import _DRIFT_METRICS as _MONITOR_METRICS  # noqa: E402


def _history_aggs(metrics: tuple) -> list:
    """The history statistics :func:`_zscore_flag` reads: row count
    ``_n``, and per metric the mean ``_mu_<m>`` and population standard
    deviation ``_sd_<m>``."""
    return [
        F.count(F.lit(1)).alias("_n"),
        *[F.avg(m).alias(f"_mu_{m}") for m in metrics],
        *[F.stddev_pop(m).alias(f"_sd_{m}") for m in metrics],
    ]


def _zscore_flag(
    prof: dict,
    stats,
    metrics: tuple,
    min_history: int,
    z_threshold: float,
) -> bool:
    """Shared drift rule for every profile monitor: flag when any
    metric sits more than z_threshold·sd from the history mean (needs
    min_history rows; a zero-variance history flags on any change).
    ONE implementation so the epsilon rules cannot diverge between the
    text and media monitors."""
    n_hist = int((stats["_n"] if stats else 0) or 0)
    if n_hist < min_history:
        return False
    for m in metrics:
        mu = float(stats[f"_mu_{m}"] or 0.0)
        sd = float(stats[f"_sd_{m}"] or 0.0)
        if sd < 1e-12:
            if abs(prof[m] - mu) > 1e-9:
                return True
        elif abs(prof[m] - mu) > z_threshold * sd:
            return True
    return False


def monitor_arrivals(
    spark: SparkSession,
    arrivals_root: str,
    stats_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    z_threshold: float = 3.0,
    min_history: int = 3,
    source_col: str | None = None,
):
    """Streaming corpus-quality DRIFT MONITOR — the ops layer of the
    arrival pipeline: each micro-batch computes an aggregate quality
    profile (mean composite quality, tokens/doc, stopword and alnum
    ratios, PII rate) as ONE small row, appends it to a staged stats
    table, and flags the batch when any metric sits more than
    ``z_threshold`` standard deviations from the PRIOR batches' profile
    (needs ``min_history`` prior rows first; a zero-variance history
    flags on any change).  A broken upstream feed — encoding glitch,
    truncation, spam flood — surfaces as ``any_drift`` within one batch
    instead of a silently corrupted training dump.

    ``source_col`` adds the PER-SOURCE leg a multi-source ingest needs:
    besides the whole-batch row (``source='__all__'``), one profile row
    per (batch, source), each z-scored against THAT source's own
    history — a one-source spam flood that dilutes into the batch mean
    (2 spam docs among 200) flags on its source's row in one batch.  A
    source first seen mid-stream accrues its own ``min_history`` before
    it can flag, exactly like the stream's first batches.  The stats
    rows then carry a ``source`` column; one stats_dir must stick to
    one mode (the schemas differ).

    Profile rows are run/batch-scoped slices like every other staged
    table (replay excludes the batch's own rows, so a retry
    re-baselines against exactly the history the first attempt saw).
    Per batch the monitor costs one aggregate over the batch (plus one
    per-source aggregate when enabled) and a read of the (tiny: rows =
    batches × sources ever) stats table — nothing touches the corpus
    twice; per-source rows are driver-collected, bounded by the number
    of SOURCES, never by documents.

    Reference parallel: the watch daemon's health reporting
    (src/cli/watch) generalized from index freshness to corpus quality.
    """
    # Metric definitions shared with the batch twin
    # (curate.drift_profile / q157) — ONE source of truth.
    from cqs_spark.operators.curate import profile_aggs, profile_per_doc

    metric_aggs = profile_aggs()
    src_field = ", source string" if source_col is not None else ""
    row_schema = (
        "batch_id long" + src_field + ", "
        + ", ".join(f"{m} double" for m in _MONITOR_METRICS)
        + ", any_drift boolean"
    )

    def step(batch: DataFrame, batch_id: int, rid: str) -> None:
        per_doc = profile_per_doc(batch, id_col, text_col)
        # (source key, profile dict) — '__all__' is the whole batch.
        all_row = per_doc.agg(*metric_aggs).first()  # ONE action
        profs: list[tuple[str, dict[str, float]]] = [(
            "__all__",
            {m: float(all_row[m] or 0.0) for m in _MONITOR_METRICS},
        )]
        if source_col is not None:
            srcs = (
                per_doc.join(batch.select(id_col, source_col), id_col)
                # Group on the RAW source (NULL and all): coalescing
                # first would make a real source literally named
                # '__null__' indistinguishable from the NULL bucket.
                .groupBy(F.col(source_col).cast("string").alias("source"))
                .agg(*metric_aggs)
                .collect()
            )
            for r in srcs:
                if r["source"] in ("__all__", "__null__"):
                    raise ValueError(
                        f"arrival source {r['source']!r} collides with a "
                        "reserved monitor key ('__all__' is the whole-"
                        "batch row, '__null__' the NULL-source bucket); "
                        "rename or prefix the source before monitoring "
                        "(a collision would silently merge its z-score "
                        "history with the reserved row's)"
                    )
            # NULL sources get their own named bucket: a null key would
            # break the deterministic sort below and silently merge
            # with nothing on history reads.
            profs += sorted(
                (
                    "__null__" if r["source"] is None else r["source"],
                    {m: float(r[m] or 0.0) for m in _MONITOR_METRICS},
                )
                for r in srcs
            )

        hist = _read_staged(
            spark,
            stats_dir,
            batch_id,
            row_schema,
            ("batch_id",)
            + (("source",) if source_col is not None else ())
            + _MONITOR_METRICS,
            rid,
        )
        stat_aggs = _history_aggs(_MONITOR_METRICS)
        if source_col is not None:
            by_key = {
                r["source"]: r
                for r in hist.groupBy("source").agg(*stat_aggs).collect()
            }
        else:
            by_key = {"__all__": hist.agg(*stat_aggs).first()}

        rows = []
        for key, prof in profs:
            flagged = _zscore_flag(
                prof, by_key.get(key), _MONITOR_METRICS,
                min_history, z_threshold,
            )
            src_val = (key,) if source_col is not None else ()
            rows.append(
                (
                    int(batch_id),
                    *src_val,
                    *[prof[m] for m in _MONITOR_METRICS],
                    bool(flagged),
                )
            )
        _write_batch_slice(
            spark.createDataFrame(rows, row_schema), stats_dir, batch_id, rid
        )

    _migrate_legacy_slices(spark, stats_dir)
    arrival_schema = f"{id_col} long, " + (
        f"{source_col} string, " if source_col is not None else ""
    ) + f"{text_col} string"
    _drain(spark, arrivals_root, arrival_schema, checkpoint_dir, step)


def _check_media_marker(
    spark: SparkSession,
    index_dir: str,
    kind: str,
    method: str,
    frames: int,
    window: int = 1024,
) -> None:
    """Enforce ONE fingerprint family per media index_dir: the staged
    ``sigs`` table stores bare 64-bit signatures, so dHash, aHash and
    audio delta-sign fingerprints (and audio fingerprints of a
    different frame count or window size) are indistinguishable on
    read — mixing them would silently dedup against the wrong
    signature space.  A marker file records ``image:<method>:v1`` /
    ``audio:frames=<n>:v1`` / ``audio_windowed:window=<w>:frames=<n>:v1``
    on first use and rejects a different one later (the q147/q151
    grams_unit lesson applied from day one — no unversioned era to
    back-compat around)."""
    marker = {
        "image": f"image:{method}:v1",
        "audio": f"audio:frames={frames}:v1",
        "video": "video:v1",
        "audio_windowed": f"audio_windowed:window={window}:frames={frames}:v1",
    }.get(kind)
    if marker is None:
        raise ValueError(f"unknown media kind {kind!r}")
    _claim_marker(
        spark, f"{index_dir}/sigs_kind", marker,
        refusal=lambda prev: (
            f"media index_dir {index_dir} was seeded with {prev!r}; "
            f"refusing to mix with {marker!r} (staged signatures are "
            "not interchangeable across fingerprint families; re-seed "
            "a fresh index_dir to change them)"
        ),
    )


def seed_media_index(
    spark: SparkSession,
    media: DataFrame,
    index_dir: str,
    id_col: str = "media_id",
    data_col: str = "data",
    kind: str = "image",
    method: str = "dhash",
    frames: int = 64,
    window: int = 1024,
) -> None:
    """Day-0 fingerprint index for :func:`media_arrivals`: decode the
    backlog ONCE, stage its (id, simhash) signatures as the
    ``run=__seed__/batch=-1`` slice — the blobs themselves never
    enter the index (at 100 TB the signature table is 16 bytes/item
    against terabytes of pixels)."""
    import os

    from cqs_spark.operators.multimodal import media_signatures

    sg_p = os.path.join(index_dir, "sigs")
    _migrate_legacy_slices(spark, sg_p)
    _check_media_marker(spark, index_dir, kind, method, frames, window)
    sigs = stage(
        media_signatures(media, id_col, data_col, kind, method, frames, window),
        eager=True,
    )
    _write_batch_slice(sigs, sg_p, -1, "__seed__")


def media_arrivals(
    spark: SparkSession,
    arrivals_root: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    data_col: str = "data",
    kind: str = "image",
    method: str = "dhash",
    frames: int = 64,
    window: int = 1024,
    max_hamming: int = 2,
    max_bucket: int | None = 500,
    min_shared: int = 3,
):
    """Streaming perceptual media dedup: each micro-batch of arriving
    blobs (parquet file stream, one file per trigger) runs
    :func:`~cqs_spark.operators.multimodal.incremental_media_neardup`
    against the staged fingerprint index at ``index_dir``; surviving
    items append to ``out_dir`` AND their signatures join the index,
    so later arrivals dedup against earlier survivors too — the media
    leg of the dedup_arrivals family (q171's operator as a
    continuously-maintained pipeline).

    ``kind`` picks the pair rule: hamming on one signature for
    image/audio (<= ``max_hamming``), shared-distinct-hash count
    (>= ``min_shared``) for video frame hashes and audio_windowed
    window fingerprints, whose staged table holds each survivor's hash
    SET — trimmed re-uploads dedup against the index, which whole-clip
    hamming (kind='audio') misses.  Duplicates never join the index (it
    holds canonical survivors only); only the BATCH decodes
    pixels/samples — staged state is signatures, never blobs.  Ids must arrive monotonically increasing
    (append-only arrival log): canonical a < b means the b-side of
    every pair is the newer item, so the b-set IS the batch's
    duplicates.  foreachBatch + per-(run,batch) overwrite slices give
    exactly-once per batch via the checkpoint, the same replay
    contract as dedup_arrivals (_read_staged excludes the current
    run+batch's own slice).
    """
    import os

    from cqs_spark.operators.multimodal import (
        incremental_media_neardup,
        media_signatures,
    )

    sg_p = os.path.join(index_dir, "sigs")
    _migrate_legacy_slices(spark, sg_p)
    _check_media_marker(spark, index_dir, kind, method, frames, window)

    def step(batch: DataFrame, batch_id: int, rid: str) -> None:
        isigs = _read_staged(
            spark, sg_p, batch_id, f"{id_col} long, simhash long",
            (id_col, "simhash"), rid,
        )
        # ONE signature pass per batch: the staged frame feeds the
        # pair join AND the index staging — the decode (the whole
        # per-batch cost for image/JPEG/GIF blobs) never runs twice.
        sigs_b = stage(
            media_signatures(batch, id_col, data_col, kind, method, frames, window),
            eager=True,
        )
        pairs = incremental_media_neardup(
            batch, isigs, id_col, data_col, kind, method, frames,
            max_hamming, max_bucket, batch_sigs=sigs_b, window=window,
            min_shared=min_shared,
        )
        dups = pairs.select(F.col("b").alias(id_col)).distinct()
        survivors = stage(batch.join(dups, id_col, "left_anti"), eager=True)
        _write_batch_slice(survivors, out_dir, batch_id, rid)
        _write_batch_slice(
            sigs_b.join(dups, id_col, "left_anti"), sg_p, batch_id, rid
        )

    _drain(
        spark, arrivals_root, f"{id_col} long, {data_col} binary",
        checkpoint_dir, step,
    )


#: Media-monitor metrics: one header-walk pass, no pixel decode — the
#: ops-layer cost contract (the decode-grade audit is media_audit).
_MEDIA_MONITOR_METRICS = (
    "recognized_ratio",  # container parses (metadata-scan fmt non-null)
    "pii_ratio",         # EXIF GPS/serial/author carriers present
    "meta_text_ratio",   # any text side-channel present
    "mean_kb",           # mean blob size
)


def monitor_media_arrivals(
    spark: SparkSession,
    arrivals_root: str,
    stats_dir: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    data_col: str = "data",
    z_threshold: float = 3.0,
    min_history: int = 3,
):
    """Streaming MEDIA-feed drift monitor — the media twin of
    :func:`monitor_arrivals`: each micro-batch of arriving blobs
    computes one profile row (container-recognized ratio, metadata-PII
    ratio, text-side-channel ratio, mean blob size) from a single
    header-walk pass (``mediameta.media_metadata_scan`` — no pixel
    decode: the monitor is the cheap ops layer; ``media_audit`` is the
    decode-grade release gate), appends it to a staged stats table,
    and flags the batch when any metric sits more than ``z_threshold``
    standard deviations from the prior batches' profile (needs
    ``min_history`` rows first; a zero-variance history flags on any
    change).  A broken media feed — scraper re-encoding to garbage, a
    source that starts shipping EXIF-laden originals instead of
    stripped derivatives — surfaces as ``any_drift`` within one batch.

    Same staged run/batch-slice replay contract as every monitor
    (retries re-baseline against exactly the history the first attempt
    saw)."""
    from cqs_spark.operators.mediameta import media_metadata_scan

    row_schema = (
        "batch_id long, "
        + ", ".join(f"{m} double" for m in _MEDIA_MONITOR_METRICS)
        + ", any_drift boolean"
    )

    def step(batch: DataFrame, batch_id: int, rid: str) -> None:
        sizes = batch.select(
            F.col(id_col), (F.length(data_col) / 1024.0).alias("_kb")
        )
        prof_row = (
            # scan output's id column is always 'media_id' — rename to
            # the caller's id_col so the join resolves for any schema
            media_metadata_scan(batch, id_col, data_col)
            .withColumnRenamed("media_id", id_col)
            .join(sizes, id_col)
            .agg(
                F.avg(
                    F.when(F.col("fmt").isNotNull(), 1.0).otherwise(0.0)
                ).alias("recognized_ratio"),
                F.avg(
                    F.when(F.coalesce(F.col("has_pii"), F.lit(False)), 1.0)
                    .otherwise(0.0)
                ).alias("pii_ratio"),
                F.avg(
                    F.when(F.coalesce(F.col("has_text"), F.lit(False)), 1.0)
                    .otherwise(0.0)
                ).alias("meta_text_ratio"),
                F.avg("_kb").alias("mean_kb"),
            )
            .first()
        )
        prof = {
            m: float(prof_row[m] or 0.0) for m in _MEDIA_MONITOR_METRICS
        }
        hist = _read_staged(
            spark, stats_dir, batch_id, row_schema,
            ("batch_id",) + _MEDIA_MONITOR_METRICS, rid,
        )
        stats = hist.agg(*_history_aggs(_MEDIA_MONITOR_METRICS)).first()
        flagged = _zscore_flag(
            prof, stats, _MEDIA_MONITOR_METRICS, min_history, z_threshold
        )
        rows = [(
            int(batch_id),
            *[prof[m] for m in _MEDIA_MONITOR_METRICS],
            bool(flagged),
        )]
        _write_batch_slice(
            spark.createDataFrame(rows, row_schema), stats_dir, batch_id, rid
        )

    _migrate_legacy_slices(spark, stats_dir)
    _drain(
        spark, arrivals_root, f"{id_col} long, {data_col} binary",
        checkpoint_dir, step,
    )
