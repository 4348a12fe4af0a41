"""Deduplication operators for large-scale corpus curation.

The reference engine dedups exactly by content/canonical hash
(src/schema.sql:80,101; src/cli/pipeline/reuse.rs).  At 100 TB a
training-data pipeline also needs *near*-dup detection; this module
provides the standard ladder:

  exact_dedup          hash-groupBy (canonical_hash shape)
  minhash_signatures   shingle → seeded-min hashes (long format)
  lsh_candidates       band → bucket self-join → candidate pairs
  jaccard_verify       exact Jaccard on candidate pairs only
  minhash_dedup        the composed MinHash+LSH pipeline
  simhash              per-doc 16-bit SimHash (hamming near-dup key)
  token_jaccard_pairs  exact set-similarity join on token sets
  embedding_neardup    cosine-threshold pairs over embeddings

Determinism: all hashing is md5-hex (portable across Spark/DuckDB);
min-hash signatures are *lexicographic string minima* of seeded md5
hashes, which every engine orders identically — no engine-specific
integer hash is involved anywhere.

Scale design: LSH candidate generation shuffles only (band, signature)
keys; exact Jaccard runs on candidate pairs only, never all pairs.
The all-pairs operators (token_jaccard_pairs, embedding_neardup) are
for bounded cohorts; callers cap the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cqs_spark.functions.text import word_shingles_arr, words
from cqs_spark.staging import stage


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct n-word shingles per document: (id, sh).

    The input is fanned out before tokenization when (and only when)
    its partitioning is inadequate for the ~100x shingle explosion —
    corpus files can arrive as few large splits.  The fan-out width is
    size-derived (see cqs_spark.partitioning), so a tiny frame is not
    sprayed across every core and a parquet-split 100 TB corpus skips
    the extra shuffle entirely.

    Dedup happens BEFORE the explode (``array_distinct`` on the
    per-document shingle array): each document is one input row, so
    per-row array dedup is exactly the (id, sh) distinct — without
    shuffling the exploded shingle table (the widest frame in the
    whole ladder; the post-explode ``.distinct()`` it replaces was
    the single largest shuffle in every MinHash query at scale).
    """
    from cqs_spark.partitioning import fan_out

    return (
        fan_out(df.select(id_col, text_col))
        .select(id_col, words(text_col).alias("_t"))
        .select(
            id_col,
            F.explode(F.array_distinct(word_shingles_arr("_t", n))).alias("sh"),
        )
    )


def canonical_text_hash(col) -> F.Column:
    """Whitespace-collapsed lowercased md5 — THE exact-dedup key.

    One definition shared by :func:`exact_dedup`,
    :func:`incremental_exact`, and the streaming curation ladder, so
    "what counts as an exact duplicate" cannot drift between the batch
    and incremental passes.  Reference: src/cli/pipeline/reuse.rs
    canon_key_ref.
    """
    return F.md5(F.lower(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by whitespace-canonicalized md5 (canonical_hash shape).

    Returns (h, keeper, dupes); keeper = min id per hash group.
    Reference: src/cli/pipeline/reuse.rs canon_key_ref.
    """
    h = canonical_text_hash(text_col)
    return (
        df.select(F.col(id_col).alias("id"), h.alias("h"))
        .groupBy("h")
        .agg(F.min("id").alias("keeper"), F.count(F.lit(1)).alias("dupes"))
    )


# Kirsch-Mitzenmacher double hashing: mh_i = MIN (H1 + i·H2) mod P31
# over shingles, where H1/H2 are 44-bit integer prefixes of two md5
# variants of the shingle.  TWO md5s per shingle feed all seeds (the
# naive per-seed re-hash pays num_hashes× the crypto) while keeping
# the per-seed minima pairwise-independent — a single base hash
# correlates the argmins and measurably doubles false LSH candidates.
# i·H2 ≤ 7·2^44 so 64-bit arithmetic never overflows.
_NUM_SEEDS = 8
_P31 = 2147483647

# Shared (textually) with the DuckDB oracle: 11 hex digits → BIGINT.
# Every term casts to BIGINT: instr() is 32-bit in Spark and
# 15 · 16^7 already overflows int32.
_HEX11 = "(" + " + ".join(
    f"CAST(instr('0123456789abcdef', substr({{h}}, {i + 1}, 1)) - 1 AS BIGINT)"
    f" * CAST({16 ** (10 - i)} AS BIGINT)"
    for i in range(11)
) + ")"


def _hash44(col_sql: str):
    return F.expr(_HEX11.format(h=col_sql))


def minhash_signatures(
    sh: DataFrame, id_col: str, num_hashes: int = 8
) -> DataFrame:
    """Wide MinHash signature: (id, mh0..mh{n-1}).

    All seed minima compute in ONE hash aggregation over the shingle
    set — no per-seed row expansion, no shuffle beyond the group-by
    (partial min runs map-side).
    """
    from cqs_spark.partitioning import fan_out

    h1 = _hash44("md5(sh)")
    h2 = _hash44("md5(concat('x', sh))")
    aggs = [
        F.min((h1 + F.lit(i) * h2) % _P31).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    # The fan-out only fires when the shingle frame's partitioning is
    # inadequate for the per-row crypto (two md5s per shingle feed all
    # seeds; unknown_to_cores spreads a staged-but-narrow frame);
    # a well-split shingle table skips it — the repartition used to be
    # an unconditional extra shuffle of the widest frame.
    return fan_out(sh, unknown_to_cores=True).groupBy(id_col).agg(*aggs)


# Per-process sequence for unique observed-metric names (deterministic,
# no RNG/time — just a call counter).  itertools.count is atomic under
# the GIL, so concurrent driver threads building plans can't mint the
# same name (which would resurrect the duplicate-CollectMetrics error).
import itertools as _itertools

_OBSERVE_SEQ = _itertools.count(1)


def band_signatures(sigs: DataFrame, id_col: str) -> DataFrame:
    """Banded LSH rows (id, band, sig) from a wide MinHash signature.

    Band signature = md5('mh_even:mh_odd') (r=2).  The wide signature
    explodes into 4 rows per doc only here — this is also the
    PERSISTED-STATE shape for incremental arrival dedup
    (incremental_minhash): stage it once per index build, then each
    day's batch equi-joins its own bands against it.
    """
    n_bands = sum(1 for c in sigs.columns if c.startswith("mh")) // 2
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col(f"mh{2 * j}").cast("string"),
                        F.col(f"mh{2 * j + 1}").cast("string"),
                    )
                ).alias("sig"),
            )
            for j in range(n_bands)
        ]
    )
    return sigs.select(id_col, F.explode(bands).alias("bs")).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def lsh_candidates(
    sigs: DataFrame,
    id_col: str,
    rows_per_band: int = 2,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Band the signature and self-join buckets → candidate pairs (a, b), a < b.

    Band signature = md5('mh_even:mh_odd'); the wide signature explodes
    into (band, sig) rows only for the bucket join — 4 rows per doc,
    not 8M intermediate hashes.

    ``max_bucket`` is standard LSH hygiene: a degenerate band signature
    (thousands of near-empty docs sharing minima) makes the bucket
    self-join quadratic in that bucket.  Buckets larger than the cap
    are STAR-REDUCED instead of self-joined: every member pairs with
    the bucket's minimum id only — O(n) pairs instead of O(n²).  True
    duplicate mega-buckets (e.g. 1k identical docs) still collapse to
    one cluster, because downstream Jaccard-verify confirms each
    member↔hub pair and label propagation closes the transitive star;
    false-collision buckets cost n verifications instead of n².  The
    reduced-bucket count is logged when INFO is enabled.  Pass
    ``max_bucket=None`` to disable.
    """
    assert rows_per_band == 2, "band signature is specialized to r=2"
    banded = band_signatures(sigs, id_col)
    star = None
    if max_bucket is not None:
        # The banded set now has 4 consumers (oversized agg, star join,
        # anti-join, self-join); materialize it once instead of
        # re-running the signature explode per consumer.
        banded = stage(banded)
        oversized = (
            banded.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_hub"))
            .filter(F.col("_n") > max_bucket)
        )
        # Job-count-neutral observability: piggyback the star-reduce
        # stats on whatever action the caller eventually runs, instead
        # of an eager collect (which used to make the log level change
        # the job count).  The metric name is unique PER CALL: Spark's
        # CheckAnalysis rejects duplicate observed-metric names over
        # different subplans, so a query composing two LSH ladders
        # (union/join of two corpora's candidates) would otherwise
        # fail at action time.
        metric_name = f"lsh_star_reduce_{next(_OBSERVE_SEQ)}"
        oversized = oversized.observe(
            metric_name,
            F.count(F.lit(1)).alias("buckets"),
            F.coalesce(F.sum("_n"), F.lit(0)).alias("rows"),
        )
        import logging

        logging.getLogger(__name__).info(
            "lsh_candidates: star-reduce armed (cap %d); bucket stats on "
            "the '%s' observed metrics", max_bucket, metric_name,
        )
        over_keys = F.broadcast(oversized.select("band", "sig", "_hub"))
        star = (
            banded.join(over_keys, ["band", "sig"])
            .filter(F.col(id_col) != F.col("_hub"))
            .select(
                F.least(id_col, "_hub").alias("a"),
                F.greatest(id_col, "_hub").alias("b"),
            )
        )
        banded = banded.join(
            over_keys.select("band", "sig"), ["band", "sig"], "left_anti"
        )
    a = banded.select(F.col(id_col).alias("a"), "band", "sig")
    b = banded.select(F.col(id_col).alias("b"), "band", "sig")
    pairs = a.join(b, ["band", "sig"]).filter(F.col("a") < F.col("b")).select("a", "b")
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def jaccard_verify(sh: DataFrame, id_col: str, cand: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs: (a, b, jac).

    Joins the candidate pairs back to the shingle sets; |A ∩ B| via a
    shingle equi-join restricted to candidates, |A ∪ B| = |A|+|B|-∩.
    """
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    common = (
        cand.join(sa, "a")
        .join(sb, ["b"])
        .filter(F.col("sh_a") == F.col("sh_b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    return (
        common.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            (
                F.col("common")
                / F.nullif(F.col("na") + F.col("nb") - F.col("common"), F.lit(0))
            ).alias("jac"),
        )
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash → LSH bands → candidate pairs → exact-Jaccard verify.

    The shingle set feeds the signature pass AND the verify pass (3
    consumers); without staging Catalyst replicates the
    tokenize+explode+distinct subtree into every branch (measured: 12
    scans, 0 reused exchanges).  Staging computes it once and
    truncates the lineage.
    """
    # EAGER on purpose: the shingle set has multiple consumers inside
    # ONE action (signatures + both verify joins) that run as racing
    # stages (measured on q77/q160's ladders: 2-5x slower lazy).
    sh = stage(shingles(df, id_col, text_col, shingle_n), eager=True)
    sigs = minhash_signatures(sh, id_col, num_hashes)
    cand = lsh_candidates(sigs, id_col)
    return jaccard_verify(sh, id_col, cand)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Asymmetric near-dup detection: shingle-set CONTAINMENT
    c(A→B) = |A∩B| / |A| over the LSH candidate pairs — the
    subset/boilerplate case symmetric Jaccard misses (a short doc
    quoted whole inside a long one has tiny Jaccard but containment 1).

    (a, b, cont_a_in_b, cont_b_in_a), kept when either direction
    reaches ``threshold``.  Reuses the minhash/LSH candidate machinery,
    so the cost profile is identical to minhash_dedup; the recall
    caveat is inherited too — a pair must first collide in a band, and
    extreme length asymmetry lowers collision odds (the standard scale
    fix is bucketing by the SHORTER side's signature; at the reference
    corpus shapes plain banding recalls the quoted-block cases).
    """
    # Eager: multi-consumer within one action (see minhash_dedup).
    sh = stage(shingles(df, id_col, text_col, shingle_n), eager=True)
    sigs = minhash_signatures(sh, id_col, num_hashes)
    cand = lsh_candidates(sigs, id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    common = (
        cand.join(sa, "a")
        .join(sb, ["b"])
        .filter(F.col("sh_a") == F.col("sh_b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    out = (
        common.join(na, "a")
        .join(nb, "b")
        .select(
            "a", "b",
            (F.col("common") / F.nullif(F.col("na"), F.lit(0))).alias("cont_a_in_b"),
            (F.col("common") / F.nullif(F.col("nb"), F.lit(0))).alias("cont_b_in_a"),
        )
    )
    return out.filter(
        F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    lp_max_iters: int = 25,
) -> DataFrame:
    """APPLY near-dedup: keep one representative per duplicate cluster.

    minhash_dedup finds verified near-dup pairs (jac ≥ threshold);
    label propagation over the pair graph clusters transitive
    duplicates (A≈B≈C collapses to ONE survivor even when A-C never
    paired); the minimum id per cluster survives.  Propagation runs to
    FIXPOINT (bounded by ``lp_max_iters``) so duplicate chains longer
    than any fixed iteration count still collapse to one survivor.
    Returns the deduplicated corpus — the curation step itself, not
    just the report.  Unpaired documents pass through untouched (they
    never enter the propagation graph).  Propagation is
    strict-to-fixpoint: exceeding ``lp_max_iters`` raises rather than
    silently under-merging (partial components would desync the
    transitive-closure oracle).

    Documented recall bound: when the banded-LSH layer star-reduces
    an oversized bucket (> max_bucket), candidates are hub-spoke
    only, so a member similar to another member but not to the hub
    can miss its pair and survive as a kept duplicate — under-merge,
    never false merge (every emitted pair is Jaccard-verified).
    """
    from cqs_spark.operators.graph import label_propagation

    pairs = minhash_dedup(df, id_col, text_col, shingle_n=shingle_n).filter(
        F.col("jac") >= threshold
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    clusters = label_propagation(edges, converge=True, max_iters=lp_max_iters)
    losers = clusters.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# SQL fragment shared (textually) with the DuckDB oracle so both engines
# compute the identical hex→int conversion for SimHash bit extraction.
_HEX16 = (
    "((instr('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096"
    " + (instr('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr({h}, 4, 1)) - 1))"
)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Per-doc SimHash over distinct normalized terms: (id, simhash).

    Each term contributes ±1 to every bit position of its 16-bit md5
    prefix; bit j of the result is set iff the signed sum is >= 0.
    Near-dup docs differ in few bits (hamming distance on the key).
    """
    from cqs_spark.functions.text import terms

    if not 1 <= bits <= 16:
        # The term hash is a 16-bit md5 prefix (_HEX16): positions past
        # bit 15 would silently sum to -count and degenerate to 0.
        raise ValueError(f"simhash bits must be in [1, 16], got {bits}")
    from cqs_spark.partitioning import fan_out

    # Per-doc term dedup BEFORE the explode (one row per doc, so
    # array_distinct == the (id, term) distinct) — no shuffle of the
    # exploded term frame; adaptive fan-out as in shingles().
    toks = (
        fan_out(df)
        .select(
            id_col,
            F.explode(F.array_distinct(terms(text_col))).alias("term"),
        )
        .withColumn("x", F.expr(_HEX16.format(h="md5(term)")))
    )
    bit_cols = [
        F.sum(
            F.when(
                F.shiftright(F.col("x"), j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_cols)
    sim = None
    for j in range(bits):
        term_j = F.when(F.col(f"s{j}") >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sim = term_j if sim is None else sim + term_j
    return agg.select(id_col, sim.cast("long").alias("simhash"))


def _simhash_bands(
    sig: DataFrame, id_col: str, bits: int, max_hamming: int
) -> DataFrame:
    """(id, simhash, band, val): the max_hamming+1 pigeonhole bands of
    a signature frame — pure per-row arithmetic (derivable from a
    PERSISTED signature table with no text re-touch), shared by
    simhash_neardup and incremental_simhash."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    nbands = max_hamming + 1
    sizes = [
        bits // nbands + (1 if i < bits % nbands else 0) for i in range(nbands)
    ]
    offs = [sum(sizes[:i]) for i in range(nbands)]
    # Integer bit ops, never float division: floor(x / 2**off) loses
    # exactness past ~53 bits and breaks on the 64-bit sign bit, which
    # would silently void the exact pigeonhole recall guarantee.  The
    # arithmetic shift's sign-extension is cut by the mask, so a
    # signed 64-bit signature's top band is still extracted exactly.
    # A band as wide as a 64-bit signature is the signature itself (its
    # mask would not fit in a long literal).
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                (
                    F.col("simhash")
                    if size >= 64
                    else F.shiftright(F.col("simhash"), off)
                    .bitwiseAND(F.lit((1 << size) - 1))
                )
                .cast("long")
                .alias("val"),
            )
            for i, (off, size) in enumerate(zip(offs, sizes))
        ]
    )
    return sig.select(
        F.col(id_col), F.col("simhash"), F.explode(band_arr).alias("_b")
    ).select(
        id_col, "simhash", F.col("_b.band").alias("band"), F.col("_b.val").alias("val")
    )


def simhash_neardup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 1,
    max_bucket: int | None = 500,
) -> DataFrame:
    """SimHash near-dup JOIN (the Manku et al. WWW'07 shape): pigeonhole
    the signature into ``max_hamming + 1`` bit-bands — two signatures
    within hamming distance d must agree EXACTLY on at least one band —
    bucket-join per band, then verify true distance with one
    ``bit_count(xor)`` per candidate pair.

    (a, b, hamming) with hamming <= max_hamming, a < b.  Completes the
    SimHash leg from per-doc signature (:func:`simhash`, q28) to an
    actual dedup operator; the recall side of the pigeonhole is EXACT
    (no probabilistic misses like MinHash banding), the precision side
    is the verify.

    Scale shape mirrors ``lsh_candidates``: banding explodes the
    per-doc SIGNATURE table (max_hamming+1 rows per doc, never the
    corpus), buckets join on (band, value), oversized buckets
    star-reduce to the min-id hub (O(n) pairs, duplicates still
    collapse transitively downstream), and the verify is a constant
    bit op on the joined pair — the shingle table is never re-touched.
    """
    sig = simhash(df, id_col, text_col, bits=bits)
    return hamming_pairs(sig, id_col, bits, max_hamming, max_bucket)


def hamming_pairs(
    sig: DataFrame, id_col: str, bits: int, max_hamming: int,
    max_bucket: int | None,
) -> DataFrame:
    """The hamming pair rule over an (id, simhash) signature frame of
    ``bits``-wide signatures: (a, b, hamming), a < b, hamming <=
    ``max_hamming`` — :func:`_simhash_band_pairs` over the pigeonhole
    bands, then the ``bit_count(xor)`` verify.  Shared by the text
    SimHash (:func:`simhash_neardup`) and the perceptual media kinds
    (``multimodal.perceptual_neardup``, ``multimodal.media_audit``).
    With a cap the bands are staged EAGERLY: the capped join reads them
    4 times in one action (oversized agg, star join, anti-join,
    self-join)."""
    banded = _simhash_bands(sig, id_col, bits, max_hamming)
    if max_bucket is not None:
        banded = stage(banded, eager=True)
    return _hamming_verify(
        _simhash_band_pairs(banded, id_col, max_bucket), max_hamming
    )


def _hamming_verify(cand: DataFrame, max_hamming: int) -> DataFrame:
    """(a, b, hamming) from candidate pairs (a, b, _sa, _sb): one
    ``bit_count(xor)`` per distinct candidate, kept iff hamming <=
    ``max_hamming`` — the precision side of every hamming rule."""
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("long")
    return (
        cand.distinct()
        .select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _simhash_band_pairs(
    banded: DataFrame, id_col: str, max_bucket: int | None
) -> DataFrame:
    """Candidate pairs (a, b, _sa, _sb) from a banded signature frame
    via the per-band bucket self-join, with the star-reduce cap on
    oversized buckets — the shared core of simhash_neardup and the
    within-batch leg of incremental_simhash.  With a cap the caller
    stages the frame eagerly first (see :func:`hamming_pairs`)."""
    star = None
    if max_bucket is not None:
        oversized = (
            banded.groupBy("band", "val")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.min(id_col).alias("_hub"),
                F.min_by("simhash", id_col).alias("_hubsig"),
            )
            .filter(F.col("_n") > max_bucket)
        )
        star = (
            banded.join(
                F.broadcast(oversized.select("band", "val", "_hub", "_hubsig")),
                ["band", "val"],
            )
            .filter(F.col(id_col) > F.col("_hub"))
            .select(
                F.col("_hub").alias("a"),
                F.col(id_col).alias("b"),
                F.col("_hubsig").alias("_sa"),
                F.col("simhash").alias("_sb"),
            )
        )
        banded = banded.join(
            F.broadcast(oversized.select("band", "val")), ["band", "val"], "left_anti"
        )
    a = banded.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("_sa"), "band", "val"
    )
    b = banded.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("_sb"), "band", "val"
    )
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "_sa", "_sb")
    )
    if star is not None:
        cand = cand.unionByName(star)
    return cand


def incremental_simhash(
    batch: DataFrame,
    indexed_sigs: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 1,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Incremental SimHash near-dedup: a NEW batch against an indexed
    corpus's PERSISTED signatures — the hamming analogue of
    :func:`incremental_minhash`, completing the incremental family
    (exact q99 / MinHash q132 / semantic q133 / SimHash q147).

    Only the batch touches text.  ``indexed_sigs`` is the persisted
    (id, simhash) table (:func:`simhash` output staged to parquet);
    its pigeonhole bands derive by per-row arithmetic on read — no
    shingles, no re-hash, no corpus text.  Candidates are batch↔batch
    (band self-join with star-reduce, via simhash_neardup's core) plus
    batch↔indexed: the BATCH bands broadcast against the indexed band
    projection, so the index side joins map-side with NO shuffle —
    the daily-batch-vs-100 TB-index plan.  Oversized INDEXED buckets
    star-reduce to their min-id hub (each batch hit pairs with the hub
    only).  Verify is one bit_count(xor) per candidate.

    Returns (a, b, hamming) with hamming <= max_hamming, a < b.
    Batch ids must be disjoint from indexed ids.
    """
    sig_b = simhash(batch, id_col, text_col, bits=bits)
    return incremental_sig_neardup(
        sig_b, indexed_sigs, id_col, bits, max_hamming, max_bucket
    )


def incremental_sig_neardup(
    sig_batch: DataFrame,
    indexed_sigs: DataFrame,
    id_col: str,
    bits: int = 16,
    max_hamming: int = 1,
    max_bucket: int | None = 500,
) -> DataFrame:
    """The signature-frame core of :func:`incremental_simhash`: a new
    batch's (id, simhash) frame against a PERSISTED (id, simhash)
    index, pigeonhole band join both legs, one bit_count(xor) verify
    per candidate.  Shared by the text SimHash (q147) and the
    perceptual media fingerprints (dHash/aHash images, delta-sign
    audio — ``multimodal.incremental_media_neardup``, q171), which
    differ only in how the signature is derived from the payload.

    batch↔batch goes through ``_simhash_band_pairs`` (star-reduce on
    degenerate batch buckets); batch↔indexed broadcasts the BATCH
    bands against the indexed band projection so the index side joins
    map-side with NO shuffle; oversized INDEXED buckets star-reduce
    to their min-id hub.  Returns (a, b, hamming), a < b, hamming <=
    ``max_hamming``.  Batch ids must be disjoint from indexed ids.
    """
    banded_b = stage(
        _simhash_bands(sig_batch, id_col, bits, max_hamming), eager=True
    )
    banded_i = _simhash_bands(indexed_sigs, id_col, bits, max_hamming)

    # batch↔batch: the capped band join — "the batch is small" is a
    # workload assumption, not a guarantee, and a degenerate band value
    # inside a large batch would otherwise go quadratic.
    within = _simhash_band_pairs(banded_b, id_col, max_bucket)

    star = None
    if max_bucket is not None:
        hubs = (
            banded_i.groupBy("band", "val")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.min(id_col).alias("_hub"),
                F.min_by("simhash", id_col).alias("_hubsig"),
            )
            .filter(F.col("_n") > max_bucket)
            .select("band", "val", "_hub", "_hubsig")
        )
        star = (
            banded_b.join(F.broadcast(hubs), ["band", "val"])
            .select(
                F.least(id_col, "_hub").alias("a"),
                F.greatest(id_col, "_hub").alias("b"),
                F.least(
                    F.struct(id_col, "simhash"),
                    F.struct(F.col("_hub").alias(id_col), F.col("_hubsig").alias("simhash")),
                )["simhash"].alias("_sa"),
                F.greatest(
                    F.struct(id_col, "simhash"),
                    F.struct(F.col("_hub").alias(id_col), F.col("_hubsig").alias("simhash")),
                )["simhash"].alias("_sb"),
            )
        )
        banded_i = banded_i.join(
            F.broadcast(hubs.select("band", "val")), ["band", "val"], "left_anti"
        )
    cross = (
        F.broadcast(
            banded_b.select(
                F.col(id_col).alias("_bid"),
                F.col("simhash").alias("_bsig"),
                "band",
                "val",
            )
        )
        .join(
            banded_i.select(
                F.col(id_col).alias("_iid"),
                F.col("simhash").alias("_isig"),
                "band",
                "val",
            ),
            ["band", "val"],
        )
        .select(
            F.least("_bid", "_iid").alias("a"),
            F.greatest("_bid", "_iid").alias("b"),
            F.least(
                F.struct(F.col("_bid").alias("i"), F.col("_bsig").alias("s")),
                F.struct(F.col("_iid").alias("i"), F.col("_isig").alias("s")),
            )["s"].alias("_sa"),
            F.greatest(
                F.struct(F.col("_bid").alias("i"), F.col("_bsig").alias("s")),
                F.struct(F.col("_iid").alias("i"), F.col("_isig").alias("s")),
            )["s"].alias("_sb"),
        )
    )
    cand = within.unionByName(cross)
    if star is not None:
        cand = cand.unionByName(star)
    return _hamming_verify(cand, max_hamming)


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None = None,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact token-set Jaccard similarity join: (a, b, jac) with jac >= t.

    All-pairs within a group — for bounded cohorts.  The scale path is
    minhash_dedup; this is the exact verifier / small-corpus variant.

    Input contract (same as ``shingles``): ONE row per ``id_col``
    value.  The per-doc term dedup is an in-row ``array_distinct``
    before the explode, which equals the (id, t) distinct only under
    that contract; duplicate id rows would double-count sizes and
    common terms.
    """
    from cqs_spark.functions.text import terms

    cols = [id_col] + ([group_col] if group_col else [])
    # Per-doc distinct terms without a post-explode shuffle (each doc
    # is ONE input row, so in-row array_distinct equals the (id, t)
    # distinct — same trick as shingles); staged once for its three
    # consumers (sizes + both sides of the self-join).  EAGER: the
    # three consumers are concurrent stages of ONE action — the
    # topology minhash_dedup documents as racy under a lazy mark.
    toks = stage(
        df.select(*cols, F.explode(F.array_distinct(terms(text_col))).alias("t")),
        eager=True,
    )
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    join_keys = ["t"] + ([group_col] if group_col else [])
    a = toks.select(*[F.col(c).alias(f"{c}_a") for c in [id_col]], *join_keys)
    b_sel = [F.col(id_col).alias(f"{id_col}_b")] + [F.col(k) for k in join_keys]
    b = toks.select(*b_sel)
    common = (
        a.join(b, join_keys)
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .groupBy(f"{id_col}_a", f"{id_col}_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col(id_col).alias(f"{id_col}_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias(f"{id_col}_b"), F.col("n").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(na, f"{id_col}_a")
        .join(nb, f"{id_col}_b")
        .select(
            F.col(f"{id_col}_a").alias("a"),
            F.col(f"{id_col}_b").alias("b"),
            jac.alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def embedding_neardup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_rows: int = 4096,
    n_blocks: int | None = None,
) -> DataFrame:
    """Cosine-threshold near-dup pairs over an embedding column.

    Exact all-pairs via FULLY DISTRIBUTED blocked matrix multiply —
    nothing ever collects to the driver.  Rows hash into ``n_blocks``
    deterministic blocks; each unordered block pair (i ≤ j) becomes one
    task group that GEMMs block i against block j in BLAS and emits only
    above-threshold (a < b) pairs.  Replication cost: each row shuffles
    ~n_blocks times (inherent to exact all-pairs — every block must meet
    every other); per-task memory is two blocks + a block_rows² score
    tile (4096² doubles = 128 MB), independent of corpus size, so the
    operator survives a 100× scale-up by growing n_blocks, not any
    single node.  Compute is inherently O(N²·d); the truly-unbounded
    scale path remains LSH bucketing (minhash_dedup for text,
    vectorops.lsh_bucket_topk / ivf_topk for vectors).

    Reference shape: brute-force scan src/search/query.rs:316, blocked
    for corpus×corpus instead of query×corpus.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    v = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if n_blocks is None:
        n = v.count()  # one action at plan time, not per row
        n_blocks = max(1, -(-n // block_rows))
    nb = n_blocks
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int")

    # Side A covers (bi = own block, bj = own..nb-1); side B covers
    # (bi = 0..own block, bj = own).  Group (i, j) with i <= j then holds
    # block i as side 'a' and block j as side 'b' — every unordered block
    # pair meets in exactly one group (diagonal groups hold one block on
    # both sides; the id-order filter dedups within them).
    tagged = v.withColumn("blk", blk)
    side_a = tagged.select(
        "id", "v", F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(nb - 1))).alias("bj"),
        F.lit("a").alias("side"),
    )
    side_b = tagged.select(
        "id", "v",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit("b").alias("side"),
    )
    both = side_a.unionByName(side_b)

    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("cos", T.DoubleType(), False),
        ]
    )

    def gemm(key, pdf):
        a_pdf = pdf[pdf["side"] == "a"]
        b_pdf = pdf[pdf["side"] == "b"]
        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame({"a": [], "b": [], "cos": []}).astype(
                {"a": "int64", "b": "int64", "cos": "float64"}
            )

        def unit(rows):
            m = np.stack(rows.to_numpy()).astype(np.float64)
            nrm = np.sqrt((m * m).sum(axis=1))
            nrm[nrm == 0.0] = 1.0
            return m / nrm[:, None]

        a_ids = a_pdf["id"].to_numpy()
        b_ids = b_pdf["id"].to_numpy()
        cos = unit(a_pdf["v"]) @ unit(b_pdf["v"]).T
        hit = cos >= threshold
        if key[0] == key[1]:
            # Diagonal: both sides are the same block, every unordered
            # pair appears twice in the tile — keep the a < b half.
            hit &= a_ids[:, None] < b_ids[None, :]
            ai, bi = np.nonzero(hit)
            lo, hi = a_ids[ai], b_ids[bi]
        else:
            # Off-diagonal: each unordered pair appears exactly once;
            # canonicalize to (min, max) — the smaller id may live in
            # EITHER block.
            ai, bi = np.nonzero(hit)
            x, y = a_ids[ai], b_ids[bi]
            lo, hi = np.minimum(x, y), np.maximum(x, y)
        return pd.DataFrame({"a": lo, "b": hi, "cos": cos[ai, bi]})

    return both.groupBy("bi", "bj").applyInPandas(gemm, schema)


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public): cluster
    the embedding space, then flag within-cluster rows whose cosine to a
    LOWER-id cluster-mate reaches the threshold — survivors are the
    is_dup=false rows, one per semantic neighborhood.

    (id, centroid_id, is_dup).  Assignment is one broadcast pass
    (vectorops.ivf_assign, k×D literals); candidate pairs come from a
    within-cluster self-join, so pairwise work is O(Σ sᵢ²) ≈ N²/k
    instead of N² — the whole point of clustering first.  The join
    shuffles both sides on centroid_id once; cosine is a JVM
    expression (no Python).  A pathologically large cluster at 100 TB
    takes embedding_neardup's blocked GEMM *per cluster* (same
    contract); the min-id survivor rule keeps the operator a pure
    function of the input, no iteration.

    Reference parallel: exact canonical-hash dedup
    (src/cli/pipeline/reuse.rs) is the degenerate threshold=1 case;
    this is its embedding-space generalization.
    """
    from cqs_spark.functions.vector import dot
    from cqs_spark.operators.vectorops import ivf_assign

    assign = ivf_assign(emb, centroids, id_col, vec_col)
    v = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", F.sqrt(dot("v", "v")))
    # The assignment pass (corpus × centroids argmax) feeds BOTH sides
    # of the pair join AND the output rows; checkpoint it once so the
    # plan materializes one assignment instead of three.
    t = stage(v.join(assign, "id"))
    assign = t.select("id", "centroid_id")
    a = t.select(
        F.col("id").alias("a_id"), F.col("v").alias("a_v"),
        F.col("nrm").alias("a_nrm"), F.col("centroid_id").alias("cid"),
    )
    b = t.select(
        F.col("id").alias("b_id"), F.col("v").alias("b_v"),
        F.col("nrm").alias("b_nrm"), F.col("centroid_id").alias("cid"),
    )
    cos = dot("a_v", "b_v") / F.nullif(F.col("a_nrm") * F.col("b_nrm"), F.lit(0.0))
    dups = (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(cos >= threshold)
        .select(F.col("b_id").alias("id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assign.join(dups, "id", "left")
        .select(
            "id", "centroid_id",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def semantic_leakage(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    source_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Cross-source SEMANTIC leakage: the embedding-modality member of
    the leakage family (q146 finds cross-source k-GRAM sharing — text
    surface; this finds sources carrying near-identical MEANING even
    when a paraphrase defeats the gram match — the standard way eval
    sets leak into crawls).

    For every source pair, count within-cluster cross-source pairs at
    cosine ≥ ``threshold``: (source_a, source_b, n_pairs, n_docs)
    with source_a < source_b lexicographically; n_docs = distinct
    documents involved on either side.

    Scale shape is :func:`semantic_dedup`'s: one broadcast centroid
    assignment, a within-cluster self-join (O(N²/k), never N²), cosine
    as a JVM expression — and the OUTPUT is bounded by n_sources²,
    never documents², so the report stays collectable at any corpus
    size.
    """
    from cqs_spark.functions.vector import dot
    from cqs_spark.operators.vectorops import ivf_assign

    assign = ivf_assign(emb, centroids, id_col, vec_col)
    v = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(source_col).alias("src"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", F.sqrt(dot("v", "v")))
    t = stage(v.join(assign, "id"))
    a = t.select(
        F.col("id").alias("a_id"), F.col("src").alias("a_src"),
        F.col("v").alias("a_v"), F.col("nrm").alias("a_nrm"),
        F.col("centroid_id").alias("cid"),
    )
    b = t.select(
        F.col("id").alias("b_id"), F.col("src").alias("b_src"),
        F.col("v").alias("b_v"), F.col("nrm").alias("b_nrm"),
        F.col("centroid_id").alias("cid"),
    )
    cos = dot("a_v", "b_v") / F.nullif(
        F.col("a_nrm") * F.col("b_nrm"), F.lit(0.0)
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.col("a_src") != F.col("b_src"))
        .filter(cos >= threshold)
        .select(
            F.least("a_src", "b_src").alias("source_a"),
            F.greatest("a_src", "b_src").alias("source_b"),
            "a_id", "b_id",
        )
    )
    # One aggregation pass over the exploded pair sides: n_pairs =
    # rows/2 exactly, n_docs = distinct ids — a proper shuffle
    # aggregate, never a per-group collected array (pairs within one
    # source pair are unbounded at scale).
    exploded = pairs.select(
        "source_a", "source_b",
        F.explode(F.array("a_id", "b_id")).alias("_id"),
    )
    return exploded.groupBy("source_a", "source_b").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.countDistinct("_id").alias("n_docs"),
    )


def dedup_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    scores: DataFrame,
    score_col: str = "quality",
    threshold: float = 0.8,
    shingle_n: int = 3,
    lp_max_iters: int = 25,
) -> DataFrame:
    """Quality-aware near-dedup: keep each cluster's BEST member.

    Same cluster construction as dedup_corpus (MinHash+LSH verified
    pairs → min-label components at fixpoint), but the survivor is the
    member with the highest ``score_col`` (tie → lowest id) instead of
    the lowest id — the RefinedWeb-style rule: when near-duplicates
    differ in quality, deduplication should keep the good copy.
    ``scores`` carries (id_col, score_col); unpaired documents are
    their own singleton cluster and always survive.  Returns the
    surviving rows of ``df`` plus (cluster, score_col).
    """
    from pyspark.sql import Window

    from cqs_spark.operators.graph import label_propagation

    pairs = minhash_dedup(df, id_col, text_col, shingle_n=shingle_n).filter(
        F.col("jac") >= threshold
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    clusters = label_propagation(edges, converge=True, max_iters=lp_max_iters)
    assign = (
        df.select(id_col)
        .join(clusters.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col, F.coalesce(F.col("label"), F.col(id_col)).alias("cluster")
        )
    )
    scored = assign.join(scores.select(id_col, score_col), id_col)
    w = Window.partitionBy("cluster").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    survivors = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, "cluster", score_col)
    )
    return df.join(survivors, id_col)


def dedup_source_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-source duplicate-leakage matrix: which sources copy from
    which?  MinHash near-dup pairs at ``jac >= threshold`` are mapped
    to their source pair (order-normalized) and aggregated — the
    provenance audit run before trusting per-source mixture weights
    (a source whose content is 80% another source's clones should not
    count twice in the mix).

    (source_lo, source_hi, n_pairs, avg_jac), ordered.

    Shape at scale: rides the full LSH ladder (banded candidates,
    star-reduced skew, verify on candidates only); the two source
    lookups join on the doc id; the final matrix is |sources|² rows.
    """
    pairs = minhash_dedup(df, id_col, text_col).filter(
        F.col("jac") >= threshold
    )
    src = df.select(F.col(id_col).alias("_sid"), F.col(source_col).alias("_src"))
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    return (
        pairs.join(src.withColumnRenamed("_sid", "a").withColumnRenamed("_src", "src_a"), "a")
        .join(src.withColumnRenamed("_sid", "b").withColumnRenamed("_src", "src_b"), "b")
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            "jac",
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            r4(F.avg("jac")).alias("avg_jac"),
        )
        .orderBy("source_lo", "source_hi")
    )


def incremental_exact(
    batch: DataFrame,
    existing: DataFrame,
    id_col: str,
    text_col: str,
    prehashed: bool = False,
) -> DataFrame:
    """Incremental exact dedup: which docs of a NEW batch survive
    against an already-indexed corpus?  The steady-state form of
    exact dedup — a 100 TB pipeline never re-dedups the world, it
    anti-joins each day's arrivals against the persisted fingerprint
    table (reference parallel: upsert-by-content-hash at index time,
    src/schema.sql:101, index/incremental.py reconcile).

    Two rules, one pass: within the batch the smallest id per content
    hash wins; a batch doc whose hash exists in ``existing`` is
    dropped entirely.  Returns surviving batch rows (id, h).

    ``prehashed=True`` declares that ``existing`` already carries the
    canonical hash in column ``h`` (the staged hash table of the
    streaming curation ladder) — an EXPLICIT contract, never sniffed
    from column names, because a frame that merely happens to carry
    some other column called "h" would silently anti-join nothing.

    Shape at scale: the batch groupBy is map-side combined; the
    anti-join keys on the hash (broadcast when the DAILY batch is
    small relative to the index — here the existing side is the big
    one, so the join shuffles on h and AQE picks the build side).
    """
    bh = batch.select(
        F.col(id_col), canonical_text_hash(F.col(text_col)).alias("h")
    )
    within = bh.groupBy("h").agg(F.min(id_col).alias(id_col))
    if prehashed:
        seen = existing.select("h").distinct()
    else:
        seen = existing.select(
            canonical_text_hash(F.col(text_col)).alias("h")
        ).distinct()
    return (
        within.join(seen, "h", "left_anti")
        .select(id_col, "h")
        .orderBy(id_col)
    )


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 8,
    max_bucket: int | None = 500,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the persisted LSH-index state for incremental near-dedup:
    (shingle table, banded signature table, oversized-bucket hub table).

    At 100 TB the index is built ONCE per corpus and staged as parquet
    (``cqs_spark.staging.durable``); every day's arrivals then run
    ``incremental_minhash`` against the staged tables — the steady
    state never re-shingles the world.  The hub table (buckets with
    more than ``max_bucket`` members, with their min-id hub) is
    index-side state too: computing it here means the daily batch pass
    never aggregates over the full band table.  The shingle table is
    the verify-side state (exact Jaccard needs it) and dominates the
    footprint; sites that accept signature-estimated Jaccard can drop
    it and verify against estimated similarity instead.
    """
    # Each index table has MULTIPLE consumers downstream
    # (incremental_minhash joins the band table twice — hub remap +
    # candidate probe — and the shingle table feeds both sides of the
    # verify join): without staging, each consumer re-runs the whole
    # shingle→sign→band lineage (measured on q132: 13.8 s → 9.8 s
    # after staging, identical rows).
    sh = stage(shingles(df, id_col, text_col, shingle_n))
    bands = stage(
        band_signatures(minhash_signatures(sh, id_col, num_hashes), id_col)
    )
    hubs = stage(
        bands.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_hub"))
        .filter(F.col("_n") > (max_bucket if max_bucket is not None else 2**62))
        .select("band", "sig", "_hub")
    )
    return sh, bands, hubs


def incremental_minhash(
    batch: DataFrame,
    indexed_shingles: DataFrame,
    indexed_bands: DataFrame,
    id_col: str,
    text_col: str,
    indexed_hubs: DataFrame | None = None,
    shingle_n: int = 3,
    num_hashes: int = 8,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Incremental MinHash near-dedup: a NEW batch against an
    already-indexed corpus, without touching the corpus text.

    The steady-state form of the LSH ladder (the near-dup analogue of
    ``incremental_exact``): only the batch is shingled and signed; the
    indexed side contributes its PERSISTED (id, band, sig) and
    (id, sh) tables from ``build_lsh_index``.  Candidates are
    batch↔batch (LSH self-join with the usual star-reduce hygiene)
    plus batch↔indexed (the BATCH bands broadcast against the indexed
    band table, so the index side joins map-side with NO shuffle — the
    plan a 1000-executor cluster wants for a small daily batch against
    a 100 TB index).  Oversized INDEXED buckets star-reduce via the
    precomputed hub table (pass ``indexed_hubs`` from build_lsh_index;
    falls back to an ad-hoc aggregation over the band table): each
    batch hit pairs with the bucket's min-id hub only, bounding a
    degenerate band at O(|batch∩bucket|) pairs.  Exact-Jaccard verify
    is restricted to candidate ids first, so the sizes/intersection
    aggregations run over the TOUCHED corpus slice, never the whole
    indexed shingle table.

    Returns verified (a, b, jac) pairs, canonical a < b.  Batch ids
    must be disjoint from indexed ids.  Oracle-gated as q132.
    """
    # Eager: multi-consumer within one action (see minhash_dedup).
    sh_b = stage(shingles(batch, id_col, text_col, shingle_n), eager=True)
    sigs_b = minhash_signatures(sh_b, id_col, num_hashes)
    within = lsh_candidates(sigs_b, id_col, max_bucket=max_bucket)

    bands_b = stage(band_signatures(sigs_b, id_col))
    idx = indexed_bands
    star = None
    if max_bucket is not None:
        if indexed_hubs is None:
            indexed_hubs = (
                idx.groupBy("band", "sig")
                .agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.min(id_col).alias("_hub"),
                )
                .filter(F.col("_n") > max_bucket)
                .select("band", "sig", "_hub")
            )
        over_keys = F.broadcast(indexed_hubs.select("band", "sig", "_hub"))
        star = (
            bands_b.join(over_keys, ["band", "sig"])
            .select(
                F.least(id_col, "_hub").alias("a"),
                F.greatest(id_col, "_hub").alias("b"),
            )
        )
        idx = idx.join(
            over_keys.select("band", "sig"), ["band", "sig"], "left_anti"
        )
    cross = (
        F.broadcast(
            bands_b.select(F.col(id_col).alias("_bid"), "band", "sig")
        )
        .join(
            idx.select(F.col(id_col).alias("_iid"), "band", "sig"),
            ["band", "sig"],
        )
        .select(
            F.least("_bid", "_iid").alias("a"),
            F.greatest("_bid", "_iid").alias("b"),
        )
    )
    pairs = within.unionByName(cross)
    if star is not None:
        pairs = pairs.unionByName(star)
    pairs = stage(pairs.distinct())
    touched = pairs.select(
        F.explode(F.array("a", "b")).alias(id_col)
    ).distinct()
    sh_all = sh_b.unionByName(indexed_shingles.select(id_col, "sh")).join(
        touched, id_col, "left_semi"
    )
    return jaccard_verify(sh_all, id_col, pairs)


def build_semantic_index(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Persisted assignment state for incremental semantic dedup:
    (id, centroid_id, v, nrm) — the indexed corpus with its centroid
    assignment and precomputed norm, built once per index and persisted
    by the caller as parquet (partitionable by centroid_id, so the daily
    batch pass scans only the clusters its arrivals land in)."""
    from cqs_spark.functions.vector import dot
    from cqs_spark.operators.vectorops import ivf_assign

    v = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", F.sqrt(dot("v", "v")))
    return v.join(ivf_assign(emb, centroids, id_col, vec_col), "id")


def incremental_semantic(
    batch: DataFrame,
    indexed: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """Incremental SemDeDup: flag NEW embeddings against an indexed
    corpus without recomputing indexed↔indexed pairs.

    The embedding-space analogue of ``incremental_minhash``: the batch
    assigns to the SAME frozen centroid set (one broadcast pass over
    the batch only), then each batch vector compares against (a) the
    indexed members of its cluster — read from the persisted
    ``build_semantic_index`` table, centroid-partition-prunable — and
    (b) lower-id batch mates in the cluster.  Batch ids must be
    greater than all indexed ids (arrivals are later), which makes
    this EXACTLY the full-recompute semantics of ``semantic_dedup``
    restricted to batch rows: a batch row is a dup iff some lower-id
    cluster-mate (indexed or batch) reaches the cosine threshold.

    Returns (id, centroid_id, is_dup) for batch rows.  Oracle-gated as
    q133.
    """
    from cqs_spark.functions.vector import dot
    from cqs_spark.operators.vectorops import ivf_assign

    bv = batch.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", F.sqrt(dot("v", "v")))
    bt = stage(bv.join(ivf_assign(batch, centroids, id_col, vec_col), "id"))

    lower = indexed.select(
        F.col("id").alias("a_id"), F.col("v").alias("a_v"),
        F.col("nrm").alias("a_nrm"), F.col("centroid_id").alias("cid"),
    ).unionByName(
        bt.select(
            F.col("id").alias("a_id"), F.col("v").alias("a_v"),
            F.col("nrm").alias("a_nrm"), F.col("centroid_id").alias("cid"),
        )
    )
    b = bt.select(
        F.col("id").alias("b_id"), F.col("v").alias("b_v"),
        F.col("nrm").alias("b_nrm"), F.col("centroid_id").alias("cid"),
    )
    cos = dot("a_v", "b_v") / F.nullif(
        F.col("a_nrm") * F.col("b_nrm"), F.lit(0.0)
    )
    dups = (
        lower.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(cos >= threshold)
        .select(F.col("b_id").alias("id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return bt.select("id", "centroid_id").join(dups, "id", "left").select(
        "id",
        "centroid_id",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
    )
