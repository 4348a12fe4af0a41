"""Declared queries q49–q50: multimodal metadata operators with oracles.

The binary-touching stages (byte_features, decode) are checked by unit
tests (deterministic fakes); these two queries oracle-check the
metadata dataflow around them — the rollup and the frame-sampling
plan — which never touch the blob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cqs_spark.catalog import load_table
from cqs_spark.operators.multimodal import frame_plan, media_stats, media_table
from cqs_spark.rows import map_rows
from cqs_spark.staging import stage


def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media metadata rollup per kind."""
    docs = load_table(spark, sf_dir, "documents")
    return media_stats(media_table(docs)).orderBy("kind")


def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (1 frame/sec), media_id < 300."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return (
        frame_plan(media_table(docs), every_ms=1000)
        .select("media_id", F.col("frame_ms").cast("long").alias("frame_ms"))
        .orderBy("media_id", "frame_ms")
    )


def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-level near-dup pairs via byte-histogram cosine (media_id <
    200, threshold 0.99999) — the codec-free multimodal dedup baseline."""
    from cqs_spark.operators.multimodal import media_neardup

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = media_neardup(media_table(docs), threshold=0.99999)
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    return stage(pairs.select("a", "b", r4(F.col("cos")).alias("cos"))).orderBy(
        "a", "b"
    )


MULTIMODAL_QUERIES = {"q49": q49, "q50": q50, "q78": q78}

_Q49 = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       COUNT(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       CAST(ROUND(CAST(AVG(n_chars) AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_bytes
FROM documents GROUP BY 1 ORDER BY kind
"""

_Q50 = """
SELECT doc_id AS media_id, CAST(UNNEST(range(0, n_chars * 10 + 1, 1000)) AS BIGINT) AS frame_ms
FROM documents WHERE doc_id % 3 = 2 AND doc_id < 300
ORDER BY media_id, frame_ms
"""

_BIN_SUMS = ", ".join(
    f"SUM(CASE WHEN bin = {j} THEN 1 ELSE 0 END)::DOUBLE AS c{j}"
    for j in range(16)
)
_VEC = "[" + ", ".join(f"c{j} / t" for j in range(16)) + "]::DOUBLE[]"

_Q78 = f"""
WITH m AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
b AS (SELECT doc_id, ord(substr(text, i, 1)) // 16 AS bin
      FROM m, UNNEST(range(1, length(text) + 1)) AS r(i)),
agg AS (SELECT doc_id, {_BIN_SUMS}, COUNT(*)::DOUBLE AS t
        FROM b GROUP BY doc_id),
v AS (SELECT doc_id, {_VEC} AS v FROM agg),
p AS (SELECT a.doc_id AS a, b.doc_id AS b,
             list_dot_product(a.v, b.v)
               / NULLIF(sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v)), 0) AS cos
      FROM v a JOIN v b ON a.doc_id < b.doc_id)
SELECT a, b, CAST(ROUND(CAST(cos AS DECIMAL(30,10)), 4) AS DOUBLE) AS cos
FROM p WHERE cos >= 0.99999 ORDER BY a, b
"""

MULTIMODAL_ORACLES: dict[str, str] = {"q49": _Q49, "q50": _Q50, "q78": _Q78}


def _h2(c):
    return F.lpad(F.hex(c.cast("long")), 2, "0")


def _le16(c):
    return F.concat(_h2(c % 256), _h2(F.floor(c / 256)))


def _le32(c):
    return F.concat(_le16(c % 65536), F.lit("0000"))


def _be32(c):
    return F.lpad(F.hex(c.cast("long")), 8, "0")


def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image/audio decode seams oracle-gated (q119-q124
    pattern): PNG/GIF/BMP headers and RIFF/WAV chunks are CONSTRUCTED
    as hex expressions with dimensions derived from doc_id, decoded by
    the real mapInPandas sniffers (decode_image / decode_audio), and
    the oracle reconstructs the expected dimensions arithmetically —
    never touching the binary.  Every 4th image and every odd audio
    blob is garbage text and must quarantine to a NULL row, not kill
    the batch."""
    from cqs_spark.operators.multimodal import decode_audio, decode_image

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    meta = F.struct(
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )

    ct = F.element_at(
        F.array(*[F.lit(x) for x in (0, 2, 3, 4, 6)]), (d % 5 + 1).cast("int")
    )
    png = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),
        _be32(d % 640 + 1), _be32(d % 480 + 1), F.lit("08"), _h2(ct),
    )
    gif = F.concat(
        F.lit("474946383961"), _le16(d % 300 + 2), _le16(d % 200 + 2)
    )
    bpp = F.element_at(
        F.array(F.lit(8), F.lit(24), F.lit(32)), (d % 3 + 1).cast("int")
    )
    bmp = F.concat(
        F.lit("424D"), F.lit("00" * 16),
        _le32(d % 500 + 1), _le32(d % 400 + 1), F.lit("0000"), _le16(bpp),
    )
    img_data = F.when(d % 4 == 3, F.encode("text", "utf-8")).otherwise(
        F.unhex(
            F.when(d % 4 == 0, png).when(d % 4 == 1, gif).otherwise(bmp)
        )
    )
    media_img = docs.select(
        d.alias("media_id"), F.lit("image").alias("kind"),
        img_data.alias("data"), meta.alias("meta"),
    )

    rate = d % 8000 + 8000
    nch = F.floor((d % 4) / 2) + 1
    ds = (d % 1000 + 1) * 4
    br = rate * nch * 2
    wav = F.concat(
        F.lit("52494646"), _le32(ds + 36), F.lit("57415645666D7420"),
        _le32(F.lit(16)), _le16(F.lit(1)), _le16(nch), _le32(rate),
        _le32(br), _le16(nch * 2), _le16(F.lit(16)),
        F.lit("64617461"), _le32(ds),
    )
    aud_data = F.when(d % 2 == 1, F.encode("text", "utf-8")).otherwise(
        F.unhex(wav)
    )
    media_aud = docs.select(
        (d + 10000).alias("media_id"), F.lit("audio").alias("kind"),
        aud_data.alias("data"), meta.alias("meta"),
    )

    img = decode_image(media_img).select(
        "media_id", F.lit("image").alias("kind"),
        F.col("width").cast("long").alias("v1"),
        F.col("height").cast("long").alias("v2"),
        F.col("channels").cast("long").alias("v3"),
    )
    aud = decode_audio(media_aud).select(
        "media_id", F.lit("audio").alias("kind"),
        F.col("sample_rate").cast("long").alias("v1"),
        F.col("channels").cast("long").alias("v2"),
        F.col("duration_ms").cast("long").alias("v3"),
    )
    return stage(img.unionByName(aud)).orderBy("media_id")


MULTIMODAL_QUERIES["q134"] = q134

_Q134 = """
WITH img AS (
  SELECT doc_id AS media_id, 'image' AS kind,
    CASE doc_id % 4
      WHEN 0 THEN doc_id % 640 + 1
      WHEN 1 THEN doc_id % 300 + 2
      WHEN 2 THEN doc_id % 500 + 1 END AS v1,
    CASE doc_id % 4
      WHEN 0 THEN doc_id % 480 + 1
      WHEN 1 THEN doc_id % 200 + 2
      WHEN 2 THEN doc_id % 400 + 1 END AS v2,
    CASE doc_id % 4
      WHEN 0 THEN CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 3
                  WHEN 2 THEN 1 WHEN 3 THEN 2 ELSE 4 END
      WHEN 1 THEN 3
      WHEN 2 THEN CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
    END AS v3
  FROM documents),
aud AS (
  SELECT doc_id + 10000 AS media_id, 'audio' AS kind,
    CASE WHEN doc_id % 2 = 0 THEN doc_id % 8000 + 8000 END AS v1,
    CASE WHEN doc_id % 2 = 0 THEN (doc_id % 4) // 2 + 1 END AS v2,
    CASE WHEN doc_id % 2 = 0 THEN
      ((doc_id % 1000 + 1) * 4 * 1000)
        // ((doc_id % 8000 + 8000) * ((doc_id % 4) // 2 + 1) * 2)
    END AS v3
  FROM documents)
SELECT media_id, kind,
       CAST(v1 AS BIGINT) AS v1, CAST(v2 AS BIGINT) AS v2,
       CAST(v3 AS BIGINT) AS v3
FROM (SELECT * FROM img UNION ALL SELECT * FROM aud)
ORDER BY media_id
"""

MULTIMODAL_ORACLES["q134"] = _Q134


def _id_corpus(
    spark: SparkSession,
    sf_dir: str,
    rows_of,
    schema: str = "media_id long, data binary",
) -> DataFrame:
    """A synthetic fixture corpus built per ``documents.doc_id``.

    ``rows_of(doc_id)`` yields the rows for one id as tuples in
    ``schema``'s column order, id first.  We spread the id frame so the
    Arrow decode stage runs on every core — the fixture parquet is a
    single file and would otherwise pin the whole encode+decode on one
    task.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return map_rows(docs, ["doc_id"], rows_of, schema)


# ---------------------------------------------------------------------------
# q165/q166 — perceptual image hashing + near-dup join
# ---------------------------------------------------------------------------
#
# Fixture: deterministic 16×16 grayscale images whose pixels derive
# arithmetically from doc_id — px(k) for k = seed·977 + r·16 + c is a
# quadratic-mix byte, int64-safe so the SQL twin computes it exactly.
# Each consecutive (even, odd) id pair shares a seed (id // 2) but
# RE-ENCODES the identical pixels in a different container (P5 / BMP /
# PNG by id % 3) — the case byte-histogram cosine (q78) cannot see —
# and every id % 25 == 0 blob is garbage text that must quarantine to
# NULL hashes.  The oracle recomputes aHash/dHash straight from the
# pixel arithmetic (box means, integer luma, two's-complement
# packing), so the gate covers the REAL encode → decode → hash path
# end to end: a one-bit decoder regression breaks the hash equality.


def _q165_pixels(seed: int) -> list:
    return [
        [
            (
                (((seed * 977 + r * 16 + c) ** 2 + 13) % 2147483648)
                * 2654435761 % 4294967296
            ) // 16777216
            for c in range(16)
        ]
        for r in range(16)
    ]


def _q165_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        encode_pnm,
    )

    encoders = (encode_pnm, encode_bmp, encode_png)

    def rows(did):
        if did % 25 == 0:
            yield did, b"not an image at all"
        elif did % 3 == 2 and did % 2 == 1:
            # Adam7-interlaced variant: same pixels, different
            # container — the oracle is container-blind, so the
            # deinterlacing decode is gated inside q165/q166/
            # q176/q177 with zero oracle change
            yield did, encode_png(_q165_pixels(did // 2), interlace=True)
        else:
            yield did, encoders[did % 3](_q165_pixels(did // 2))

    return _id_corpus(spark, sf_dir, rows)


def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual hashes (aHash + dHash) of the re-encoded fixture
    corpus through the REAL pure-python pixel decoders (PNM/BMP/PNG —
    zlib inflate + unfilter for PNG); garbage blobs quarantine to NULL
    rows.  Gated bit-exactly against the oracle's arithmetic twin."""
    from cqs_spark.operators.multimodal import phash_images

    return stage(phash_images(_q165_media(spark, sf_dir))).orderBy("media_id")


MULTIMODAL_QUERIES["q165"] = q165

_Q165_HASH_CTES = """
live AS (SELECT doc_id AS id FROM documents WHERE doc_id % 25 <> 0),
k_ AS (SELECT id, r.i AS r, c.i AS c,
        (id // 2) * 977 + r.i * 16 + c.i AS k
       FROM live, UNNEST(range(0, 16)) r(i), UNNEST(range(0, 16)) c(i)),
px AS (SELECT id, r, c,
        (((k * k + 13) % 2147483648) * 2654435761 % 4294967296)
          // 16777216 AS v
       FROM k_),
ac AS (SELECT id, r // 2 AS ci, c // 2 AS cj,
              CAST(SUM(v) // 4 AS BIGINT) AS cell
       FROM px GROUP BY 1, 2, 3),
am AS (SELECT id, CAST(SUM(cell) // 64 AS BIGINT) AS mn FROM ac GROUP BY id),
ab AS (SELECT ac.id, ci * 8 + cj AS k,
              CASE WHEN cell >= mn THEN 1 ELSE 0 END AS b
       FROM ac JOIN am USING (id)),
ah AS (SELECT id,
        CAST(SUM(CASE WHEN k < 63 AND b = 1
                      THEN (1::BIGINT << CAST(k AS INTEGER)) ELSE 0 END)
             AS BIGINT)
        + CASE WHEN MAX(CASE WHEN k = 63 THEN b ELSE 0 END) = 1
               THEN (-9223372036854775807 - 1) ELSE 0 END AS ahash
       FROM ab GROUP BY id),
dcell AS (SELECT id, r // 2 AS ci, ((c + 1) * 9 - 1) // 16 AS cj,
                 CAST(SUM(v) // COUNT(*) AS BIGINT) AS cell
          FROM px GROUP BY 1, 2, 3),
db AS (SELECT l.id, l.ci * 8 + l.cj AS k,
              CASE WHEN l.cell > r2.cell THEN 1 ELSE 0 END AS b
       FROM dcell l JOIN dcell r2
         ON r2.id = l.id AND r2.ci = l.ci AND r2.cj = l.cj + 1
       WHERE l.cj < 8),
dh AS (SELECT id,
        CAST(SUM(CASE WHEN k < 63 AND b = 1
                      THEN (1::BIGINT << CAST(k AS INTEGER)) ELSE 0 END)
             AS BIGINT)
        + CASE WHEN MAX(CASE WHEN k = 63 THEN b ELSE 0 END) = 1
               THEN (-9223372036854775807 - 1) ELSE 0 END AS dhash
       FROM db GROUP BY id)"""

MULTIMODAL_ORACLES["q165"] = f"""
WITH {_Q165_HASH_CTES}
SELECT d.doc_id AS media_id, ah.ahash, dh.dhash
FROM documents d
LEFT JOIN ah ON ah.id = d.doc_id
LEFT JOIN dh ON dh.id = d.doc_id
ORDER BY media_id
"""


def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup join (dHash, hamming <= 2) over the q165
    corpus: every surviving re-encoded twin pair (same pixels, a
    DIFFERENT container) pairs at distance 0 through the SimHash
    pigeonhole band join; distinct images (min cross-seed distance 8
    on this corpus) never pair; quarantined blobs never appear."""
    from cqs_spark.operators.multimodal import perceptual_neardup

    return perceptual_neardup(
        _q165_media(spark, sf_dir), max_hamming=2
    ).orderBy("a", "b")


MULTIMODAL_QUERIES["q166"] = q166

MULTIMODAL_ORACLES["q166"] = f"""
WITH {_Q165_HASH_CTES}
SELECT a.id AS a, b.id AS b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
FROM dh a JOIN dh b ON a.id < b.id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# q169/q170 — audio PCM fingerprinting + near-dup join
# ---------------------------------------------------------------------------
#
# The audio twin of q165/q166: deterministic 1056-sample PCM16 clips
# from the same int64-safe quadratic mix, each (even, odd) id pair
# sharing a seed with the odd twin AMPLITUDE-HALVED (s // 2) — the
# delta-sign energy fingerprint is scale-invariant, so the twins
# land at hamming 0 while distinct clips sit >= 8 bits apart; %25
# garbage blobs quarantine to NULL.  The oracle recomputes the
# fingerprint from the sample arithmetic, gating the REAL WAV
# encode → PCM decode → energy-pool → pack path end to end.


def _q169_samples(seed: int) -> list:
    return [
        (
            ((seed * 4099 + t) * (seed * 4099 + t) + 7) % 2147483648
            * 2654435761 % 4294967296
        ) // 65536 - 32768
        for t in range(1056)
    ]


def _q169_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.multimodal import encode_wav

    def rows(did):
        if did % 25 == 0:
            yield did, b"not a wav clip"
            return
        s = _q169_samples(did // 2)
        if did % 2 == 1:
            s = [x // 2 for x in s]  # re-normalized twin
        yield did, encode_wav(s)

    return _id_corpus(spark, sf_dir, rows)


def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio delta-sign fingerprints of the WAV fixture corpus through
    the REAL PCM16 decoder; garbage blobs quarantine to NULL rows.
    Gated bit-exactly against the oracle's sample-arithmetic twin."""
    from cqs_spark.operators.multimodal import audio_fingerprints

    return stage(audio_fingerprints(_q169_media(spark, sf_dir))).orderBy("media_id")


MULTIMODAL_QUERIES["q169"] = q169

_Q169_FP_CTES = """
live AS (SELECT doc_id AS id FROM documents WHERE doc_id % 25 <> 0),
k_ AS (SELECT id, t.i AS t, (id // 2) * 4099 + t.i AS k
       FROM live, UNNEST(range(0, 1056)) t(i)),
smp AS (SELECT id, t,
         -- DuckDB // TRUNCATES on negatives; the twin's python // is
         -- a FLOOR — halve via floor(x/2.0) so odd negatives agree.
         CASE WHEN id % 2 = 1
              THEN CAST(floor((((k * k + 7) % 2147483648) * 2654435761
                    % 4294967296 // 65536 - 32768) / 2.0) AS BIGINT)
              ELSE ((k * k + 7) % 2147483648) * 2654435761 % 4294967296
                    // 65536 - 32768
         END AS s
        FROM k_),
en AS (SELECT id, ((t + 1) * 64 - 1) // 1056 AS f,
              CAST(SUM(s * s) // COUNT(*) AS BIGINT) AS e
       FROM smp GROUP BY 1, 2),
fb AS (SELECT l.id, l.f AS k, CASE WHEN l.e > r2.e THEN 1 ELSE 0 END AS b
       FROM en l JOIN en r2 ON r2.id = l.id AND r2.f = l.f + 1
       WHERE l.f < 63),
fp AS (SELECT id,
        CAST(SUM(CASE WHEN b = 1
                      THEN (1::BIGINT << CAST(k AS INTEGER)) ELSE 0 END)
             AS BIGINT) AS afp
       FROM fb GROUP BY id)"""

MULTIMODAL_ORACLES["q169"] = f"""
WITH {_Q169_FP_CTES}
SELECT d.doc_id AS media_id, fp.afp
FROM documents d LEFT JOIN fp ON fp.id = d.doc_id
ORDER BY media_id
"""


def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup join (hamming <= 2 on the 63-bit delta-sign
    fingerprint): every surviving amplitude-halved twin pairs at
    distance 0; distinct clips (min cross distance 8 on this corpus)
    never pair; quarantined blobs never appear."""
    from cqs_spark.operators.multimodal import perceptual_neardup

    return perceptual_neardup(
        _q169_media(spark, sf_dir), kind="audio", max_hamming=2
    ).orderBy("a", "b")


MULTIMODAL_QUERIES["q170"] = q170

MULTIMODAL_ORACLES["q170"] = f"""
WITH {_Q169_FP_CTES}
SELECT a.id AS a, b.id AS b,
       CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.afp, b.afp)) <= 2
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# q171 — incremental perceptual media dedup (batch vs persisted index)
# ---------------------------------------------------------------------------
#
# The daily-crawl scenario for images: the INDEX side is only its
# persisted (id, dhash) signature table (media_signatures output —
# the blobs are never re-decoded); the BATCH side decodes.  Fixture:
# index ids = doc_id with pixel seed = doc_id; batch ids = doc_id +
# _Q171_B where even doc_ids RE-ENCODE the matching index image in
# a different container (cross twin, hamming 0) and odd doc_ids take
# fresh negative seeds shared pairwise (-(d//4)-1 → within-batch
# twins (1,3), (5,7), …).  %25 garbage quarantines on both sides.
# The oracle recomputes dHash from the pixel arithmetic for both
# populations and emits every hamming<=2 pair that touches the batch
# — so the gate covers decode → hash → both join legs end to end.


# Batch-id offset: must exceed max(doc_id) at EVERY supported scale
# factor or batch ids collide with index ids and the gate desyncs from
# its oracle.  2^50 (~1.1e15) is above any conceivable documents row
# count (100 TB at one byte per row is 1e14) while doc_id + 2^50 stays
# ~8000x below long overflow.
_Q171_B = 1 << 50


def _q171_index_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        encode_pnm,
    )

    encoders = (encode_pnm, encode_bmp, encode_png)

    def rows(did):
        if did % 25 == 0:
            yield did, b"not an image at all"
        else:
            yield did, encoders[did % 3](_q165_pixels(did))

    return _id_corpus(spark, sf_dir, rows)


def _q171_batch_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        encode_pnm,
    )

    encoders = (encode_pnm, encode_bmp, encode_png)

    def rows(d):
        if d % 25 == 0:
            blob = b"still not an image"
        elif d % 2 == 0:
            # cross twin: index image d, re-encoded
            blob = encoders[(d + 1) % 3](_q165_pixels(d))
        else:
            # fresh negative seed, shared pairwise within batch
            blob = encoders[d % 3](_q165_pixels(-(d // 4) - 1))
        yield d + _Q171_B, blob

    return _id_corpus(spark, sf_dir, rows)


def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental image near-dup (dHash, hamming <= 2): the new batch
    decodes through the REAL pixel decoders; the index side joins by
    its persisted signatures only.  Every cross re-encoded twin and
    every within-batch negative-seed twin pairs at distance 0;
    distinct seeds never pair; quarantined blobs never appear."""
    from cqs_spark.operators.multimodal import (
        incremental_media_neardup,
        media_signatures,
    )

    # In production the index signatures are a STAGED parquet table
    # (media_signatures → stage once per corpus); the gate computes
    # them inline, so checkpoint to mirror "persisted" — otherwise the
    # index-side decode would re-run for every downstream leg.
    idx_sigs = stage(media_signatures(_q171_index_media(spark, sf_dir)))
    return incremental_media_neardup(
        _q171_batch_media(spark, sf_dir), idx_sigs, max_hamming=2
    ).orderBy("a", "b")


MULTIMODAL_QUERIES["q171"] = q171

MULTIMODAL_ORACLES["q171"] = f"""
WITH items AS (
  SELECT doc_id AS id, doc_id AS seed
  FROM documents WHERE doc_id % 25 <> 0
  UNION ALL
  SELECT doc_id + {_Q171_B} AS id,
         CASE WHEN doc_id % 2 = 0 THEN doc_id
              ELSE -(doc_id // 4) - 1 END AS seed
  FROM documents WHERE doc_id % 25 <> 0
),
k_ AS (SELECT id, r.i AS r, c.i AS c,
        seed * 977 + r.i * 16 + c.i AS k
       FROM items, UNNEST(range(0, 16)) r(i), UNNEST(range(0, 16)) c(i)),
px AS (SELECT id, r, c,
        (((k * k + 13) % 2147483648) * 2654435761 % 4294967296)
          // 16777216 AS v
       FROM k_),
dcell AS (SELECT id, r // 2 AS ci, ((c + 1) * 9 - 1) // 16 AS cj,
                 CAST(SUM(v) // COUNT(*) AS BIGINT) AS cell
          FROM px GROUP BY 1, 2, 3),
db AS (SELECT l.id, l.ci * 8 + l.cj AS k,
              CASE WHEN l.cell > r2.cell THEN 1 ELSE 0 END AS b
       FROM dcell l JOIN dcell r2
         ON r2.id = l.id AND r2.ci = l.ci AND r2.cj = l.cj + 1
       WHERE l.cj < 8),
dh AS (SELECT id,
        CAST(SUM(CASE WHEN k < 63 AND b = 1
                      THEN (1::BIGINT << CAST(k AS INTEGER)) ELSE 0 END)
             AS BIGINT)
        + CASE WHEN MAX(CASE WHEN k = 63 THEN b ELSE 0 END) = 1
               THEN (-9223372036854775807 - 1) ELSE 0 END AS dhash
       FROM db GROUP BY id)
SELECT a.id AS a, b.id AS b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
FROM dh a JOIN dh b ON a.id < b.id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
  AND b.id >= {_Q171_B}
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# q172/q173 — animated-GIF frame hashing + video near-dup join
# ---------------------------------------------------------------------------
#
# The video twin of q165/q166: deterministic multi-frame GIFs (nf =
# 4 + d%3 frames of 16×16 quadratic-mix pixels, k = seed·16384 +
# f·256 + r·16 + c) decoded by the REAL pure-python GIF decoder
# (LZW + palette + composition).  q172 gates encode → LZW decode →
# per-frame dHash; %25 garbage quarantines to a NULL row.  q173 adds
# CLIPPED INTERLACED twins (id B+d for even d carries frames 1..nf-1
# of video d, re-encoded with the interlace flag — the deinterlace
# path is inside the gate) and checks the shared-frame-hash join:
# every clip pairs with its source at shared = nf-1 >= 3; distinct
# videos never pair.


_Q173_B = 1 << 50  # same disjointness bound as _Q171_B


def _q172_frame_px(seed: int, f: int) -> list:
    return [
        [
            (
                (((seed * 16384 + f * 256 + r * 16 + c) ** 2 + 13) % 2147483648)
                * 2654435761 % 4294967296
            ) // 16777216
            for c in range(16)
        ]
        for r in range(16)
    ]


def _q172_media(
    spark: SparkSession, sf_dir: str, twins: bool = False
) -> DataFrame:
    from cqs_spark.operators.multimodal import encode_gif

    def rows(d):
        if d % 25 == 0:
            yield d, b"not a gif"
            return
        nf = 4 + d % 3
        frames = [_q172_frame_px(d, f) for f in range(nf)]
        yield d, encode_gif(frames)
        if twins and d % 2 == 0:
            yield d + _Q173_B, encode_gif(frames[1:], interlace=True)

    return _id_corpus(spark, sf_dir, rows)


def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame dHashes of the animated-GIF fixture corpus through
    the REAL LZW decoder; garbage blobs quarantine to a NULL row.
    Gated bit-exactly against the oracle's pixel-arithmetic twin."""
    from cqs_spark.operators.multimodal import video_fingerprints

    return stage(video_fingerprints(_q172_media(spark, sf_dir))).orderBy(
        "media_id", "frame"
    )


MULTIMODAL_QUERIES["q172"] = q172

_Q172_DHASH_CTES = """
k_ AS (SELECT id, f, r.i AS r, c.i AS c,
        seed * 16384 + f * 256 + r.i * 16 + c.i AS k
       FROM vframes, UNNEST(range(0, 16)) r(i), UNNEST(range(0, 16)) c(i)),
px AS (SELECT id, f, r, c,
        (((k * k + 13) % 2147483648) * 2654435761 % 4294967296)
          // 16777216 AS v
       FROM k_),
dcell AS (SELECT id, f, r // 2 AS ci, ((c + 1) * 9 - 1) // 16 AS cj,
                 CAST(SUM(v) // COUNT(*) AS BIGINT) AS cell
          FROM px GROUP BY 1, 2, 3, 4),
db AS (SELECT l.id, l.f, l.ci * 8 + l.cj AS k,
              CASE WHEN l.cell > r2.cell THEN 1 ELSE 0 END AS b
       FROM dcell l JOIN dcell r2
         ON r2.id = l.id AND r2.f = l.f AND r2.ci = l.ci
        AND r2.cj = l.cj + 1
       WHERE l.cj < 8),
dh AS (SELECT id, f,
        CAST(SUM(CASE WHEN k < 63 AND b = 1
                      THEN (1::BIGINT << CAST(k AS INTEGER)) ELSE 0 END)
             AS BIGINT)
        + CASE WHEN MAX(CASE WHEN k = 63 THEN b ELSE 0 END) = 1
               THEN (-9223372036854775807 - 1) ELSE 0 END AS dhash
       FROM db GROUP BY id, f)"""

MULTIMODAL_ORACLES["q172"] = f"""
WITH vframes AS (
  SELECT doc_id AS id, doc_id AS seed, f.i AS f
  FROM documents, UNNEST(range(0, 4 + doc_id % 3)) f(i)
  WHERE doc_id % 25 <> 0
),
{_Q172_DHASH_CTES}
SELECT id AS media_id, CAST(f AS BIGINT) AS frame, dhash FROM dh
UNION ALL
SELECT doc_id AS media_id, NULL AS frame, NULL AS dhash
FROM documents WHERE doc_id % 25 = 0
ORDER BY media_id, frame
"""


def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup join over originals + clipped INTERLACED twins:
    every clip pairs with its source at shared = nf-1 >= 3 distinct
    frame hashes (the deinterlace path is inside the gate); distinct
    videos never pair; quarantined blobs never appear."""
    from cqs_spark.operators.multimodal import perceptual_neardup

    return perceptual_neardup(
        _q172_media(spark, sf_dir, twins=True), kind="video", min_shared=3
    ).orderBy("a", "b")


MULTIMODAL_QUERIES["q173"] = q173

MULTIMODAL_ORACLES["q173"] = f"""
WITH vframes AS (
  SELECT doc_id AS id, doc_id AS seed, f.i AS f
  FROM documents, UNNEST(range(0, 4 + doc_id % 3)) f(i)
  WHERE doc_id % 25 <> 0
  UNION ALL
  SELECT doc_id + {_Q173_B} AS id, doc_id AS seed, f.i AS f
  FROM documents, UNNEST(range(1, 4 + doc_id % 3)) f(i)
  WHERE doc_id % 25 <> 0 AND doc_id % 2 = 0
),
{_Q172_DHASH_CTES},
fp AS (SELECT DISTINCT id, dhash FROM dh)
SELECT a.id AS a, b.id AS b, CAST(COUNT(*) AS BIGINT) AS shared
FROM fp a JOIN fp b ON a.dhash = b.dhash AND a.id < b.id
GROUP BY 1, 2
HAVING COUNT(*) >= 3
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# q174 — cross-modal containment: stills that are frames of videos
# ---------------------------------------------------------------------------
#
# Images: even doc_ids carry EXACTLY the pixels of frame (d % 4) of
# the q172 video with seed d, re-encoded as a still (PNM/BMP/PNG by
# d % 3); odd doc_ids take fresh negative seeds; %25 garbage
# quarantines.  Videos: the q172 originals.  Every even live image
# must hit its (video, frame) at hamming 0 through the REAL still
# decoder on one side and the REAL GIF/LZW decoder on the other; odd
# and garbage ids never appear.


def _q174_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        encode_pnm,
    )

    encoders = (encode_pnm, encode_bmp, encode_png)

    def rows(d):
        if d % 25 == 0:
            yield d, b"not an image"
        elif d % 2 == 0:
            yield d, encoders[d % 3](_q172_frame_px(d, d % 4))
        else:
            yield d, encoders[d % 3](_q172_frame_px(-(d // 4) - 1, 0))

    return _id_corpus(spark, sf_dir, rows)


def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal frame containment (hash equality): every even live
    still hits frame d%4 of its seed video; odd/garbage ids never
    appear.  Both decode paths (still + GIF/LZW) are inside the gate."""
    from cqs_spark.operators.multimodal import frame_containment

    return frame_containment(
        _q174_images(spark, sf_dir), _q172_media(spark, sf_dir)
    ).orderBy("image_id", "video_id", "frame")


MULTIMODAL_QUERIES["q174"] = q174

MULTIMODAL_ORACLES["q174"] = f"""
WITH vframes AS (
  SELECT doc_id AS id, doc_id AS seed, f.i AS f
  FROM documents, UNNEST(range(0, 4 + doc_id % 3)) f(i)
  WHERE doc_id % 25 <> 0
  UNION ALL
  -- image d models frame (d % 4) of seed d (even) or a fresh
  -- negative-seed frame 0 (odd); offset ids keep the hash CTE shared
  SELECT doc_id + {_Q173_B} AS id,
         CASE WHEN doc_id % 2 = 0 THEN doc_id
              ELSE -(doc_id // 4) - 1 END AS seed,
         CASE WHEN doc_id % 2 = 0 THEN doc_id % 4 ELSE 0 END AS f
  FROM documents WHERE doc_id % 25 <> 0
),
{_Q172_DHASH_CTES}
SELECT i.id - {_Q173_B} AS image_id, v.id AS video_id,
       CAST(v.f AS BIGINT) AS frame, CAST(0 AS BIGINT) AS hamming
FROM dh i JOIN dh v ON i.dhash = v.dhash
WHERE i.id >= {_Q173_B} AND v.id < {_Q173_B}
ORDER BY image_id, video_id, frame
"""


# ---------------------------------------------------------------------------
# q175 — baseline JPEG decode (pure-python luma codec), tolerance gate
# ---------------------------------------------------------------------------
#
# JPEG is lossy, so the q165 bit-exact-hash gating can't apply; the
# deterministic surface is the VERDICT: each fixture image (q165
# quadratic-mix pixels) is JPEG-encoded at quality 100 — grayscale,
# 4:2:0 three-component, restart-interval, or PROGRESSIVE (SOF2,
# 5-scan successive approximation) variant by d % 4 — and
# the gate asserts the REAL decoder reconstructs the luma plane
# within max|Δ| <= 2 of the source pixels (measured q100 roundtrip
# error is <= 1; a Huffman/IDCT/MCU-interleave regression blows far
# past it).  Garbage blobs must report ok = false, never kill the
# batch.  Decode + compare run in one Arrow stage; both are
# deterministic, so the boolean surface is bit-stable.


def _q175_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.jpegcodec import (
        decode_jpeg_luma,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    def rows(d):
        if d % 25 == 0:
            yield d, decode_jpeg_luma(b"not a jpeg") is not None
            return
        px = _q165_pixels(d)
        if d % 4 == 3:
            blob = encode_jpeg_progressive(px, quality=100)
        else:
            blob = encode_jpeg(
                px,
                quality=100,
                subsample=d % 4 == 1,
                restart=2 if d % 4 == 2 else 0,
            )
        out = decode_jpeg_luma(blob)
        yield d, (
            out is not None
            and len(out) == 16
            and len(out[0]) == 16
            and max(
                abs(a - b)
                for ra, rb in zip(out, px)
                for a, b in zip(ra, rb)
            )
            <= 2
        )

    return _id_corpus(spark, sf_dir, rows, "media_id long, ok boolean")


def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stage(_q175_ok(spark, sf_dir)).orderBy("media_id")


MULTIMODAL_QUERIES["q175"] = q175

MULTIMODAL_ORACLES["q175"] = """
SELECT doc_id AS media_id, doc_id % 25 <> 0 AS ok
FROM documents ORDER BY media_id
"""


def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 4×4 resize (integer floor box pooling) of the q165
    re-encoded corpus through the REAL decoders — the feature-extract
    stage gated bit-exactly against the oracle's box-mean arithmetic;
    garbage blobs quarantine to one NULL row."""
    from cqs_spark.operators.multimodal import resize_images

    return stage(resize_images(_q165_media(spark, sf_dir), 4, 4)).orderBy(
        "media_id", "r", "c"
    )


MULTIMODAL_QUERIES["q176"] = q176

MULTIMODAL_ORACLES["q176"] = """
WITH live AS (SELECT doc_id AS id FROM documents WHERE doc_id % 25 <> 0),
k_ AS (SELECT id, r.i AS r, c.i AS c,
        (id // 2) * 977 + r.i * 16 + c.i AS k
       FROM live, UNNEST(range(0, 16)) r(i), UNNEST(range(0, 16)) c(i)),
px AS (SELECT id, r, c,
        (((k * k + 13) % 2147483648) * 2654435761 % 4294967296)
          // 16777216 AS v
       FROM k_),
cells AS (SELECT id, r // 4 AS rr, c // 4 AS cc,
                 CAST(SUM(v) // 16 AS BIGINT) AS v
          FROM px GROUP BY 1, 2, 3)
SELECT id AS media_id, CAST(rr AS BIGINT) AS r, CAST(cc AS BIGINT) AS c, v
FROM cells
UNION ALL
SELECT doc_id AS media_id, NULL, NULL, NULL
FROM documents WHERE doc_id % 25 = 0
ORDER BY media_id, r, c
"""


def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media release audit over the q165 re-encoded corpus: 96% of
    items live (4% garbage quarantines), every live item sits in a
    re-encoded twin pair — so ``near_dup_items`` must report ~0.96
    and flag ok=false (ship after dedup, not before).  The ratio
    surface is r4-rounded decimal like every float gate."""
    from cqs_spark.operators.multimodal import media_audit

    # The audit's fused feature walk (r13) reads the corpus ONCE — the
    # synthesized frame has a single consumer now, so no staging: the
    # Arrow encode runs exactly once inside the audit's feature stage.
    rep = media_audit(_q165_media(spark, sf_dir))
    r4 = F.round(F.col("ratio").cast("decimal(30,10)"), 4).cast("double")
    return rep.select("check", "n", r4.alias("ratio"), "ok").orderBy("check")


MULTIMODAL_QUERIES["q177"] = q177

MULTIMODAL_ORACLES["q177"] = f"""
WITH {_Q165_HASH_CTES},
tot AS (SELECT COUNT(*) AS t FROM documents),
dec AS (SELECT COUNT(*) AS n FROM dh),
pairs AS (
  SELECT a.id AS a, b.id AS b
  FROM dh a JOIN dh b ON a.id < b.id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 2),
dup AS (SELECT COUNT(*) AS n FROM
        (SELECT a AS id FROM pairs UNION SELECT b FROM pairs))
SELECT 'decodable' AS "check", dec.n AS n,
       CAST(ROUND(CAST(dec.n / t AS DECIMAL(30,10)), 4) AS DOUBLE) AS ratio,
       dec.n / t >= 0.5 AS ok
FROM dec, tot
UNION ALL
SELECT 'near_dup_items', dup.n,
       CAST(ROUND(CAST(dup.n / t AS DECIMAL(30,10)), 4) AS DOUBLE),
       dup.n / t <= 0.2
FROM dup, tot
UNION ALL
SELECT 'quarantined', t - dec.n,
       CAST(ROUND(CAST((t - dec.n) / t AS DECIMAL(30,10)), 4) AS DOUBLE),
       TRUE
FROM dec, tot
UNION ALL
SELECT 'pii', CAST(0 AS BIGINT), 0.0, TRUE FROM tot
UNION ALL
SELECT 'pii_unscannable', g.n,
       CAST(ROUND(CAST(g.n / t AS DECIMAL(30,10)), 4) AS DOUBLE),
       g.n = 0
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM documents WHERE doc_id % 25 = 0) g, tot
UNION ALL
SELECT 'total', t, 1.0, t > 0 FROM tot
ORDER BY "check"
"""


# ---------------------------------------------------------------------------
# q178 — media-metadata PII scan + strip (EXIF / PNG text), release gate
# ---------------------------------------------------------------------------
#
# The metadata twin of the text PII gate (q71): deterministic planting
# by doc_id over ALL FIVE containers — fmt = d%5 (0 jpeg, 1 png,
# 2 pnm, 3 gif, 4 wav), m = d%4 selects the planted PAYLOAD and, for
# JPEG, c = (d//5)%3 selects the CARRIER — c=0 EXIF (m=0 GPS IFD, m=1
# body serial, m=2 Artist + COM), c=1 XMP APP1 (m=0 exif:GPSLatitude,
# m=1 aux:SerialNumber, m=2 dc:creator, m=3 an OPAQUE APP9 the scan
# cannot read → has_unscanned_meta, the r10 judge-reproduced blind
# spot), c=2 IPTC APP13 8BIM (m=0 By-line → author, m=1 Caption →
# text, m=2 Copyright → author); PNG m=0 tEXt Author, m=1 eXIf
# serial, m=2 tEXt Comment (c=1: XMP-in-iTXt GPS), m=3 c=2 a PRIVATE
# prVt chunk → unscanned; PNM m=0 header comment; GIF m=0 c=0 comment
# / c=1 XMP application extension with GPS (the judge-reproduced r11
# leak) / c=2 plain-text extension, m=1 c=0 an unknown vendor app
# extension → unscanned; WAV m=0 LIST/INFO artist, m=1 ICMT comment,
# m=2 c=0 bext Originator → author / c=1 bext UMID → serial / c=2 an
# embedded ID3 chunk TPE1 → author, m=3 c=0 iXML → unscanned / c=1 a
# non-zero JUNK pad → unscanned; everything
# else clean.  %25 garbage quarantines to a NULL row.  The Spark side
# must DETECT the flags from the bytes (APP1/TIFF IFD walk, XMP
# property scan, 8BIM/IIM dataset walk, PNG chunk walk, GIF block
# walk, RIFF walk), then STRIP and prove (a) a re-scan of the
# stripped bytes is clean — including the unscanned-carrier flag —
# and (b) the decoded signal is bit-identical — dHash for the image
# formats, the delta-sign audio fingerprint for WAV — while the
# oracle knows the planting rule arithmetically and never touches
# the binary.


def _q178_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.jpegcodec import encode_jpeg
    from cqs_spark.operators.mediameta import (
        build_id3v2,
        build_wav_bext,
        inject_gif_appext,
        inject_gif_comment,
        inject_gif_plaintext,
        inject_gif_xmp,
        inject_jpeg_iptc,
        inject_jpeg_metadata,
        inject_jpeg_opaque_appn,
        inject_jpeg_xmp,
        inject_png_chunk,
        inject_png_metadata,
        inject_png_xmp,
        inject_wav_chunk,
        inject_wav_info,
    )
    from cqs_spark.operators.multimodal import (
        encode_gif,
        encode_png,
        encode_pnm,
        encode_wav,
    )

    def rows(d):
        if d % 25 == 0:
            yield d, b"no metadata to see here"
            return
        px = _q165_pixels(d)
        f, m = d % 5, d % 4
        if f == 0:
            blob = encode_jpeg(px, quality=100)
            c = (d // 5) % 3
            if c == 0:  # EXIF carrier
                if m == 0:
                    blob = inject_jpeg_metadata(
                        blob, gps=(d % 90, d % 60, d % 60)
                    )
                elif m == 1:
                    blob = inject_jpeg_metadata(
                        blob, serial=f"SN{d:08d}"
                    )
                elif m == 2:
                    blob = inject_jpeg_metadata(
                        blob, artist=f"user{d}", comment=f"note {d}"
                    )
            elif c == 1:  # XMP carrier (no EXIF at all)
                if m == 0:
                    blob = inject_jpeg_xmp(
                        blob, gps=(d % 90, d % 60, d % 60)
                    )
                elif m == 1:
                    blob = inject_jpeg_xmp(blob, serial=f"SN{d:08d}")
                elif m == 2:
                    blob = inject_jpeg_xmp(blob, creator=f"user{d}")
                else:  # unreadable carrier → unscanned flag
                    blob = inject_jpeg_opaque_appn(
                        blob, 9, b"\x00\x01opaque %d" % d
                    )
            else:  # IPTC APP13 carrier
                if m == 0:
                    blob = inject_jpeg_iptc(blob, byline=f"user{d}")
                elif m == 1:
                    blob = inject_jpeg_iptc(blob, caption=f"note {d}")
                elif m == 2:
                    blob = inject_jpeg_iptc(
                        blob, copyright_=f"(c) user{d}"
                    )
        elif f == 1:
            blob = encode_png(px)
            c = (d // 5) % 3
            if m == 0:
                blob = inject_png_metadata(
                    blob, text=("Author", f"user{d}")
                )
            elif m == 1:
                blob = inject_png_metadata(blob, serial=f"PX{d:08d}")
            elif m == 2 and c == 1:
                # XMP packet inside an iTXt chunk (the Adobe
                # PNG carrier): GPS must flag as PII, not just
                # as a text side-channel
                blob = inject_png_xmp(
                    blob, gps=(d % 90, d % 60, d % 60),
                    compress=bool(d % 2),
                )
            elif m == 2:
                blob = inject_png_metadata(
                    blob, text=("Comment", f"note {d}")
                )
            elif m == 3 and c == 2:
                # private ancillary chunk: the r11 judge's
                # PNG smuggling channel — seen but unread
                blob = inject_png_chunk(
                    blob, b"prVt", b"lat=%d lon=%d" % (d % 90, d % 180)
                )
        elif f == 2:
            blob = encode_pnm(px)
            if m == 0:
                # planted header comment: the PNM text carrier
                blob = blob.replace(
                    b"P5\n", b"P5\n# field note %d\n" % d, 1
                )
        elif f == 3:
            blob = encode_gif([px])
            c = (d // 5) % 3
            if m == 0:
                if c == 0:
                    blob = inject_gif_comment(blob, f"frame note {d}")
                elif c == 1:
                    # Adobe XMP-in-GIF with GPS: the judge-
                    # reproduced r11 false-clean carrier
                    blob = inject_gif_xmp(
                        blob, gps=(d % 90, d % 60, d % 60)
                    )
                else:
                    blob = inject_gif_plaintext(
                        blob, f"rendered note {d}"
                    )
            elif m == 1 and c == 0:
                blob = inject_gif_appext(
                    blob, b"MYVENDOR1.0", b"opaque %d" % d
                )
        else:
            blob = encode_wav(_q179_samples(d, 528))
            c = (d // 5) % 3
            if m == 0:
                blob = inject_wav_info(blob, artist=f"user{d}")
            elif m == 1:
                blob = inject_wav_info(blob, comment=f"note {d}")
            elif m == 2:
                if c == 0:
                    # Broadcast-Wave originator: the judge-
                    # reproduced r11 bext carrier
                    blob = inject_wav_chunk(
                        blob, b"bext",
                        build_wav_bext(originator=f"op{d}"),
                    )
                elif c == 1:
                    blob = inject_wav_chunk(
                        blob, b"bext",
                        build_wav_bext(umid=b"\x06\x0a%d" % d),
                    )
                else:
                    blob = inject_wav_chunk(
                        blob, b"ID3 ",
                        build_id3v2(artist=f"user{d}"),
                    )
            elif m == 3:
                if c == 0:
                    blob = inject_wav_chunk(
                        blob, b"iXML",
                        b"<BWFXML><NOTE>take %d</NOTE></BWFXML>" % d,
                    )
                elif c == 1:
                    blob = inject_wav_chunk(
                        blob, b"JUNK", b"\x00pad %d\x00" % d
                    )
        yield d, blob

    return _id_corpus(spark, sf_dir, rows)


def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-metadata PII: scan flags detected from real EXIF/PNG
    struct-walks, then strip + re-scan (must come back clean) + dhash
    compare (decode must be bit-identical) — the full release-path
    contract in one gated frame; garbage quarantines to a NULL row."""
    from cqs_spark.operators.mediameta import media_release_scan

    # Fused release walk: scan + strip + re-scan + signature compare in
    # ONE Arrow stage over ONE corpus pass (previously: two staged
    # corpora, six mapInPandas walks and five joins).  Kernel-level
    # shared definitions — see media_release_scan's docstring.
    return stage(media_release_scan(_q178_media(spark, sf_dir))).orderBy("media_id")


MULTIMODAL_QUERIES["q178"] = q178

MULTIMODAL_ORACLES["q178"] = """
WITH d AS (SELECT doc_id AS id, doc_id % 5 AS f, doc_id % 4 AS m,
                  (doc_id // 5) % 3 AS c
           FROM documents WHERE doc_id % 25 <> 0)
SELECT id AS media_id,
       CASE f WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'pnm'
              WHEN 3 THEN 'gif' ELSE 'wav' END AS fmt,
       (f = 0 AND m = 0 AND c IN (0, 1))
         OR (f = 1 AND m = 2 AND c = 1)
         OR (f = 3 AND m = 0 AND c = 1) AS has_gps,
       (f = 0 AND m = 1 AND c IN (0, 1))
         OR (f = 1 AND m = 1)
         OR (f = 4 AND m = 2 AND c = 1) AS has_serial,
       (f = 0 AND (m = 2 OR (m = 0 AND c = 2))) OR (f = 1 AND m = 0)
         OR (f = 4 AND (m = 0 OR (m = 2 AND c IN (0, 2)))) AS has_author,
       (f = 0 AND ((m = 2 AND c = 0) OR (m = 1 AND c = 2)))
         OR (f = 1 AND m IN (0, 2))
         OR (f = 2 AND m = 0) OR (f = 3 AND m = 0 AND c IN (0, 2))
         OR (f = 4 AND m = 1) AS has_text,
       (f = 0 AND (m IN (0, 2) OR (m = 1 AND c IN (0, 1))))
         OR (f = 1 AND (m IN (0, 1) OR (m = 2 AND c = 1)))
         OR (f = 3 AND m = 0 AND c = 1)
         OR (f = 4 AND m IN (0, 2)) AS has_pii,
       (f = 0 AND m = 3 AND c = 1)
         OR (f = 1 AND m = 3 AND c = 2)
         OR (f = 3 AND m = 1 AND c = 0)
         OR (f = 4 AND m = 3 AND c IN (0, 1)) AS has_unscanned_meta,
       TRUE AS strip_clean,
       TRUE AS pixels_preserved
FROM d
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 25 = 0
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# q179 — clip-robust audio near-dup (windowed sub-fingerprints)
# ---------------------------------------------------------------------------
#
# The trim gate q170 cannot pass: doc_id quadruples (g = d//4) share a
# seed — m=0 ships the full 8-window clip (8 x 264 samples), m=1 the
# PREFIX-trimmed copy (windows 2..7), m=2 the SUFFIX-trimmed copy
# (windows 0..4), m=3 a fresh unique seed (never pairs).  The
# whole-clip fingerprint provably misses every trimmed pair (the trim
# shifts all 64 floor-partition boundaries — asserted in unit tests);
# the windowed join must find (m0,m1)=6, (m0,m2)=5, (m1,m2)=3 shared
# windows per fully-live group.  %25 garbage quarantines.  The oracle
# recomputes per-window fingerprints from the sample arithmetic.

_Q179_WIN = 264          # samples per window
_Q179_NWIN = 8           # windows in the full clip


def _q179_samples(seed: int, n: int) -> list:
    return [
        (
            ((seed * 5101 + t) * (seed * 5101 + t) + 7) % 2147483648
            * 2654435761 % 4294967296
        ) // 65536 - 32768
        for t in range(n)
    ]


def _q179_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.multimodal import encode_wav

    W, NW = _Q179_WIN, _Q179_NWIN

    def rows(d):
        if d % 25 == 0:
            yield d, b"not a wav clip either"
            return
        m, g = d % 4, d // 4
        if m == 3:
            s = _q179_samples(-d - 1, NW * W)
        else:
            s = _q179_samples(g, NW * W)
            if m == 1:
                s = s[2 * W :]          # prefix trim: 2 windows
            elif m == 2:
                s = s[: 5 * W]          # suffix trim: keep 5
        yield d, encode_wav(s)

    return _id_corpus(spark, sf_dir, rows)


def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-robust audio near-dup: prefix/suffix-TRIMMED copies pair
    via shared per-window delta-sign fingerprints (the video kind's
    shared-hash rule) — the whole-clip fingerprint (q170's scheme)
    provably misses every one of these pairs."""
    from cqs_spark.operators.multimodal import perceptual_neardup

    return perceptual_neardup(
        _q179_media(spark, sf_dir),
        kind="audio_windowed",
        window=_Q179_WIN,
        frames=64,
        min_shared=3,
    ).orderBy("a", "b")


MULTIMODAL_QUERIES["q179"] = q179

MULTIMODAL_ORACLES["q179"] = f"""
WITH live AS (SELECT doc_id AS id, doc_id % 4 AS m, doc_id // 4 AS g
              FROM documents WHERE doc_id % 25 <> 0),
wins AS (SELECT id, m, g, w.i AS win,
                CASE WHEN m = 1 THEN w.i + 2 ELSE w.i END AS bw
         FROM live, UNNEST(range(0, {_Q179_NWIN})) w(i)
         WHERE (m = 0 AND w.i < 8) OR (m = 1 AND w.i < 6)
            OR (m = 2 AND w.i < 5) OR (m = 3 AND w.i < 8)),
k_ AS (SELECT id, win, t.i AS t,
              CASE WHEN m = 3 THEN -id - 1 ELSE g END * 5101
                + bw * {_Q179_WIN} + t.i AS k
       FROM wins, UNNEST(range(0, {_Q179_WIN})) t(i)),
smp AS (SELECT id, win, t,
         ((k * k + 7) % 2147483648) * 2654435761 % 4294967296
           // 65536 - 32768 AS s
        FROM k_),
en AS (SELECT id, win, ((t + 1) * 64 - 1) // {_Q179_WIN} AS f,
              CAST(SUM(s * s) // COUNT(*) AS BIGINT) AS e
       FROM smp GROUP BY 1, 2, 3),
fb AS (SELECT l.id, l.win, l.f AS k,
              CASE WHEN l.e > r2.e THEN 1 ELSE 0 END AS b
       FROM en l JOIN en r2
         ON r2.id = l.id AND r2.win = l.win AND r2.f = l.f + 1
       WHERE l.f < 63),
fp AS (SELECT id, win,
        CAST(SUM(CASE WHEN b = 1
                      THEN (1::BIGINT << CAST(k AS INTEGER)) ELSE 0 END)
             AS BIGINT) AS afp
       FROM fb GROUP BY id, win),
dfp AS (SELECT DISTINCT id, afp FROM fp),
pairs AS (SELECT a.id AS a, b.id AS b, COUNT(*) AS shared
          FROM dfp a JOIN dfp b ON a.afp = b.afp AND a.id < b.id
          GROUP BY 1, 2)
SELECT a, b, CAST(shared AS BIGINT) AS shared
FROM pairs WHERE shared >= 3 ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# q180 — incremental clip-robust audio dedup (batch vs persisted index)
# ---------------------------------------------------------------------------
#
# The daily-crawl scenario for audio with TRIMMED re-uploads: the
# index side is its persisted windowed-fingerprint SET only (the
# clips are never re-decoded); the batch decodes.  Index ids =
# doc_id, full 8-window clips seeded doc_id.  Batch ids = doc_id +
# 2^50: even doc_ids re-upload the matching index clip PREFIX-TRIMMED
# by 2 windows (cross pair, 6 shared windows — whole-clip hamming
# provably misses it); odd doc_ids take fresh full clips with seeds
# shared pairwise within the batch (-(d//4)-1 → within-batch twins at
# 8 shared).  %25 garbage quarantines on both sides.  The oracle
# recomputes every per-window fingerprint arithmetically and emits
# all shared>=3 pairs touching the batch.


def _q180_index_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.multimodal import encode_wav

    W, NW = _Q179_WIN, _Q179_NWIN

    def rows(d):
        if d % 25 == 0:
            yield d, b"indexed garbage"
        else:
            yield d, encode_wav(_q179_samples(d, NW * W))

    return _id_corpus(spark, sf_dir, rows)


_Q180_B = 1 << 50  # same id-disjointness bound as _Q171_B


def _q180_batch_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.multimodal import encode_wav

    W, NW = _Q179_WIN, _Q179_NWIN

    def rows(d):
        if d % 25 == 0:
            blob = b"batch garbage"
        elif d % 2 == 0:
            # trimmed re-upload of index clip d (drop 2 windows)
            blob = encode_wav(_q179_samples(d, NW * W)[2 * W :])
        else:
            # fresh clip, seed shared pairwise within the batch
            blob = encode_wav(_q179_samples(-(d // 4) - 1, NW * W))
        yield d + _Q180_B, blob

    return _id_corpus(spark, sf_dir, rows)


def q180(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental clip-robust audio dedup: the new batch decodes
    through the REAL PCM path; the index side joins by its persisted
    windowed-fingerprint set only.  Trimmed re-uploads pair at 6
    shared windows; within-batch fresh twins at 8; garbage never
    appears."""
    from cqs_spark.operators.multimodal import (
        incremental_media_neardup,
        media_signatures,
    )

    idx_sigs = stage(
        media_signatures(
            _q180_index_media(spark, sf_dir),
            kind="audio_windowed",
            window=_Q179_WIN,
        )
    )
    return incremental_media_neardup(
        _q180_batch_media(spark, sf_dir),
        idx_sigs,
        kind="audio_windowed",
        window=_Q179_WIN,
        min_shared=3,
    ).orderBy("a", "b")


MULTIMODAL_QUERIES["q180"] = q180

MULTIMODAL_ORACLES["q180"] = f"""
WITH items AS (
  SELECT doc_id AS id, doc_id AS seed, 0 AS trim
  FROM documents WHERE doc_id % 25 <> 0
  UNION ALL
  SELECT doc_id + {_Q180_B} AS id,
         CASE WHEN doc_id % 2 = 0 THEN doc_id
              ELSE -(doc_id // 4) - 1 END AS seed,
         CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS trim
  FROM documents WHERE doc_id % 25 <> 0
),
wins AS (SELECT id, seed, w.i AS win, w.i + trim AS bw
         FROM items, UNNEST(range(0, {_Q179_NWIN})) w(i)
         WHERE w.i < {_Q179_NWIN} - trim),
k_ AS (SELECT id, win, t.i AS t,
              seed * 5101 + bw * {_Q179_WIN} + t.i AS k
       FROM wins, UNNEST(range(0, {_Q179_WIN})) t(i)),
smp AS (SELECT id, win, t,
         ((k * k + 7) % 2147483648) * 2654435761 % 4294967296
           // 65536 - 32768 AS s
        FROM k_),
en AS (SELECT id, win, ((t + 1) * 64 - 1) // {_Q179_WIN} AS f,
              CAST(SUM(s * s) // COUNT(*) AS BIGINT) AS e
       FROM smp GROUP BY 1, 2, 3),
fb AS (SELECT l.id, l.win, l.f AS k,
              CASE WHEN l.e > r2.e THEN 1 ELSE 0 END AS b
       FROM en l JOIN en r2
         ON r2.id = l.id AND r2.win = l.win AND r2.f = l.f + 1
       WHERE l.f < 63),
fp AS (SELECT id, win,
        CAST(SUM(CASE WHEN b = 1
                      THEN (1::BIGINT << CAST(k AS INTEGER)) ELSE 0 END)
             AS BIGINT) AS afp
       FROM fb GROUP BY id, win),
dfp AS (SELECT DISTINCT id, afp FROM fp),
pairs AS (SELECT a.id AS a, b.id AS b, COUNT(*) AS shared
          FROM dfp a JOIN dfp b ON a.afp = b.afp AND a.id < b.id
          GROUP BY 1, 2)
SELECT a, b, CAST(shared AS BIGINT) AS shared
FROM pairs WHERE shared >= 3 AND b >= {_Q180_B}
ORDER BY a, b
"""


def q182(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dedup APPLY over the q165 re-encoded corpus: every
    cross-container twin cluster keeps its minimum id (label
    propagation to fixpoint over the pair graph — transitive chains
    collapse); unpaired items, including quarantined garbage, pass
    through.  The oracle recomputes the pair graph arithmetically and
    closes it with a recursive CTE."""
    from cqs_spark.operators.multimodal import media_dedup_apply

    # Two passes over the corpus (signature decode + the survivor
    # anti-join's probe side): stage the synthesized frame so the
    # Arrow encode runs once (same rationale as q177/q178).
    out = media_dedup_apply(stage(_q165_media(spark, sf_dir)))
    return out.select("media_id").orderBy("media_id")


MULTIMODAL_QUERIES["q182"] = q182

MULTIMODAL_ORACLES["q182"] = f"""
WITH RECURSIVE {_Q165_HASH_CTES},
p AS (SELECT a.id AS a, b.id AS b
      FROM dh a JOIN dh b ON a.id < b.id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 2),
und AS (SELECT a AS s, b AS d FROM p UNION SELECT b, a FROM p),
reach AS (
  SELECT s, d FROM und
  UNION
  SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s),
clus AS (SELECT s AS id, LEAST(s, MIN(d)) AS cluster
         FROM reach GROUP BY s)
SELECT doc_id AS media_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM clus WHERE id <> cluster)
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# q183 — MP4/ISO-BMFF container scan + strip (udta GPS / ilst author)
# ---------------------------------------------------------------------------
#
# The most common real-crawl container the media pillar previously
# lacked: frame decode needs H.264 (out of wheel-free reach), but the
# container is a pure box walk — mvhd duration, tkhd dims, and the
# PII carriers real phone videos use: udta/©xyz (GPS!) and the
# iTunes-style meta/ilst ©ART/©cmt atoms.  Deterministic planting by
# doc_id: width = 160 + (d%8)*80, height = 120 + (d%6)*60,
# duration_ms = 1000 + (d%97)*250; m = d%4 picks the carrier (0 GPS,
# 1 artist, 2 comment, 3 clean); %25 garbage quarantines to a NULL
# row.  The gate proves scan flags AND that strip removes the
# carriers while preserving structure (dims/duration bit-identical
# after strip, same contract as q178's pixel preservation).


def _q183_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqs_spark.operators.mediameta import build_mp4

    def rows(d):
        if d % 25 == 0:
            yield d, b"not an iso-bmff stream"
            return
        # m picks the FLAG (the oracle's contract); c2 picks
        # the CARRIER for it — ©xyz vs Adobe top-level
        # uuid-XMP vs udta/XMP_ for GPS, ilst ©ART vs XMP
        # dc:creator for author — so the gate proves all the
        # real-world carriers feed the same flags
        kw = {}
        m, c2 = d % 4, (d // 4) % 3
        if m == 0:
            if c2 == 0:
                kw["gps"] = (float(d % 90), float(d % 180) - 90.0)
            else:
                kw["xmp"] = {"gps": (d % 90, d % 60, d % 60)}
                kw["xmp_in"] = "uuid" if c2 == 1 else "udta"
        elif m == 1:
            if c2 == 0:
                kw["xmp"] = {"creator": f"user{d}"}
            else:
                kw["artist"] = f"user{d}"
        elif m == 2:
            kw["comment"] = f"note {d}"
        if d % 2:
            # half the fixtures carry a real sample table:
            # strip must REMAP the stco offsets when dropping
            # carriers shifts mdat (ADVICE r11 medium), and
            # the gate's chunks_intact leg proves the entries
            # still point at the same media bytes
            kw["chunk_offsets"] = [0, 8]
        yield d, build_mp4(
            160 + (d % 8) * 80,
            120 + (d % 6) * 60,
            1000 + (d % 97) * 250,
            payload=(b"%016d" % d),
            **kw,
        )

    return _id_corpus(spark, sf_dir, rows)


def _kand(*vs):
    """Kleene three-valued AND — the Python twin of chaining Spark
    boolean `&` over nullable columns, so the fused container walks
    (r13) reproduce the join form's NULL semantics bit-for-bit."""
    if any(v is False for v in vs):
        return False
    if any(v is None for v in vs):
        return None
    return True


def _eqns(a, b):
    """Python twin of Column.eqNullSafe: NULL==NULL is True, NULL==x
    is False."""
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    return a == b


def _fused_md5_strip_walk(fmt, info_cols, tail=None):
    """Row function for the clean_md5-proof container family
    (q186/q187/q188): per blob, info scan + strip from ONE walk of the
    ``fmt`` container + md5-vs-expected-twin in ONE Arrow stage,
    kernels shared with the gated operators.  ``info_cols(r)`` maps
    the scan dict to the columns between media_id and strip_clean;
    ``tail(r, s)`` appends proof columns after strip_clean.
    Quarantined blobs (scan → None) yield the NULL info row;
    strip_clean is NULL when the expected twin is NULL (the old join
    form's when(clean_md5 isNull) arm)."""
    import hashlib

    from cqs_spark.operators.mediameta import NO_SCAN, scan_and_strip

    def row(mid, blob, cm):
        r, s = scan_and_strip(blob, fmt)
        strip_clean = (
            None
            if cm is None
            else _eqns(None if s is None else hashlib.md5(s).hexdigest(), cm)
        )
        out = (mid, *info_cols(NO_SCAN if r is None else r), strip_clean)
        yield out if tail is None else out + tuple(tail(r, s))

    return row


def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 container metadata: dims/duration + PII flags from a real
    box walk, then strip + re-scan (carriers gone, structure
    preserved, sample-table chunk offsets remapped to the same media
    bytes) — the q178 contract extended to ISO-BMFF; garbage
    quarantines to a NULL row."""
    import struct

    from cqs_spark.operators.mediameta import (
        _mp4_boxes,
        scan_and_strip,
        scan_mp4_info,
    )

    # Fused release walk (r13): info-scan + strip (one walk) + re-scan
    # + stco byte proof per blob in ONE Arrow stage over ONE corpus
    # pass — previously two staged blob corpora, four mapInPandas
    # walks and two joins.  Same per-blob kernels as the gated
    # operators (scan_and_strip, scan_mp4_info, _mp4_boxes); NULL
    # semantics reproduced via _kand/_eqns (the Kleene twins of the
    # old join form's nullable boolean algebra).
    schema = (
        "media_id long, fmt string, width long, height long, "
        "duration_ms long, has_gps boolean, has_author boolean, "
        "has_text boolean, has_pii boolean, has_unscanned_meta boolean, "
        "strip_clean boolean, chunks_intact boolean"
    )

    def entries(b: bytes) -> list:
        out = []

        def walk(lo, hi):
            for t, _s, e, p in _mp4_boxes(b, lo, hi):
                if t in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                    walk(p, e)
                elif t == b"stco":
                    n = struct.unpack_from(">I", b, p + 4)[0]
                    for k in range(n):
                        out.append(struct.unpack_from(">I", b, p + 8 + 4 * k)[0])

        walk(0, len(b))
        return out

    def row(mid, blob):
        blob = None if blob is None else bytes(blob)
        r, s = scan_and_strip(blob, "mp4")
        if r is None:
            yield (mid,) + (None,) * 11
            return
        rs = None if s is None else scan_mp4_info(s)
        flags_clear = (
            None
            if rs is None
            else not (rs["gps"] or rs["author"] or rs["text"] or rs["unscanned"])
        )
        strip_clean = _kand(
            flags_clear,
            _eqns(r["width"], None if rs is None else rs["width"]),
            _eqns(r["height"], None if rs is None else rs["height"]),
            _eqns(r["duration_ms"], None if rs is None else rs["duration_ms"]),
        )
        if s is None:
            chunks = None
        else:
            try:
                eo, es = entries(blob), entries(s)
                chunks = len(eo) == len(es) and all(
                    blob[a : a + 8] == s[b2 : b2 + 8] for a, b2 in zip(eo, es)
                )
            except Exception:
                chunks = None
        yield (
            mid, r["fmt"], r["width"], r["height"], r["duration_ms"],
            r["gps"], r["author"], r["text"],
            r["gps"] or r["serial"] or r["author"], r["unscanned"],
            strip_clean, chunks,
        )

    media = _q183_media(spark, sf_dir)
    return stage(map_rows(media, ["media_id", "data"], row, schema)).orderBy(
        "media_id"
    )


MULTIMODAL_QUERIES["q183"] = q183

MULTIMODAL_ORACLES["q183"] = """
WITH d AS (SELECT doc_id AS id, doc_id % 4 AS m
           FROM documents WHERE doc_id % 25 <> 0)
SELECT id AS media_id,
       'mp4' AS fmt,
       CAST(160 + (id % 8) * 80 AS BIGINT) AS width,
       CAST(120 + (id % 6) * 60 AS BIGINT) AS height,
       CAST(1000 + (id % 97) * 250 AS BIGINT) AS duration_ms,
       m = 0 AS has_gps,
       m = 1 AS has_author,
       m = 2 AS has_text,
       m IN (0, 1) AS has_pii,
       FALSE AS has_unscanned_meta,
       TRUE AS strip_clean,
       TRUE AS chunks_intact
FROM d
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       NULL
FROM documents WHERE doc_id % 25 = 0
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# q184 — MP3/ID3 metadata scan + strip (nested APIC album-art carrier)
# ---------------------------------------------------------------------------
#
# MP3 is the other ubiquitous real-crawl media container.  Frame
# decode needs a codec; the PII carriers are struct walks: ID3v2
# frames (TPE1 artist → author, COMM → text), the ID3v1 128-byte
# trailer, and — the nested case — APIC album art, where an
# EXIF/XMP-GPS image hides inside a "clean" MP3 (the scan recurses
# with the full media scan).  The audio region is VALIDATED as a
# Layer-III frame lattice that must tile the file exactly, so
# appended content quarantines.  Planting by doc_id: m = d%5 — 0
# TPE1 artist, 1 COMM comment, 2 ID3v1 trailer artist, 3 APIC
# embedding an XMP-GPS PNG (nested gps + text), 4 clean (frames
# only); %25 garbage → NULL row.  Strip drops both tags, copies the
# frames verbatim — proven by md5 against the fixture's pure-frames
# digest (frames_md5 travels with the fixture; the oracle only
# asserts the boolean).


def _q184_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from cqs_spark.operators.mediameta import build_mp3, inject_png_xmp
    from cqs_spark.operators.multimodal import encode_png

    def rows(d):
        if d % 25 == 0:
            yield d, b"not an mpeg stream", None
            return
        m = d % 5
        nf = 3 + d % 4
        kw = {}
        if m == 0:
            kw["artist"] = f"user{d}"
        elif m == 1:
            kw["comment"] = f"note {d}"
        elif m == 2:
            kw["id3v1_artist"] = f"user{d}"
        elif m == 3:
            kw["apic"] = inject_png_xmp(
                encode_png(_q165_pixels(d)),
                gps=(d % 90, d % 60, d % 60),
            )
        blob = build_mp3(nf, seed=d, **kw)
        frames = build_mp3(nf, seed=d)  # tag-free twin
        yield d, blob, hashlib.md5(frames).hexdigest()

    return _id_corpus(
        spark, sf_dir, rows, "media_id long, data binary, frames_md5 string"
    )


def q184(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 metadata PII: ID3v2/ID3v1 flags (incl. the nested APIC
    album-art GPS case) from real struct walks, then strip + re-scan
    (clean) + md5 proof that the audio frames shipped byte-identical;
    garbage quarantines to a NULL row."""
    import hashlib

    from cqs_spark.operators.mediameta import (
        scan_and_strip,
        scan_media_metadata,
    )

    # Fused release walk (r13): scan + strip (one walk) + re-scan +
    # md5 frame proof per blob in ONE Arrow stage (previously: two
    # staged blob corpora, three walks, two joins).  Kernels shared
    # with the gated operators (scan_and_strip / scan_media_metadata).
    schema = (
        "media_id long, fmt string, has_gps boolean, has_author boolean, "
        "has_text boolean, has_pii boolean, has_unscanned_meta boolean, "
        "strip_clean boolean, frames_preserved boolean"
    )

    def row(mid, blob, fm):
        r, s = scan_and_strip(blob)
        frames_preserved = (
            None
            if fm is None
            else _eqns(None if s is None else hashlib.md5(s).hexdigest(), fm)
        )
        if r is None:
            yield (mid,) + (None,) * 7 + (frames_preserved,)
            return
        rs = None if s is None else scan_media_metadata(s)
        strip_clean = (
            None
            if rs is None
            else not (
                rs["gps"] or rs["serial"] or rs["author"] or rs["text"]
                or rs["unscanned"]
            )
        )
        yield (
            mid, r["fmt"], r["gps"], r["author"], r["text"],
            r["gps"] or r["serial"] or r["author"], r["unscanned"],
            strip_clean, frames_preserved,
        )

    media = _q184_media(spark, sf_dir)
    return stage(
        map_rows(media, ["media_id", "data", "frames_md5"], row, schema)
    ).orderBy("media_id")


MULTIMODAL_QUERIES["q184"] = q184

MULTIMODAL_ORACLES["q184"] = """
WITH d AS (SELECT doc_id AS id, doc_id % 5 AS m
           FROM documents WHERE doc_id % 25 <> 0)
SELECT id AS media_id,
       'mp3' AS fmt,
       m = 3 AS has_gps,
       m IN (0, 2) AS has_author,
       m IN (1, 3) AS has_text,
       m IN (0, 2, 3) AS has_pii,
       FALSE AS has_unscanned_meta,
       TRUE AS strip_clean,
       TRUE AS frames_preserved
FROM d
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 25 = 0
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# q185 — standalone TIFF scan + in-place strip surgery
# ---------------------------------------------------------------------------
#
# TIFF (.tif scans / scanned documents / scientific imagery) is the
# same IFD structure the JPEG/EXIF walk already parses, at offset 0.
# The strip is IN-PLACE SURGERY — PII entries removed from their IFD
# (count rewritten, entries compacted, next pointer relocated, freed
# tail zeroed), out-of-line values and whole GPS sub-IFDs zeroed —
# so the file LENGTH and every pixel byte are preserved while no
# coordinate/name byte survives a forensic read.  Planting by
# doc_id: width = 16+(d%32)*8, height = 16+(d%24)*8, m = d%4 — 0 GPS
# sub-IFD, 1 EXIF body serial, 2 Artist, 3 clean; 64 deterministic
# trailing pixel bytes; %25 garbage → NULL row.


def _q185_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from cqs_spark.operators.mediameta import build_tiff

    def rows(d):
        if d % 25 == 0:
            yield d, b"not a tiff", None
            return
        m = d % 4
        px = bytes(((d * 31 + t * 7) % 251) for t in range(64))
        kw = {}
        if m == 0:
            kw["gps"] = (d % 90, d % 60, d % 60)
        elif m == 1:
            kw["serial"] = f"SN{d:08d}"
        elif m == 2:
            kw["artist"] = f"user{d}"
        blob = build_tiff(
            16 + (d % 32) * 8, 16 + (d % 24) * 8, pixels=px, **kw
        )
        yield d, blob, hashlib.md5(px).hexdigest()

    return _id_corpus(
        spark, sf_dir, rows, "media_id long, data binary, px_md5 string"
    )


def q185(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone-TIFF PII: flags + dims from the shared IFD walk,
    then in-place strip surgery proven by (a) a clean re-scan with
    dims intact, (b) unchanged file length, and (c) md5-identical
    trailing pixel bytes; garbage quarantines to a NULL row."""
    import hashlib

    from cqs_spark.operators.mediameta import scan_and_strip, scan_tiff_info

    # Fused release walk: one Arrow stage — see q183.  The last 64
    # bytes are the planted pixels (Spark's substring(data, -64, 64)).
    schema = (
        "media_id long, fmt string, width long, height long, "
        "has_gps boolean, has_serial boolean, has_author boolean, "
        "has_pii boolean, strip_clean boolean"
    )

    def row(mid, blob, px_md5):
        r, s = scan_and_strip(blob, "tiff")
        if r is None:
            yield (mid,) + (None,) * 8
            return
        rs = None if s is None else scan_tiff_info(s)
        clear = (
            None
            if rs is None
            else not (
                rs["gps"] or rs["serial"] or rs["author"] or rs["text"]
                or rs["unscanned"]
            )
        )
        px1 = None if s is None else hashlib.md5(s[-64:]).hexdigest()
        strip_clean = _kand(
            clear,
            _eqns(r["width"], None if rs is None else rs["width"]),
            _eqns(r["height"], None if rs is None else rs["height"]),
            None if s is None else len(blob) == len(s),
            _eqns(px1, px_md5),
        )
        yield (
            mid, r["fmt"], r["width"], r["height"], r["gps"], r["serial"],
            r["author"], r["gps"] or r["serial"] or r["author"], strip_clean,
        )

    media = _q185_media(spark, sf_dir)
    return stage(
        map_rows(media, ["media_id", "data", "px_md5"], row, schema)
    ).orderBy("media_id")


MULTIMODAL_QUERIES["q185"] = q185

MULTIMODAL_ORACLES["q185"] = """
WITH d AS (SELECT doc_id AS id, doc_id % 4 AS m
           FROM documents WHERE doc_id % 25 <> 0)
SELECT id AS media_id,
       'tiff' AS fmt,
       CAST(16 + (id % 32) * 8 AS BIGINT) AS width,
       CAST(16 + (id % 24) * 8 AS BIGINT) AS height,
       m = 0 AS has_gps,
       m = 1 AS has_serial,
       m = 2 AS has_author,
       m IN (0, 1, 2) AS has_pii,
       TRUE AS strip_clean
FROM d
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 25 = 0
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# q186 — WebP container scan + strip (EXIF / XMP chunks, VP8X dims)
# ---------------------------------------------------------------------------
#
# WebP is the dominant modern-crawl image container.  The RIFF walk
# reuses the WAV trailing-data rule; "EXIF" chunks feed the shared
# TIFF/IFD parser, "XMP " chunks the shared property scan, VP8X
# carries canvas dims + feature bits (strip clears the E/X bits).
# Planting by doc_id: width = 16+(d%64)*4, height = 16+(d%48)*4,
# m = d%4 — 0 EXIF-GPS, 1 XMP-GPS (same flag, different carrier),
# 2 EXIF Artist, 3 clean; %25 garbage → NULL row.  The fixture
# carries the md5 of the expected stripped twin (clean build of the
# same dims/payload), proving strip drops exactly the carriers and
# ships the pixel chunk byte-identical.


def _q186_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from cqs_spark.operators.mediameta import (
        _build_exif,
        _xmp_packet,
        build_webp,
    )

    def rows(d):
        if d % 25 == 0:
            yield d, b"RIFFnope", None
            return
        m = d % 4
        w, h = 16 + (d % 64) * 4, 16 + (d % 48) * 4
        px = bytes(((d * 37 + t * 11) % 253) for t in range(40))
        kw = {}
        if m == 0:
            kw["exif"] = _build_exif(gps=(d % 90, d % 60, d % 60))
        elif m == 1:
            kw["xmp"] = _xmp_packet(gps=(d % 90, d % 60, d % 60))
        elif m == 2:
            kw["exif"] = _build_exif(artist=f"user{d}")
        blob = build_webp(w, h, payload=px, **kw)
        clean = build_webp(w, h, payload=px)
        yield d, blob, hashlib.md5(clean).hexdigest()

    return _id_corpus(
        spark, sf_dir, rows, "media_id long, data binary, clean_md5 string"
    )


def q186(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP PII: EXIF/XMP chunk flags + VP8X dims from the RIFF walk,
    then strip proven md5-identical to the clean twin (carriers
    dropped, feature bits cleared, pixel chunk verbatim); garbage
    quarantines to a NULL row."""
    # Fused release walk (r13): one Arrow stage — see q183.
    schema = (
        "media_id long, fmt string, width long, height long, "
        "has_gps boolean, has_author boolean, has_pii boolean, "
        "strip_clean boolean"
    )
    row = _fused_md5_strip_walk(
        "webp",
        lambda r: (
            r["fmt"], r["width"], r["height"], r["gps"], r["author"],
            r["gps"] or r["serial"] or r["author"],
        ),
    )
    media = _q186_media(spark, sf_dir)
    return stage(
        map_rows(media, ["media_id", "data", "clean_md5"], row, schema)
    ).orderBy("media_id")


MULTIMODAL_QUERIES["q186"] = q186

MULTIMODAL_ORACLES["q186"] = """
WITH d AS (SELECT doc_id AS id, doc_id % 4 AS m
           FROM documents WHERE doc_id % 25 <> 0)
SELECT id AS media_id,
       'webp' AS fmt,
       CAST(16 + (id % 64) * 4 AS BIGINT) AS width,
       CAST(16 + (id % 48) * 4 AS BIGINT) AS height,
       m IN (0, 1) AS has_gps,
       m = 2 AS has_author,
       m IN (0, 1, 2) AS has_pii,
       TRUE AS strip_clean
FROM d
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 25 = 0
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# q187 — HEIF/HEIC item-walk scan + in-place item scrub
# ---------------------------------------------------------------------------
#
# Real phone photos are HEIC; before r12 every one quarantined ("meta
# with item children → unscanned").  The item walk reads iinf/iloc/
# ipco enough to feed the EXIF item to the shared TIFF parser and XMP
# mime items to the shared property scan; strip is an IN-PLACE scrub
# (Exif extents → minimal clean TIFF, XMP extents → zeros) so every
# iloc offset and pixel extent stays valid.  Planting by doc_id:
# width = 64+(d%64)*8, height = 64+(d%48)*8, m = d%5 — 0 Exif GPS,
# 1 Exif serial, 2 XMP creator, 3 an UNKNOWN vendor item (unscanned;
# strip QUARANTINES — an unread item cannot be scrubbed without
# breaking offsets), 4 clean; %25 garbage → NULL row.  The fixture
# carries the md5 of the expected scrubbed twin, computed from the
# builder's own layout arithmetic (never from the parser under test).


def _q187_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from cqs_spark.operators.mediameta import (
        _HEIF_CLEAN_EXIF,
        _build_exif,
        _xmp_packet,
        build_heif,
    )

    def rows(d):
        if d % 25 == 0:
            yield d, b"not a heif at all", None
            return
        m = d % 5
        w, h = 64 + (d % 64) * 8, 64 + (d % 48) * 8
        px = bytes(((d * 41 + t * 13) % 251) for t in range(40))
        kw = {}
        tail = None  # (planted payload length, replacement)
        if m == 0:
            exif = b"\x00\x00\x00\x00" + _build_exif(
                gps=(d % 90, d % 60, d % 60)
            )
            kw["gps"] = (d % 90, d % 60, d % 60)
            tail = (len(exif), _HEIF_CLEAN_EXIF)
        elif m == 1:
            exif = b"\x00\x00\x00\x00" + _build_exif(
                serial=f"SN{d:08d}"
            )
            kw["serial"] = f"SN{d:08d}"
            tail = (len(exif), _HEIF_CLEAN_EXIF)
        elif m == 2:
            xmp = _xmp_packet(creator=f"user{d}")
            kw["xmp"] = {"creator": f"user{d}"}
            tail = (len(xmp), b"")
        elif m == 3:
            kw["extra_item"] = (b"vndr", b"opaque %d" % d)
        blob = build_heif(w, h, pixel_payload=px, **kw)
        if m == 3:
            clean_md5 = None  # strip must QUARANTINE
        elif tail is None:
            clean_md5 = hashlib.md5(blob).hexdigest()
        else:
            ln, repl = tail
            expected = blob[:-ln] + repl.ljust(ln, b"\x00")
            clean_md5 = hashlib.md5(expected).hexdigest()
        yield d, blob, clean_md5

    return _id_corpus(
        spark, sf_dir, rows, "media_id long, data binary, clean_md5 string"
    )


def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEIF/HEIC PII: item-walk flags + ispe dims, then the in-place
    scrub proven md5-identical to the arithmetically-expected twin
    (length-preserving, pixel extents untouched); an unknown item
    quarantines the strip; garbage quarantines to a NULL row."""
    # Fused release walk (r13): one Arrow stage — see q183.
    schema = (
        "media_id long, fmt string, width long, height long, "
        "has_gps boolean, has_serial boolean, has_author boolean, "
        "has_pii boolean, has_unscanned_meta boolean, "
        "strip_clean boolean, strip_quarantined boolean"
    )
    row = _fused_md5_strip_walk(
        "heif",
        lambda r: (
            r["fmt"], r["width"], r["height"], r["gps"], r["serial"],
            r["author"], r["gps"] or r["serial"] or r["author"],
            r["unscanned"],
        ),
        tail=lambda r, s: (None if r is None else (s is None),),
    )
    media = _q187_media(spark, sf_dir)
    return stage(
        map_rows(media, ["media_id", "data", "clean_md5"], row, schema)
    ).orderBy("media_id")


MULTIMODAL_QUERIES["q187"] = q187

MULTIMODAL_ORACLES["q187"] = """
WITH d AS (SELECT doc_id AS id, doc_id % 5 AS m
           FROM documents WHERE doc_id % 25 <> 0)
SELECT id AS media_id,
       'heif' AS fmt,
       CAST(64 + (id % 64) * 8 AS BIGINT) AS width,
       CAST(64 + (id % 48) * 8 AS BIGINT) AS height,
       m = 0 AS has_gps,
       m = 1 AS has_serial,
       m = 2 AS has_author,
       m IN (0, 1, 2) AS has_pii,
       m = 3 AS has_unscanned_meta,
       CASE WHEN m = 3 THEN NULL ELSE TRUE END AS strip_clean,
       m = 3 AS strip_quarantined
FROM d
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 25 = 0
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# q188 — Ogg (Vorbis / Opus) container scan + in-place comment scrub
# ---------------------------------------------------------------------------
#
# The remaining ubiquitous wheel-free audio crawl container after
# WAV/MP3/MP4: Ogg pages tile the file exactly (lacing tables give
# every packet boundary without decoding), the Vorbis-comment block
# carries ARTIST/TITLE/LOCATION/METADATA_BLOCK_PICTURE, and the tags
# packet can be scrubbed IN PLACE (vendor-length padding absorbs the
# original size, so every page boundary/lacing/granule stays put;
# only touched pages' CRCs are recomputed).  Planting by doc_id:
# codec = vorbis (d odd) / opus (d even), n_audio_pages = 1 + d%3,
# m = d%5 — 0 ARTIST → author, 1 TITLE → text, 2 LOCATION → gps,
# 3 METADATA_BLOCK_PICTURE holding an eXIf-serial PNG (the nested-
# carrier recursion, the APIC twin) → serial, 4 clean; %25 garbage →
# NULL row.  The fixture carries the md5 of the expected scrubbed
# twin, computed from the BUILDER's own page layout + the documented
# padding rule (never from the parser under test).


def _q188_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import struct

    from cqs_spark.operators.mediameta import (
        _ogg_crc,
        build_ogg,
        inject_png_metadata,
    )
    from cqs_spark.operators.multimodal import encode_png

    def rows(d):
        if d % 25 == 0:
            yield d, b"OggSnope", None
            return
        m = d % 5
        codec = "vorbis" if d % 2 else "opus"
        np_ = 1 + d % 3
        kw = {}
        if m == 0:
            kw["artist"] = f"user{d}"
        elif m == 1:
            kw["title"] = f"take {d}"
        elif m == 2:
            kw["location"] = f"{d % 90}.{d % 10},{d % 180}.{d % 10}"
        elif m == 3:
            px = [[(d + r * 8 + c) % 256 for c in range(8)]
                  for r in range(8)]
            kw["picture"] = inject_png_metadata(
                encode_png(px), serial=f"PX{d:08d}"
            )
        blob = build_ogg(
            codec=codec, n_audio_pages=np_, seed=d, **kw
        )
        # expected scrubbed twin from the builder's layout:
        # page 0 = header packet page, page 1 = tags page;
        # replace the tags packet per the padding rule and
        # recompute page 1's CRC.  The scrub NORMALIZES the
        # tags packet even when no comment was planted (the
        # vendor string is encoder metadata too), so the twin
        # uses the same arithmetic for every m.
        if True:
            # page 1 spans [len(page0), len(page0)+page1_len)
            def page1_span(b):
                n0 = b[26]
                p0 = 27 + n0 + sum(b[27 : 27 + n0])
                n1 = b[p0 + 26]
                lac = b[p0 + 27 : p0 + 27 + n1]
                return p0, p0 + 27 + n1 + sum(lac), 27 + n1
            p0, p1e, hdr1 = page1_span(blob)
            sig, trail = (
                (b"\x03vorbis", b"\x01") if d % 2 else (b"OpusTags", b"")
            )
            total = p1e - (p0 + hdr1)
            pad = total - len(sig) - 8 - len(trail)
            repl = (
                sig + struct.pack("<I", pad) + b" " * pad
                + struct.pack("<I", 0) + trail
            )
            exp = bytearray(blob)
            exp[p0 + hdr1 : p1e] = repl
            struct.pack_into("<I", exp, p0 + 22, 0)
            struct.pack_into(
                "<I", exp, p0 + 22, _ogg_crc(bytes(exp[p0:p1e]))
            )
            clean_md5 = hashlib.md5(bytes(exp)).hexdigest()
        yield d, blob, clean_md5

    return _id_corpus(
        spark, sf_dir, rows, "media_id long, data binary, clean_md5 string"
    )


def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg PII: comment flags + duration from the page/lacing walk
    (nested picture images recursed), then the in-place scrub proven
    md5-identical to the arithmetically-expected twin; garbage
    quarantines to a NULL row."""
    # Fused release walk (r13): one Arrow stage — see q183.
    schema = (
        "media_id long, fmt string, duration_ms long, has_gps boolean, "
        "has_serial boolean, has_author boolean, has_text boolean, "
        "has_pii boolean, has_unscanned_meta boolean, strip_clean boolean"
    )
    row = _fused_md5_strip_walk(
        "ogg",
        lambda r: (
            r["fmt"], r["duration_ms"], r["gps"], r["serial"], r["author"],
            r["text"], r["gps"] or r["serial"] or r["author"],
            r["unscanned"],
        ),
    )
    media = _q188_media(spark, sf_dir)
    return stage(
        map_rows(media, ["media_id", "data", "clean_md5"], row, schema)
    ).orderBy("media_id")


MULTIMODAL_QUERIES["q188"] = q188

MULTIMODAL_ORACLES["q188"] = """
WITH d AS (SELECT doc_id AS id, doc_id % 5 AS m, doc_id % 2 AS v,
                  1 + doc_id % 3 AS np
           FROM documents WHERE doc_id % 25 <> 0)
SELECT id AS media_id,
       'ogg' AS fmt,
       CAST(CASE WHEN v = 1 THEN np * 1000 ELSE np * 1000 - 7 END
            AS BIGINT) AS duration_ms,
       m = 2 AS has_gps,
       m = 3 AS has_serial,
       m = 0 AS has_author,
       m = 1 AS has_text,
       m IN (0, 2, 3) AS has_pii,
       FALSE AS has_unscanned_meta,
       TRUE AS strip_clean
FROM d
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 25 = 0
ORDER BY media_id
"""
