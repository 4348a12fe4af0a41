"""Multimodal columns: binary media + typed metadata + per-row stages.

A 100 TB training-data pipeline carries image/audio/video as opaque
``binary`` columns with typed metadata structs; decode and feature
extraction run as Arrow-batched per-row stages, each one
``cqs_spark.rows.map_rows`` over a per-blob kernel.  Decode to
typed metadata is REAL for the fixed-header formats via pure-python
parsers (PNG/GIF/BMP/JPEG/PNM dimensions+channels, WAV rate/channels/
duration) — no codec wheel needed; PIL/ffmpeg slot in for pixel-level
work (resize, embed) when present, and unrecognizable blobs yield
NULLs (quarantine, never a job kill).

Operators:
  media_table      documents → synthetic media rows (deterministic test corpus)
  byte_features    per-row 16-bin byte histogram (pure-plumbing feature UDF)
  decode_image     binary → (width, height, channels); real header decode
  decode_audio     binary → (sample_rate, channels, duration_ms); real for WAV
  frame_plan       video frame-sampling plan as a pure column expression
  media_stats      metadata rollup (the oracle-checkable aggregate, q49)
  media_neardup    byte-histogram cosine near-dup (q78)
  resize_images    box-pooled grayscale resize, long format

Perceptual near-dup, one rule per media kind:
  media_signatures   the one kind → decode kernel + (id, simhash) decision:
                     image dHash/aHash (phash_images), audio delta-sign
                     (audio_fingerprints), video per-frame dHash SET
                     (video_fingerprints), audio_windowed per-window SET
                     (audio_window_fingerprints)
  _hamming_bits      the kind table — the one kind → pair rule decision:
                     image/audio → hamming (dedup.hamming_pairs: pigeonhole
                     bands + bit_count(xor) verify); video/audio_windowed →
                     shared-hash (_shared_hash_pairs: distinct shared-hash
                     count with a document-frequency stopword cap)
  perceptual_neardup     batch pairs, any kind
  incremental_media_neardup  a new batch against persisted signatures, any kind
  media_dedup_apply  transitive image dedup (min-id survivor per cluster)
  frame_containment  still images found as video frames
  media_audit        release audit (decodable / near-dup / metadata PII)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from cqs_spark.rows import map_rows
from cqs_spark.staging import stage

try:  # pragma: no cover - not present in this container
    import PIL.Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

MEDIA_KINDS = ("image", "audio", "video")

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("data", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType(), False),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            False,
        ),
    ]
)


def media_table(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic media rows from the documents table.

    kind cycles by doc_id; ``data`` is the utf-8 text bytes (an opaque
    stand-in blob); metadata derives arithmetically from n_chars so an
    SQL oracle can reproduce it without touching the binary.
    """
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    is_image = F.col("doc_id") % 3 == 0
    is_video = F.col("doc_id") % 3 == 2
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("data"),
        F.struct(
            F.col("n_chars").alias("n_bytes"),
            F.when(is_image, (F.col("n_chars") % 640 + 64).cast("int")).alias("width"),
            F.when(is_image, (F.col("n_chars") % 480 + 48).cast("int")).alias("height"),
            F.when(is_video | ~is_image, (F.col("n_chars") * 10).cast("long")).alias(
                "duration_ms"
            ),
        ).alias("meta"),
    )


def byte_features(media: DataFrame, bins: int = 16) -> DataFrame:
    """(media_id, kind, features) — 16-bin byte histogram via mapInPandas.

    The pure-plumbing feature extractor: same Arrow batch path, same
    schema contract as a real embedding/decode model, fully
    deterministic (so tests can assert exact values).
    """
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType(), False), False),
        ]
    )
    width = 256 // bins

    def row(mid, kind, blob):
        # Vectorized per blob: frombuffer + bincount, no per-byte
        # Python loop (the UDF slow-path rule applies INSIDE Arrow
        # batches too).
        arr = np.frombuffer(bytes(blob), dtype=np.uint8)
        counts = np.bincount(arr // width, minlength=bins).astype(np.float64)
        total = counts.sum() or 1.0
        yield mid, kind, (counts / total).tolist()

    return map_rows(media, ["media_id", "kind", "data"], row, schema)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
    ]
)


def sniff_image(blob: bytes) -> tuple[str, int, int, int] | None:
    """Pure-python image header parse → (format, width, height,
    channels), or None if the bytes are not a recognized image.

    PNG / GIF / BMP / JPEG / PNM dimensions live in fixed-layout
    headers (JPEG: the SOFn segment), so "decode to typed metadata" —
    this stage's whole contract — needs no codec wheel.  Pixel decode
    (resizing, embedding) is where PIL slots in when present.
    """
    import struct

    if len(blob) >= 26 and blob[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack_from(">II", blob, 16)
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(blob[25], 3)
        return ("png", int(w), int(h), ch)
    if blob[:6] in (b"GIF87a", b"GIF89a") and len(blob) >= 10:
        w, h = struct.unpack_from("<HH", blob, 6)
        return ("gif", int(w), int(h), 3)
    if blob[:2] == b"BM" and len(blob) >= 30:
        w, h = struct.unpack_from("<ii", blob, 18)
        bpp = struct.unpack_from("<H", blob, 28)[0]
        return ("bmp", int(w), abs(int(h)), max(1, bpp // 8))
    if blob[:2] == b"\xff\xd8":
        i, n = 2, len(blob)
        while i + 9 < n and blob[i] == 0xFF:
            marker = blob[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seglen = struct.unpack_from(">H", blob, i + 2)[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack_from(">HH", blob, i + 5)
                return ("jpeg", int(w), int(h), int(blob[i + 9]))
            i += 2 + seglen
        return None
    if blob[:2] in (b"P2", b"P3", b"P5", b"P6"):
        toks: list[bytes] = []
        i = 2
        lim = min(len(blob), 4096)
        while len(toks) < 2 and i < lim:
            c = blob[i : i + 1]
            if c == b"#":
                while i < lim and blob[i : i + 1] != b"\n":
                    i += 1
            elif c.isspace():
                i += 1
            else:
                j = i
                while j < lim and not blob[j : j + 1].isspace():
                    j += 1
                toks.append(blob[i:j])
                i = j
        if len(toks) == 2 and all(t.isdigit() for t in toks):
            ch = 3 if blob[:2] in (b"P3", b"P6") else 1
            return ("pnm", int(toks[0]), int(toks[1]), ch)
    return None


def sniff_wav(blob: bytes) -> tuple[int, int, int] | None:
    """WAV header parse → (sample_rate, channels, duration_ms) via the
    RIFF chunk walk; pure python, no codec."""
    import struct

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    i = 12
    rate = nch = byte_rate = None
    data_size = None
    while i + 8 <= len(blob):
        cid = blob[i : i + 4]
        size = struct.unpack_from("<I", blob, i + 4)[0]
        if cid == b"fmt " and i + 24 <= len(blob):
            nch, rate, byte_rate = struct.unpack_from("<HII", blob, i + 10)
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size % 2)
    if rate and nch and byte_rate and data_size is not None:
        return (int(rate), int(nch), int(data_size * 1000 // byte_rate))
    return None


def decode_image(media: DataFrame) -> DataFrame:
    """Image decode stage: binary → (width, height, channels).

    Recognized formats (PNG/GIF/BMP/JPEG/PNM) decode for REAL via the
    pure-python header parsers above; PIL extends coverage when the
    wheel exists.  Unrecognizable blobs yield NULL dimensions — a
    decode failure at 100 TB must quarantine the row, never kill the
    job.
    """

    def row(mid, blob):
        s = None if blob is None else sniff_image(bytes(blob))
        if s is None and HAVE_PIL:  # pragma: no cover - wheel absent
            import io

            import PIL.Image

            try:
                with PIL.Image.open(io.BytesIO(bytes(blob))) as im:
                    s = (im.format or "?", im.width, im.height,
                         len(im.getbands()))
            except Exception:
                s = None
        yield (mid, None, None, None) if s is None else (mid, *s[1:])

    imgs = media.filter(F.col("kind") == "image")
    return map_rows(imgs, ["media_id", "data"], row, DECODED_SCHEMA)


DECODED_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def decode_audio(media: DataFrame) -> DataFrame:
    """Audio decode stage: binary → (sample_rate, channels,
    duration_ms).  WAV decodes for real (RIFF chunk walk); other
    containers need ffmpeg/librosa and yield NULLs."""

    def row(mid, blob):
        s = None if blob is None else sniff_wav(bytes(blob))
        yield (mid, None, None, None) if s is None else (mid, *s)

    auds = media.filter(F.col("kind") == "audio")
    return map_rows(auds, ["media_id", "data"], row, DECODED_AUDIO_SCHEMA)


def frame_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: (media_id, frame_ms) — pure expression.

    Planning which frames to decode is column arithmetic (sequence over
    the duration); only the decode itself needs a codec UDF.  This is
    the scale-relevant half: the plan prunes decode work BEFORE any
    binary moves.
    """
    vids = media.filter(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.duration_ms"), F.lit(every_ms))
        ).alias("frame_ms"),
    )


def media_neardup(
    media: DataFrame, threshold: float = 0.999, bins: int = 16
) -> DataFrame:
    """Blob-level near-dup pairs via byte-histogram cosine: (a, b, cos).

    The codec-free multimodal dedup baseline — re-encoded or
    lightly-corrupted copies of the same asset keep near-identical
    byte distributions, so a histogram cosine at a tight threshold
    flags them without decoding anything.  Composes byte_features
    (Arrow UDF) with the fully distributed blocked-GEMM all-pairs of
    embedding_neardup; at 100 TB the same LSH/IVF bucketing as text
    embeddings applies.  A perceptual hash slots into the same
    (id, vector) contract when a decoder is available.
    """
    from cqs_spark.operators.dedup import embedding_neardup

    feats = byte_features(media, bins=bins)
    return embedding_neardup(feats, "media_id", "features", threshold=threshold)


def media_stats(media: DataFrame) -> DataFrame:
    """Metadata rollup per kind: (kind, n, total_bytes, avg_bytes)."""
    return (
        media.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("meta.n_bytes").alias("total_bytes"),
            F.round(F.avg("meta.n_bytes").cast("decimal(30,10)"), 4)
            .cast("double")
            .alias("avg_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Pixel decode + perceptual hashing (dHash/aHash)
# ---------------------------------------------------------------------------
#
# byte-histogram near-dup (media_neardup, q78) is defeated by
# re-encoding: the SAME picture as PNM vs BMP vs PNG shares almost no
# bytes.  Perceptual hashes work on decoded PIXELS, so a re-encoded
# twin hashes identically and lands in the same hamming bucket.  The
# decoders are pure python (PNM/BMP directly, PNG via stdlib zlib) —
# the formats the sniffers already size; PIL extends coverage to JPEG
# when the wheel exists (same env slot as decode_image).
# All arithmetic is INTEGER (floor box-means, integer luma weights) so
# a SQL oracle reproduces the hashes bit-exactly from the same pixel
# definition — the q134 seam pattern extended from headers to pixels.

_LONG_MIN = -(1 << 63)


def _gray(r: int, g: int, b: int) -> int:
    """Integer BT.601 luma — floor division keeps it oracle-exact."""
    return (299 * r + 587 * g + 114 * b) // 1000


def decode_pixels(blob: bytes) -> "list[list[int]] | None":
    """Decode an image blob to a grayscale pixel grid (rows of 0-255
    ints), or None when the format is unsupported/corrupt.

    Real decoders, no codec wheel: PNM P5/P6 binary and P2/P3 ascii,
    BMP 8(palette)/24/32-bit uncompressed (bottom-up and top-down),
    PNG gray/RGB/gray+alpha/RGBA at depth 8/16, sub-byte grayscale,
    and palette PNG, all five scanline filters, sequential AND Adam7
    interlaced (zlib is stdlib), baseline + progressive JPEG (luma
    plane — all the perceptual path needs; arithmetic/hierarchical
    stay the PIL env slot), GIF first frame.
    Returns plain lists, not numpy — callers batch via Arrow, and the
    grids are tiny (phashing resizes to ~8×8 anyway).
    """
    import struct

    try:
        if blob[:2] in (b"P2", b"P3", b"P5", b"P6"):
            return _decode_pnm(blob)
        if blob[:2] == b"BM":
            return _decode_bmp(blob, struct)
        if blob[:8] == b"\x89PNG\r\n\x1a\n":
            return _decode_png(blob, struct)
        if blob[:2] == b"\xff\xd8":
            from cqs_spark.operators.jpegcodec import decode_jpeg_luma

            return decode_jpeg_luma(blob)
        if blob[:6] in (b"GIF87a", b"GIF89a"):
            frames = decode_frames(blob)
            return frames[0] if frames else None
    except Exception:
        return None  # corrupt container: quarantine, never kill the job
    return None


def _decode_pnm(blob: bytes) -> "list[list[int]] | None":
    kind = blob[:2]
    toks: list[bytes] = []
    i = 2
    n = len(blob)
    want = 3  # width, height, maxval
    while len(toks) < want and i < n:
        c = blob[i : i + 1]
        if c == b"#":
            while i < n and blob[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not blob[j : j + 1].isspace():
                j += 1
            toks.append(blob[i:j])
            i = j
    if len(toks) < want or not all(t.isdigit() for t in toks):
        return None
    w, h, maxv = (int(t) for t in toks)
    if not (0 < w and 0 < h and 0 < maxv < 65536):
        return None
    i += 1  # single whitespace after maxval
    rgb = kind in (b"P3", b"P6")
    ch = 3 if rgb else 1
    if kind in (b"P5", b"P6"):
        need = w * h * ch
        raw = blob[i : i + need]
        if len(raw) < need:
            return None
        vals = list(raw)
    else:
        vals = [int(t) for t in blob[i:].split()]
        if len(vals) < w * h * ch:
            return None
    px = []
    for r in range(h):
        row = []
        for c2 in range(w):
            o = (r * w + c2) * ch
            if rgb:
                row.append(_gray(vals[o], vals[o + 1], vals[o + 2]))
            else:
                row.append(vals[o])
        px.append(row)
    return px


def _decode_bmp(blob: bytes, struct) -> "list[list[int]] | None":
    if len(blob) < 54:
        return None
    data_off = struct.unpack_from("<I", blob, 10)[0]
    hdr_size = struct.unpack_from("<I", blob, 14)[0]
    if hdr_size < 40:
        return None  # BITMAPCOREHEADER not supported
    w, h = struct.unpack_from("<ii", blob, 18)
    bpp = struct.unpack_from("<H", blob, 28)[0]
    comp = struct.unpack_from("<I", blob, 30)[0]
    if comp != 0 or bpp not in (8, 24, 32) or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    palette = None
    if bpp == 8:
        ncolors = struct.unpack_from("<I", blob, 46)[0] or 256
        po = 14 + hdr_size
        palette = [
            _gray(blob[po + 4 * k + 2], blob[po + 4 * k + 1], blob[po + 4 * k])
            for k in range(ncolors)
        ]
    stride = ((w * bpp // 8) + 3) & ~3  # rows pad to 4 bytes
    if len(blob) < data_off + stride * h:
        return None
    px = []
    for r in range(h):
        src = r if top_down else h - 1 - r
        base = data_off + src * stride
        row = []
        for c in range(w):
            if bpp == 8:
                idx = blob[base + c]
                row.append(palette[idx] if idx < len(palette) else 0)
            else:
                o = base + c * (bpp // 8)
                row.append(_gray(blob[o + 2], blob[o + 1], blob[o]))  # BGR
        px.append(row)
    return px


#: Adam7 pass grid: (x_start, y_start, x_step, y_step), PNG 13.8.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter_pass(
    raw: bytes, off: int, sw: int, sh: int, ch: int, depth: int, bpp: int
) -> "tuple[list[list[int]], int] | None":
    """Unfilter one (sub-)image of ``sh`` scanlines of ``sw`` pixels
    from the decompressed IDAT stream at ``off``; returns (rows of
    per-channel samples, new offset) or None on truncation / unknown
    filter.  Shared by the sequential path (one full-size pass) and
    the Adam7 path (7 passes, each with its own filter chain)."""
    stride = (sw * ch * depth + 7) // 8
    if len(raw) - off < sh * (stride + 1):
        return None
    sampmax = (1 << depth) - 1
    rows = []
    prev = bytearray(stride)
    for r in range(sh):
        o = off + r * (stride + 1)
        ftype = raw[o]
        line = bytearray(raw[o + 1 : o + 1 + stride])
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + (a + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif ftype != 0:
            return None
        if depth < 8:
            samples = []
            per = 8 // depth
            for byte in line:
                for k in range(per):
                    samples.append((byte >> (8 - depth * (k + 1))) & sampmax)
            samples = samples[: sw * ch]
        elif depth == 16:
            samples = [line[2 * k] for k in range(sw * ch)]  # high byte
        else:
            samples = list(line[: sw * ch])
        rows.append(samples)
        prev = line
    return rows, off + sh * (stride + 1)


def _decode_png(blob: bytes, struct) -> "list[list[int]] | None":
    """PNG: gray/RGB/gray+alpha/RGBA at depth 8/16, grayscale at depth
    1/2/4, palette (PLTE) at depth 1/2/4/8 — sequential AND
    Adam7-interlaced (7 fixed passes over the shared unfilter
    machinery, scattered into the full-size sample grid)."""
    import zlib

    w = h = None
    depth = ctype = None
    interlace = 0
    plte = None
    idat = b""
    i = 8
    while i + 8 <= len(blob):
        length, tag = struct.unpack_from(">I4s", blob, i)
        body = blob[i + 8 : i + 8 + length]
        if tag == b"IHDR":
            w, h = struct.unpack_from(">II", body, 0)
            depth, ctype = body[8], body[9]
            interlace = body[12]
        elif tag == b"PLTE":
            plte = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        i += 12 + length  # length + tag + crc
    if not w or not h or interlace not in (0, 1):
        return None
    if ctype in (0, 2, 4, 6):
        if depth not in ((8, 16) if ctype != 0 else (1, 2, 4, 8, 16)):
            return None
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    elif ctype == 3:
        if depth not in (1, 2, 4, 8) or plte is None:
            return None
        ch = 1
    else:
        return None
    bpp = max(1, ch * depth // 8)  # filter byte distance (T.81 "bpp")
    raw = zlib.decompress(idat)
    sampmax = (1 << depth) - 1
    if interlace == 0:
        res = _png_unfilter_pass(raw, 0, w, h, ch, depth, bpp)
        if res is None:
            return None
        sample_rows = res[0]
    else:
        grid = [[0] * (w * ch) for _ in range(h)]
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            sw = (w - x0 + dx - 1) // dx
            sh = (h - y0 + dy - 1) // dy
            if sw <= 0 or sh <= 0:
                continue
            res = _png_unfilter_pass(raw, off, sw, sh, ch, depth, bpp)
            if res is None:
                return None
            rows, off = res
            for ri, srow in enumerate(rows):
                y = y0 + ri * dy
                for ci in range(sw):
                    x = x0 + ci * dx
                    grid[y][x * ch : (x + 1) * ch] = srow[
                        ci * ch : (ci + 1) * ch
                    ]
        sample_rows = grid
    px = []
    for samples in sample_rows:
        row = []
        for cc in range(w):
            o2 = cc * ch
            if ctype == 3:
                pi = samples[o2]
                if 3 * pi + 3 > len(plte):
                    return None
                row.append(
                    _gray(plte[3 * pi], plte[3 * pi + 1], plte[3 * pi + 2])
                )
            elif ch <= 2:  # gray / gray+alpha: luma is the gray sample
                v = samples[o2]
                row.append(v * 255 // sampmax if depth < 8 else v)
            else:
                row.append(_gray(samples[o2], samples[o2 + 1], samples[o2 + 2]))
        px.append(row)
    return px


def encode_pnm(px: "list[list[int]]") -> bytes:
    """Grayscale grid → binary PGM (P5)."""
    h, w = len(px), len(px[0])
    return f"P5\n{w} {h}\n255\n".encode() + bytes(
        v for row in px for v in row
    )


def encode_bmp(px: "list[list[int]]") -> bytes:
    """Grayscale grid → 24-bit uncompressed BMP (bottom-up, padded)."""
    import struct

    h, w = len(px), len(px[0])
    stride = ((w * 3) + 3) & ~3
    body = bytearray()
    for r in range(h - 1, -1, -1):
        for v in px[r]:
            body += bytes((v, v, v))  # BGR, gray
        body += b"\x00" * (stride - w * 3)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return bytes(header) + bytes(body)


def encode_png(px: "list[list[int]]", interlace: bool = False) -> bytes:
    """Grayscale grid → 8-bit grayscale PNG (filter 0, stdlib zlib);
    ``interlace=True`` writes Adam7 (7 sub-images in pass order, each
    scanline filter-0) so the deinterlacing decode path is exercised
    end to end with no external input."""
    import struct
    import zlib

    h, w = len(px), len(px[0])

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1 if interlace else 0)
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sw = (w - x0 + dx - 1) // dx
            sh = (h - y0 + dy - 1) // dy
            if sw <= 0 or sh <= 0:
                continue
            for ri in range(sh):
                y = y0 + ri * dy
                parts.append(
                    b"\x00" + bytes(px[y][x0 + ci * dx] for ci in range(sw))
                )
        raw = b"".join(parts)
    else:
        raw = b"".join(b"\x00" + bytes(row) for row in px)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _box_cells(px: "list[list[int]]", gh: int, gw: int) -> "list[list[int]]":
    """Floor-partition box means: cell (i,j) = sum // count over rows
    [i·H//gh, (i+1)·H//gh) × cols [j·W//gw, (j+1)·W//gw).  Integer end
    to end, so the SQL twin (inverse index ((x+1)·g−1)//N) agrees
    bit-exactly."""
    h, w = len(px), len(px[0])
    cells = []
    for i in range(gh):
        r0, r1 = i * h // gh, (i + 1) * h // gh
        row = []
        for j in range(gw):
            c0, c1 = j * w // gw, (j + 1) * w // gw
            s = sum(px[r][c] for r in range(r0, r1) for c in range(c0, c1))
            row.append(s // ((r1 - r0) * (c1 - c0)))
        cells.append(row)
    return cells


def _pack64(bits: "list[int]") -> int:
    """64 bits (k = index) → signed two's-complement int64 — the house
    signature shape (_simhash_bands handles the sign bit exactly)."""
    v = 0
    for k, b in enumerate(bits):
        if b:
            v |= 1 << k
    return v - (1 << 64) if v >= (1 << 63) else v


def ahash(px: "list[list[int]]", grid: int = 8) -> int:
    """aHash of a grayscale grid: bit i·g+j = box-cell (i,j) >= integer
    mean of all cells; signed 64-bit for ``grid=8``."""
    flat = [c for row in _box_cells(px, grid, grid) for c in row]
    mean = sum(flat) // (grid * grid)
    return _pack64([1 if c >= mean else 0 for c in flat])


def dhash(px: "list[list[int]]", grid: int = 8) -> int:
    """dHash of a grayscale grid: cells on a g×(g+1) grid, bit i·g+j =
    cell(i,j) > cell(i,j+1) — the horizontal-gradient hash, robust to
    uniform brightness shifts; signed 64-bit for ``grid=8``."""
    cells = _box_cells(px, grid, grid + 1)
    return _pack64(
        [
            1 if cells[i][j] > cells[i][j + 1] else 0
            for i in range(grid)
            for j in range(grid)
        ]
    )


def perceptual_hashes(px: "list[list[int]]", grid: int = 8) -> tuple:
    """(ahash, dhash) of a grayscale grid (:func:`ahash`, :func:`dhash`)."""
    return ahash(px, grid), dhash(px, grid)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ahash", T.LongType(), True),
        T.StructField("dhash", T.LongType(), True),
    ]
)


def _phash_blob(blob, grid: int = 8) -> "tuple | None":
    """Per-blob core of :func:`phash_images` — decode (with the PIL
    fallback) + :func:`perceptual_hashes`, or None on undecodable
    blobs.  Factored out so the fused release walk
    (``mediameta.media_release_scan``) runs the SAME definition as the
    individually gated operator (shared-definition guarantee)."""
    px = None if blob is None else decode_pixels(bytes(blob))
    if px is None and blob is not None and HAVE_PIL:  # pragma: no cover - wheel absent
        import io

        import PIL.Image

        try:
            with PIL.Image.open(io.BytesIO(bytes(blob))) as im:
                g = im.convert("L")
                px = [list(r) for r in zip(*[iter(g.getdata())] * g.width)]
        except Exception:
            px = None
    if px is None:
        return None
    return perceptual_hashes(px, grid)


def phash_images(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    grid: int = 8,
) -> DataFrame:
    """Per-image perceptual hashes: (media_id, ahash, dhash), NULL on
    undecodable blobs (quarantine).  Arrow-batched mapInPandas over
    the binary column — the decode stage is the only Python in the
    dedup path; everything downstream (banding, hamming verify) is
    JVM bit arithmetic."""

    def row(mid, blob):
        hp = _phash_blob(blob, grid)
        yield (mid, None, None) if hp is None else (mid, *hp)

    return map_rows(
        media, [F.col(id_col).alias(id_col), F.col(data_col)], row, PHASH_SCHEMA
    )


# ---------------------------------------------------------------------------
# Audio PCM decode + delta-sign fingerprint
# ---------------------------------------------------------------------------
#
# The audio twin of the perceptual image stack: decode WAV PCM16 to
# samples (pure struct walk — the format sniff_wav already sizes),
# pool frame ENERGIES with the same integer floor-partition idiom, and
# fingerprint the sign of consecutive energy deltas — a 32-bit key
# that is invariant to amplitude scaling (re-encoded / re-normalized
# copies of the same clip keep every delta sign) and joins through the
# same hamming band machinery as SimHash/phash.  ffmpeg/librosa slot
# in for compressed containers when present (same env-gate posture as
# PIL for JPEG).


def decode_samples(blob: bytes) -> "list[int] | None":
    """Decode a PCM 16-bit WAV blob to mono samples (ints in
    [-32768, 32767]; multi-channel folds by integer-floor mean), or
    None for non-WAV / non-PCM16 / truncated blobs (quarantine)."""
    import struct

    try:
        if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
            return None
        i = 12
        fmt = nch = bits = None
        data = None
        while i + 8 <= len(blob):
            cid = blob[i : i + 4]
            size = struct.unpack_from("<I", blob, i + 4)[0]
            if cid == b"fmt " and i + 24 <= len(blob):
                fmt, nch = struct.unpack_from("<HH", blob, i + 8)
                bits = struct.unpack_from("<H", blob, i + 22)[0]
            elif cid == b"data":
                data = blob[i + 8 : i + 8 + size]
            i += 8 + size + (size % 2)
        if fmt != 1 or bits != 16 or not nch or data is None:
            return None
        n = len(data) // (2 * nch)
        if n == 0:
            return None
        raw = struct.unpack_from(f"<{n * nch}h", data, 0)
        if nch == 1:
            return list(raw)
        # channel fold: integer floor mean, engine-portable
        return [
            sum(raw[f * nch : (f + 1) * nch]) // nch for f in range(n)
        ]
    except Exception:
        return None


def encode_wav(samples: "list[int]", rate: int = 8000) -> bytes:
    """Mono PCM16 WAV writer (fixture/synthetic-corpus twin of
    decode_samples)."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16
        )
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def audio_fingerprint_bits(samples: "list[int]", frames: int = 64) -> int:
    """Delta-sign energy fingerprint: pool the clip into ``frames``
    floor-partition frames, energy = Σs² // count (integer), bit k =
    energy(k) > energy(k+1) — ``frames-1`` bits, positive for any
    frames <= 64 (no sign-bit packing needed).  Amplitude-invariant up
    to integer rounding on near-tied deltas."""
    n = len(samples)
    energies = []
    for f in range(frames):
        lo, hi = f * n // frames, (f + 1) * n // frames
        cnt = hi - lo
        if cnt <= 0:
            energies.append(0)
            continue
        energies.append(sum(s * s for s in samples[lo:hi]) // cnt)
    v = 0
    for k in range(frames - 1):
        if energies[k] > energies[k + 1]:
            v |= 1 << k
    return v


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("afp", T.LongType(), True),
    ]
)


def _afp_blob(blob, frames: int = 64) -> "int | None":
    """Per-blob core of :func:`audio_fingerprints` — decode +
    :func:`audio_fingerprint_bits`, or None on undecodable blobs.
    Factored out for the fused release walk (see ``_phash_blob``)."""
    s = None if blob is None else decode_samples(bytes(blob))
    return None if s is None else audio_fingerprint_bits(s, frames)


def audio_fingerprints(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    frames: int = 64,
) -> DataFrame:
    """Per-clip audio fingerprints: (media_id, afp), NULL on
    undecodable blobs.  Arrow-batched mapInPandas — the decode is the
    only Python; banding and hamming verify stay JVM-side."""

    def row(mid, blob):
        yield mid, _afp_blob(blob, frames)

    return map_rows(
        media, [F.col(id_col).alias(id_col), F.col(data_col)], row, AUDIO_FP_SCHEMA
    )


def media_dedup_apply(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    method: str = "dhash",
    max_hamming: int = 2,
    max_bucket: int | None = 500,
    lp_max_iters: int = 25,
) -> DataFrame:
    """APPLY perceptual near-dedup: keep one representative per
    duplicate-image cluster — the media twin of ``dedup.dedup_apply``
    (the curation step itself, not just the pair report).

    :func:`perceptual_neardup` (``kind='image'``) finds verified pairs
    (hamming <= max_hamming);
    label propagation over the pair graph clusters TRANSITIVE
    duplicates (A≈B≈C collapses to one survivor even when A-C never
    paired, e.g. two re-encodes each within radius of the original but
    2·radius apart); the minimum id per cluster survives.  Unpaired
    items — including quarantined undecodable blobs — pass through
    untouched (dropping what you cannot fingerprint is the release
    audit's call, not the dedup's).

    Scale shape: the propagation runs on the PAIR graph (≤ true dup
    structure, never corpus²); blobs only flow through the left-anti
    join's probe side, never a shuffle of pixels.  Propagation runs
    strict-to-fixpoint: a cluster chain whose diameter exceeds
    ``lp_max_iters`` raises instead of silently under-merging (the
    q182 oracle computes the FULL transitive closure, so a partial
    fixpoint would desync the gate).

    Documented recall bound — star-reduce under-merge: inside a
    bucket larger than ``max_bucket``, pigeonhole exactness is traded
    for hub-spoke candidate pairs (every member is compared to the
    bucket's min-id hub only).  A member whose hamming to the HUB
    exceeds ``max_hamming`` but whose hamming to another member does
    not will miss that pair, so APPLY can keep both copies — an
    under-merge, never a false merge (precision is unaffected; every
    emitted pair is hamming-verified).  Acceptable for dedup (a kept
    duplicate is recall loss, not corruption); pass
    ``max_bucket=None`` to restore exact within-bucket pairing at
    bucket² cost.  Pinned by
    tests/test_multimodal.py::test_star_reduce_under_merge_bound."""
    from cqs_spark.operators.graph import label_propagation

    pairs = perceptual_neardup(
        media, id_col, data_col, "image", method,
        max_hamming=max_hamming, max_bucket=max_bucket,
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    clusters = label_propagation(edges, converge=True, max_iters=lp_max_iters)
    losers = clusters.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return media.join(losers, id_col, "left_anti")


AUDIO_WIN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("win", T.LongType(), True),
        T.StructField("afp", T.LongType(), True),
    ]
)


def audio_window_fingerprints(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    window: int = 1024,
    frames: int = 64,
) -> DataFrame:
    """Per-WINDOW audio sub-fingerprints: the clip splits into
    consecutive FULL windows of ``window`` samples (trailing partial
    window dropped) and each window gets its own delta-sign energy
    fingerprint (``audio_fingerprint_bits`` over ``frames``
    partitions) — (media_id, win, afp), one NULL row for undecodable
    clips or clips shorter than one window.

    This is the clip-robustness fix for ``audio_fingerprint_bits``'s
    whole-clip pooling: a prefix/suffix trim shifts every floor-
    partition boundary of the whole-clip signature, so a trimmed copy
    never pairs — but a trim at window granularity leaves every
    surviving window's samples bit-identical, so its sub-fingerprints
    survive verbatim and the shared-hash JOIN finds the pair (the
    video kind's shared-frame design; a video 'frame' and an audio
    'window' are the same discretization trick)."""
    if window < 1:
        raise ValueError(f"window must be >= 1 sample, got {window}")

    def row(mid, blob):
        s = None if blob is None else decode_samples(bytes(blob))
        nw = 0 if s is None else len(s) // window
        if not nw:
            yield mid, None, None
        for w in range(nw):
            yield mid, w, audio_fingerprint_bits(
                s[w * window : (w + 1) * window], frames
            )

    return map_rows(
        media, [F.col(id_col).alias(id_col), F.col(data_col)], row, AUDIO_WIN_SCHEMA
    )


def _hamming_bits(kind: str, frames: int) -> "int | None":
    """The kind table — the one place a kind picks its pair rule.  A
    hamming kind keeps ONE signature per item and maps to its width in
    bits (image dHash/aHash 64, audio delta-sign ``frames-1``); a
    shared-hash kind keeps a signature SET per item (video frame
    hashes, audio_windowed window fingerprints) and maps to None:
    hamming on one member of a set would silently pair frames instead
    of clips."""
    rules = {
        "image": 64, "audio": frames - 1, "video": None, "audio_windowed": None
    }
    if kind not in rules:
        raise ValueError(f"unknown media kind {kind!r}")
    return rules[kind]


def media_signatures(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    kind: str = "image",
    method: str = "dhash",
    frames: int = 64,
    window: int = 1024,
) -> DataFrame:
    """Canonical (id, simhash) signature frame for a media corpus —
    the one kind → decode kernel + signature decision, and the
    PERSISTABLE index state for incremental perceptual dedup.
    ``kind='image'`` decodes pixels and keeps the chosen perceptual
    hash (``method`` in {ahash, dhash}); ``kind='audio'`` keeps the
    delta-sign energy fingerprint; ``kind='video'`` keeps the DISTINCT
    per-frame dHash SET (multiple rows per id); ``kind='audio_windowed'``
    keeps the DISTINCT per-window fingerprint SET (``window`` samples
    each).  Undecodable blobs quarantine out (no signature row).  Stage
    the result to parquet once per corpus; daily arrivals then run
    :func:`incremental_media_neardup` against it without ever
    re-decoding the indexed blobs."""
    bits = _hamming_bits(kind, frames)
    if kind == "image":
        if method not in ("ahash", "dhash"):
            raise ValueError(f"unknown perceptual hash {method!r}")
        fp, col = phash_images(media, id_col, data_col), method
    elif kind == "audio":
        fp, col = audio_fingerprints(media, id_col, data_col, frames), "afp"
    elif kind == "video":
        fp, col = video_fingerprints(media, id_col, data_col), "dhash"
    else:
        fp = audio_window_fingerprints(media, id_col, data_col, window, frames)
        col = "afp"
    sig = fp.filter(F.col(col).isNotNull()).select(
        F.col("media_id").alias(id_col), F.col(col).alias("simhash")
    )
    return sig if bits is not None else sig.distinct()


def _drop_common_hashes(
    counted: DataFrame, max_df: int, *frames: DataFrame, col: str = "simhash"
) -> list:
    """The stopword cap: drop from each of ``frames`` the hashes held
    by more than ``max_df`` items of ``counted`` (a distinct (id, hash)
    table) — black/intro frames, silence/jingle windows — by a
    broadcast anti-join on the small common-hash set, BEFORE any
    fan-out, so a degenerate hash can't go quadratic."""
    common = (
        counted.groupBy(col)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select(col)
    )
    return [f.join(F.broadcast(common), col, "left_anti") for f in frames]


def _shared_hash_pairs(
    fp_b: DataFrame,
    id_col: str,
    min_shared: int,
    max_df: "int | None",
    fp_i: "DataFrame | None" = None,
) -> DataFrame:
    """The shared-hash pair rule over distinct (id, simhash) signature
    SET tables: (a, b, shared) pairs, a < b, sharing at least
    ``min_shared`` distinct hashes.  ``fp_b`` pairs with itself by an
    equi-join on the 16-byte hash table; with an index ``fp_i`` the
    batch side also broadcasts onto the index (the index joins
    map-side with NO shuffle) and the stopword cap counts document
    frequency across BOTH populations, so a hash common only in the
    index still can't fan out against the batch.  The pair aggregate
    is one map-side-combinable count per (a, b)."""
    if max_df is not None:
        if fp_i is None:
            (fp_b,) = _drop_common_hashes(fp_b, max_df, fp_b)
        else:
            fp_b, fp_i = _drop_common_hashes(
                fp_b.unionByName(fp_i), max_df, fp_b, fp_i
            )
    a = fp_b.select(F.col(id_col).alias("a"), "simhash")
    b = fp_b.select(F.col(id_col).alias("b"), "simhash")
    pairs = a.join(b, "simhash").filter(F.col("a") < F.col("b")).select("a", "b")
    if fp_i is not None:
        pairs = pairs.unionByName(
            F.broadcast(fp_b.select(F.col(id_col).alias("_bid"), "simhash"))
            .join(fp_i.select(F.col(id_col).alias("_iid"), "simhash"), "simhash")
            .select(
                F.least("_bid", "_iid").alias("a"),
                F.greatest("_bid", "_iid").alias("b"),
            )
        )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def perceptual_neardup(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    kind: str = "image",
    method: str = "dhash",
    frames: int = 64,
    window: int = 1024,
    max_hamming: int = 2,
    max_bucket: int | None = 500,
    min_shared: int = 3,
    max_df: int | None = 100,
) -> DataFrame:
    """Perceptual near-dup JOIN over one media corpus by ``kind``'s
    pair rule (:func:`_hamming_bits`) on its :func:`media_signatures`.

    Hamming kinds (image, audio) return (a, b, hamming), a < b,
    hamming <= ``max_hamming``: re-encoded image twins (the case
    byte-histogram cosine q78 cannot see) and amplitude-rescaled audio
    copies pair at distance ~0.  The pairing is the SimHash pigeonhole
    machinery (``dedup.hamming_pairs``) — ``max_hamming+1`` bit-bands,
    bucket join per band (exact recall), one ``bit_count(xor)`` verify
    per candidate — so the scale shape is q145's: the banding explodes
    the per-item SIGNATURE table, never the pixels, and buckets larger
    than ``max_bucket`` star-reduce.

    Shared-hash kinds (video, audio_windowed) return (a, b, shared),
    a < b, pairs sharing at least ``min_shared`` distinct frame/window
    hashes: clipped, re-encoded or re-interlaced videos keep their
    frames' hashes, and window-granular trims of a clip keep their
    surviving windows' fingerprints, so they pair where no whole-item
    signal survives (whole-clip audio provably misses trims).  Scale
    shape: the join runs on the DISTINCT (id, hash) table (16 bytes per
    frame/window, never pixels or samples); ``max_df`` drops hashes
    held by more than that many items (the stopword analogue) BEFORE
    the self-join, and the pair aggregate is a map-side-combinable
    count.

    The within-corpus leg of :func:`incremental_media_neardup`: against
    an empty index the two return the same rows."""
    from cqs_spark.operators.dedup import hamming_pairs

    sig = media_signatures(media, id_col, data_col, kind, method, frames, window)
    bits = _hamming_bits(kind, frames)
    if bits is not None:
        return hamming_pairs(sig, id_col, bits, max_hamming, max_bucket)
    if max_df is not None:
        sig = stage(sig, eager=True)
    return _shared_hash_pairs(sig, id_col, min_shared, max_df)


def incremental_media_neardup(
    batch: DataFrame,
    indexed_sigs: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    kind: str = "image",
    method: str = "dhash",
    frames: int = 64,
    max_hamming: int = 2,
    max_bucket: int | None = 500,
    batch_sigs: DataFrame | None = None,
    window: int = 1024,
    min_shared: int = 3,
    max_df: int | None = 100,
) -> DataFrame:
    """Incremental perceptual media dedup: a NEW batch of blobs against
    an already-indexed corpus's PERSISTED signatures — the multimodal
    leg of the incremental family (exact q99 / MinHash q132 / semantic
    q133 / SimHash q147 / media q171, q180), by ``kind``'s pair rule
    with :func:`perceptual_neardup`'s outputs and parameters.

    Only the batch decodes pixels/samples/frames (the one Python
    stage, Arrow-batched); ``indexed_sigs`` is the staged (id, simhash)
    table from :func:`media_signatures` of the same kind — at 100 TB
    the blobs dominate the corpus footprint and are never re-read.
    Hamming kinds ride the broadcast-batch-bands / hub-star-reduce plan
    of incremental SimHash (``dedup.incremental_sig_neardup``);
    shared-hash kinds broadcast the batch's hash set onto the index and
    cap stopwords by document frequency across batch+index.  Batch ids
    must be disjoint from indexed ids.

    Pass ``batch_sigs`` (a precomputed, staged ``media_signatures``
    frame for the batch) to skip the decode — the streaming path
    computes signatures once and reuses them for both the pair join
    and the index staging.
    """
    from cqs_spark.operators.dedup import incremental_sig_neardup

    bits = _hamming_bits(kind, frames)
    sig_b = batch_sigs
    if sig_b is None:
        sig_b = media_signatures(
            batch, id_col, data_col, kind, method, frames, window
        )
        if bits is None:
            sig_b = stage(sig_b, eager=True)
    sig_b = sig_b.select(F.col(id_col), F.col("simhash"))
    sig_i = indexed_sigs.select(F.col(id_col), F.col("simhash"))
    if bits is not None:
        return incremental_sig_neardup(
            sig_b, sig_i, id_col, bits, max_hamming, max_bucket
        )
    return _shared_hash_pairs(sig_b, id_col, min_shared, max_df, sig_i)


# ---------------------------------------------------------------------------
# Animated-GIF frame decode + video fingerprinting
# ---------------------------------------------------------------------------
#
# The "video" leg of the multimodal pillar: the container the pure-
# python ladder can fully decode is animated GIF (LZW is spec'd in
# GIF89a itself; no codec wheel).  decode_frames -> per-frame dHash
# (video_fingerprints) -> shared-frame-hash join (perceptual_neardup
# kind='video') — re-encoded / clipped copies of a clip share frame
# hashes even when byte histograms (q78) and single-image hashes
# can't see them.  Reference parity: frame sampling mirrors the
# reference's media ingest plan (frame_plan, SURVEY §2).


def _lzw_decode(data: bytes, min_size: int) -> "list[int] | None":
    """GIF-variant LZW: LSB-first bitstream, CLEAR/EOI codes, width
    grows when the next slot reaches 2^width (cap 12 bits / 4096)."""
    clear, eoi = 1 << min_size, (1 << min_size) + 1
    base = [(j,) for j in range(clear)] + [None, None]
    table = list(base)
    width = min_size + 1
    out: list[int] = []
    acc = nbits = 0
    prev: "tuple | None" = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = list(base)
                width = min_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table) or table[code] is None:
                    return None
                entry = table[code]
            elif code < len(table) and table[code] is not None:
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # KwKwK
            else:
                return None
            out.extend(entry)
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out


def _lzw_encode(data: "list[int]", min_size: int) -> bytes:
    """Real GIF LZW encoder (dict growth, width bumps, CLEAR on full
    table) — exists so fixtures and tests drive the decoder through
    its growth/KwKwK paths, not just a literal-only stream."""
    clear, eoi = 1 << min_size, (1 << min_size) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[tuple, int] = {(j,): j for j in range(clear)}
    next_code = eoi + 1
    width = min_size + 1
    emit(clear, width)
    w: tuple = ()
    for px in data:
        wc = w + (px,)
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[wc] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = {(j,): j for j in range(clear)}
            next_code = eoi + 1
            width = min_size + 1
        w = (px,)
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_row_order(h: int, interlaced: bool) -> "list[int]":
    if not interlaced:
        return list(range(h))
    order = []
    for start, step in _GIF_INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


def decode_frames(blob: bytes) -> "list[list[list[int]]] | None":
    """Decode an (animated) GIF to a list of full-screen grayscale
    frames — pure python (header walk + LZW + palette -> luma), with
    interlace, local color tables, frame composition onto the logical
    screen (GCE disposal methods 0/1 keep, 2 restore-to-background,
    3 restore-to-previous; undefined methods 4-7 quarantine) and GCE
    transparency.
    Non-GIF blobs fall back to :func:`decode_pixels` as a one-frame
    video; returns None if nothing decodes."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        px = decode_pixels(blob)
        return None if px is None else [px]
    import struct

    try:
        w, h = struct.unpack_from("<HH", blob, 6)
        packed, bg = blob[10], blob[11]
        i = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = blob[i : i + 3 * n]
            i += 3 * n
        if not w or not h:
            return None
        bg_gray = _gray(*gct[3 * bg : 3 * bg + 3]) if gct and 3 * bg + 3 <= len(gct) else 0
        screen = [[bg_gray] * w for _ in range(h)]
        frames: list[list[list[int]]] = []
        transparent = None
        disposal = 0
        while i < len(blob):
            b0 = blob[i]
            if b0 == 0x3B:  # trailer
                break
            if b0 == 0x21:  # extension
                label = blob[i + 1]
                i += 2
                if label == 0xF9 and blob[i] >= 4:
                    gce_packed, tidx = blob[i + 1], blob[i + 4]
                    transparent = tidx if gce_packed & 0x01 else None
                    disposal = (gce_packed >> 2) & 0x07
                    if disposal > 3:
                        return None  # undefined method: quarantine
                while blob[i]:
                    i += 1 + blob[i]
                i += 1
                continue
            if b0 != 0x2C:
                return None
            left, top, fw, fh = struct.unpack_from("<HHHH", blob, i + 1)
            fpacked = blob[i + 9]
            i += 10
            pal = gct
            if fpacked & 0x80:
                n = 2 << (fpacked & 0x07)
                pal = blob[i : i + 3 * n]
                i += 3 * n
            if pal is None:
                return None
            min_size = blob[i]
            i += 1
            data = bytearray()
            while blob[i]:
                ln = blob[i]
                data += blob[i + 1 : i + 1 + ln]
                i += 1 + ln
            i += 1
            if not 2 <= min_size <= 8:
                return None
            idxs = _lzw_decode(bytes(data), min_size)
            if idxs is None or len(idxs) < fw * fh:
                return None
            rows = _gif_row_order(fh, bool(fpacked & 0x40))
            prev = [r2[:] for r2 in screen] if disposal == 3 else None
            for seq, r in enumerate(rows):
                y = top + r
                if y >= h:
                    continue
                row = idxs[seq * fw : (seq + 1) * fw]
                for x, ci in enumerate(row):
                    if left + x >= w or ci == transparent:
                        continue
                    if 3 * ci + 3 > len(pal):
                        return None
                    screen[y][left + x] = _gray(
                        pal[3 * ci], pal[3 * ci + 1], pal[3 * ci + 2]
                    )
            frames.append([r2[:] for r2 in screen])
            # Disposal applies AFTER the composed frame is emitted and
            # governs what the NEXT frame composites onto (GIF89a
            # spec 23): 2 = restore the frame rect to background,
            # 3 = restore the pre-render screen.
            if disposal == 2:
                for y in range(top, min(top + fh, h)):
                    row = screen[y]
                    for x in range(left, min(left + fw, w)):
                        row[x] = bg_gray
            elif disposal == 3 and prev is not None:
                screen = prev
            transparent = None
            disposal = 0
        return frames or None
    except (IndexError, struct.error):
        return None


def encode_gif(
    frames: "list[list[list[int]]]", interlace: bool = False
) -> bytes:
    """Animated GIF89a from grayscale frames (identity 256-gray global
    palette, full-screen opaque frames, real LZW) — the fixture/test
    encoder that drives :func:`decode_frames` end to end."""
    import struct

    h, w = len(frames[0]), len(frames[0][0])
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    for j in range(256):
        out += bytes([j, j, j])
    for px in frames:
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0x00])
        out += bytes([8])  # LZW min code size
        flat = [px[r][c] & 0xFF for r in _gif_row_order(h, interlace) for c in range(w)]
        data = _lzw_encode(flat, 8)
        for k in range(0, len(data), 255):
            chunk = data[k : k + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


VIDEO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame", T.LongType(), True),
        T.StructField("dhash", T.LongType(), True),
    ]
)


def video_fingerprints(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    grid: int = 8,
) -> DataFrame:
    """Per-frame perceptual hashes of a video column: (media_id,
    frame, dhash), one NULL row per undecodable blob — at 100 TB the
    hash table is one 16-byte row per frame, the blobs never leave the
    decode stage."""

    def row(mid, blob):
        fr = None if blob is None else decode_frames(bytes(blob))
        if not fr:
            yield mid, None, None
            return
        for fno, f in enumerate(fr):
            yield mid, fno, dhash(f, grid)

    return map_rows(
        media, [F.col(id_col).alias(id_col), F.col(data_col)], row, VIDEO_FP_SCHEMA
    )


def frame_containment(
    images: DataFrame,
    videos: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    max_hamming: int = 0,
    max_df: int | None = 100,
) -> DataFrame:
    """Cross-modal containment join: still images that occur as frames
    of videos — (image_id, video_id, frame, hamming) with hamming <=
    ``max_hamming`` between the image's dHash and a frame's.
    The dedup case a corpus holds silently: thumbnails and key-frames
    extracted from clips that also ship whole.

    Scale shape: both sides reduce to 16-byte hash tables before the
    join (pixels stay inside the Arrow decode stages); ``max_hamming=0``
    joins on hash equality, >0 goes through the pigeonhole bands with
    exact recall; ``max_df`` drops video frame hashes occurring in
    more than that many videos (black/intro stopword frames) before
    the join so a degenerate frame can't fan out quadratically."""
    img = (
        phash_images(images, id_col, data_col)
        .filter(F.col("dhash").isNotNull())
        .select(F.col("media_id").alias("image_id"), F.col("dhash"))
    )
    vid = (
        video_fingerprints(videos, id_col, data_col)
        .filter(F.col("dhash").isNotNull())
        .select(F.col("media_id").alias("video_id"), "frame", "dhash")
    )
    if max_df is not None:
        vid = stage(vid, eager=True)
        (vid,) = _drop_common_hashes(
            vid.select("video_id", "dhash").distinct(), max_df, vid, col="dhash"
        )
    if max_hamming == 0:
        return img.join(vid, "dhash").select(
            "image_id", "video_id", "frame", F.lit(0).cast("long").alias("hamming")
        )
    from cqs_spark.operators.dedup import _simhash_bands

    bi = _simhash_bands(
        img.select(F.col("image_id").alias("_i"), F.col("dhash").alias("simhash")),
        "_i", 64, max_hamming,
    ).select(F.col("_i"), F.col("simhash").alias("_si"), "band", "val")
    bv = _simhash_bands(
        vid.select(
            F.col("video_id").alias("_v"), "frame", F.col("dhash").alias("simhash")
        ).withColumn("_key", F.concat_ws(":", "_v", "frame"))
        .select(F.col("_key").alias("_vk"), F.col("_v"), F.col("frame"), F.col("simhash")),
        "_vk", 64, max_hamming,
    )
    # _simhash_bands keeps only (id, simhash, band, val); re-attach the
    # (video, frame) split by parsing the composite key
    ham = F.bit_count(F.col("_si").bitwiseXOR(F.col("simhash"))).cast("long")
    return (
        bi.join(bv, ["band", "val"])
        .select(
            F.col("_i").alias("image_id"),
            F.split(F.col("_vk"), ":")[0].cast("long").alias("video_id"),
            F.split(F.col("_vk"), ":")[1].cast("long").alias("frame"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("r", T.LongType(), True),
        T.StructField("c", T.LongType(), True),
        T.StructField("v", T.LongType(), True),
    ]
)


def resize_images(
    media: DataFrame,
    out_h: int,
    out_w: int,
    id_col: str = "media_id",
    data_col: str = "data",
) -> DataFrame:
    """Distributed image resize (grayscale, integer floor box pooling):
    long-format (media_id, r, c, v) cells of the ``out_h``×``out_w``
    downsample — the feature-extract stage of a multimodal training
    pipeline (a resized grid IS the classical embedding the dedup and
    ANN ladders consume).  One NULL row per undecodable blob.  The
    same `_box_cells` kernel the perceptual hashes pool with, so the
    SQL twin (inverse index ((x+1)·g−1)//N) agrees bit-exactly."""

    def row(mid, blob):
        px = None if blob is None else decode_pixels(bytes(blob))
        if px is None:
            yield mid, None, None, None
            return
        cells = _box_cells(px, out_h, out_w)
        for r in range(out_h):
            for c in range(out_w):
                yield mid, r, c, cells[r][c]

    return map_rows(
        media, [F.col(id_col).alias(id_col), F.col(data_col)], row, RESIZE_SCHEMA
    )


_AUDIT_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("simhash", T.LongType(), True),
        T.StructField("has_pii", T.BooleanType(), True),
        T.StructField("unscannable", T.BooleanType(), False),
    ]
)


def _audit_features(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    kind: str = "image",
    method: str = "dhash",
    frames: int = 64,
) -> DataFrame:
    """One fused Arrow walk for :func:`media_audit`: per blob, the
    perceptual/audio signature (NULL when undecodable) AND the
    metadata-PII verdicts, via the SAME per-blob kernels the gated
    operators run (``_phash_blob``/``_afp_blob``,
    ``mediameta.scan_media_metadata``) — one decode+parse pass instead
    of one walk per audit leg."""
    from cqs_spark.operators.mediameta import scan_media_metadata

    if kind == "image" and method not in ("ahash", "dhash"):
        raise ValueError(f"unknown perceptual hash {method!r}")
    midx = 0 if method == "ahash" else 1

    def row(mid, blob):
        blob = None if blob is None else bytes(blob)
        if kind == "image":
            hp = _phash_blob(blob)
            sig = None if hp is None else hp[midx]
        else:
            sig = None if blob is None else _afp_blob(blob, frames)
        r = None if blob is None else scan_media_metadata(blob)
        pii = None if r is None else (r["gps"] or r["serial"] or r["author"])
        yield mid, sig, pii, r is None or r["unscanned"]

    return map_rows(media, [id_col, data_col], row, _AUDIT_FEATURES_SCHEMA)


def media_audit(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    kind: str = "image",
    method: str = "dhash",
    frames: int = 64,
    max_hamming: int = 2,
    max_dup_share: float = 0.2,
    min_decodable: float = 0.5,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Media RELEASE AUDIT — the multimodal analogue of the text
    corpus's ``curate.release_audit`` (same (check, n, ratio, ok)
    surface): must the media column block a release?

    Rows: ``total`` (ok iff non-empty), ``decodable`` (items the real
    decoders fingerprint; ok iff the share >= ``min_decodable`` — a
    corpus that mostly fails decode is mislabeled or corrupt),
    ``quarantined`` (the complement), ``near_dup_items`` (distinct
    items in a perceptual pair at hamming <= ``max_hamming``; ok iff
    the share <= ``max_dup_share`` — ship after dedup, not before),
    ``pii`` (items whose metadata side-channels carry GPS/serial/
    author per ``mediameta.media_metadata_scan``; ok iff ZERO — a
    release cannot claim PII-clean media with a single EXIF GPS tag
    on board), and ``pii_unscannable`` (items whose metadata could
    not be parsed at all PLUS items carrying a metadata segment the
    scan saw but could not read — an unknown-signature APPn; ok iff
    ZERO — per the quarantine contract an unread carrier cannot be
    CERTIFIED clean, so it must be dropped or repaired before
    release, exactly as ``write_media_shards`` treats it).  One signature pass feeds both
    the decodable and the dup legs; the two pii legs share one
    header-walk pass that never decodes pixels.
    ``kind`` is image/audio — a video signature is a frame-hash SET,
    so hamming-on-one-signature semantics would silently audit frames
    instead of clips; rejected rather than mis-reported."""
    if kind not in ("image", "audio"):
        raise ValueError(
            f"media_audit supports kind in ('image', 'audio'), got {kind!r}"
        )
    from cqs_spark.operators.dedup import hamming_pairs

    # ONE fused Arrow walk computes signature + metadata flags per blob
    # (previously: a media_signatures walk AND a media_metadata_scan
    # walk, each decoding/parsing the corpus separately — and the
    # staged intermediate held raw blobs; now it holds ~17 bytes/item).
    # The per-blob kernels are the SAME functions the individually
    # gated operators run (_phash_blob/_afp_blob, scan_media_metadata),
    # so the audit's numbers cannot drift from q165/q178's operators.
    feats = stage(
        _audit_features(media, id_col, data_col, kind, method, frames), eager=True
    )
    total = feats.agg(F.count(F.lit(1)).cast("long").alias("_tot"))
    sigs = feats.filter(F.col("simhash").isNotNull()).select(
        F.col("media_id").alias(id_col), "simhash"
    )
    pairs = hamming_pairs(
        sigs, id_col, _hamming_bits(kind, frames), max_hamming, max_bucket
    )
    dup_ids = (
        pairs.select(F.col("a").alias(id_col))
        .unionByName(pairs.select(F.col("b").alias(id_col)))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    dec = sigs.select(id_col).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    _ratio = F.when(F.col("_tot") == 0, F.lit(0.0)).otherwise(
        F.coalesce(F.col("n"), F.lit(0)).cast("double")
        / F.col("_tot").cast("double")
    )

    def leg(check: str, n_df: DataFrame, ok) -> DataFrame:
        n = F.coalesce(F.col("n"), F.lit(0)).cast("long")
        return n_df.crossJoin(F.broadcast(total)).select(
            F.lit(check).alias("check"),
            n.alias("n"),
            _ratio.alias("ratio"),
            ok.alias("ok"),
        )

    tot_leg = total.select(
        F.lit("total").alias("check"),
        F.col("_tot").alias("n"),
        F.when(F.col("_tot") == 0, F.lit(0.0)).otherwise(F.lit(1.0)).alias("ratio"),
        (F.col("_tot") > 0).alias("ok"),
    )
    quar = dec.crossJoin(F.broadcast(total)).select(
        (F.col("_tot") - F.coalesce(F.col("n"), F.lit(0))).alias("n")
    )
    meta_counts = stage(
        feats.agg(
            F.count(F.when(F.col("has_pii"), 1)).cast("long").alias("_pii"),
            # unscannable = full quarantine OR a carrier the scan saw
            # but could not read (unknown APPn signature): either way
            # the blob's metadata was not certified clean
            F.count(F.when(F.col("unscannable"), 1))
            .cast("long")
            .alias("_unsc"),
        ),
        eager=True,
    )
    pii = meta_counts.select(F.col("_pii").alias("n"))
    unsc = meta_counts.select(F.col("_unsc").alias("n"))
    zero_ok = F.coalesce(F.col("n"), F.lit(0)) == 0
    return (
        tot_leg
        .unionByName(leg("decodable", dec, _ratio >= min_decodable))
        .unionByName(leg("quarantined", quar, F.lit(True)))
        .unionByName(leg("near_dup_items", dup_ids, _ratio <= max_dup_share))
        .unionByName(leg("pii", pii, zero_ok))
        .unionByName(leg("pii_unscannable", unsc, zero_ok))
    )
