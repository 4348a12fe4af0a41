"""Multimodal plumbing: oracle queries + binary-stage determinism."""

from __future__ import annotations

import pytest

from cqs_spark.catalog import load_table
from cqs_spark.operators.multimodal import (
    HAVE_PIL,
    byte_features,
    decode_image,
    media_table,
)
from cqs_spark.operators.multimodal_queries import (
    MULTIMODAL_ORACLES,
    MULTIMODAL_QUERIES,
)
from cqs_spark.testing import compare_to_oracle


@pytest.mark.parametrize("name", sorted(MULTIMODAL_QUERIES))
def test_oracle_match(spark, sf_dir, name):
    compare_to_oracle(MULTIMODAL_QUERIES[name](spark, sf_dir), MULTIMODAL_ORACLES[name], sf_dir)


def test_byte_features_deterministic(spark, sf_dir):
    media = media_table(load_table(spark, sf_dir, "documents").limit(20))
    f1 = {r["media_id"]: tuple(r["features"]) for r in byte_features(media).collect()}
    f2 = {r["media_id"]: tuple(r["features"]) for r in byte_features(media).collect()}
    assert f1 == f2 and len(f1) == 20
    for feats in f1.values():
        assert len(feats) == 16
        assert abs(sum(feats) - 1.0) < 1e-9


def test_decode_nulls_unrecognized(spark, sf_dir):
    # Synthetic blobs are text bytes, not images: the decoder must
    # quarantine them as NULLs (never kill the job).
    media = media_table(load_table(spark, sf_dir, "documents").limit(30))
    if HAVE_PIL:
        pytest.skip("PIL may decode text bytes")
    nulls = decode_image(media).collect()
    assert nulls and all(r["width"] is None for r in nulls)


def _bmp(w, h, bpp=24):
    import struct

    return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h) + b"\x00\x00" + struct.pack("<H", bpp)


def _png(w, h, ctype=6):
    import struct

    return (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", w, h) + bytes([8, ctype, 0, 0, 0])
    )


def _jpeg(w, h, ch=3):
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) + bytes([ch])
    return b"\xff\xd8" + app0 + sof0


def _wav(rate=8000, nch=2, seconds=2):
    import struct

    byte_rate = rate * nch * 2
    data = b"\x00" * (byte_rate * seconds)
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, nch, rate, byte_rate, nch * 2, 16
    )
    chunks = fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_real_header_decode_without_codec_wheel(spark):
    """PNG/BMP/JPEG/PNM dimensions and WAV audio facts decode for real
    from hand-built binary blobs — no PIL, no ffmpeg."""
    from cqs_spark.operators.multimodal import decode_audio, sniff_image

    assert sniff_image(_png(640, 480)) == ("png", 640, 480, 4)
    assert sniff_image(_bmp(31, 17)) == ("bmp", 31, 17, 3)
    assert sniff_image(_jpeg(1024, 768)) == ("jpeg", 1024, 768, 3)
    assert sniff_image(b"P6\n# c\n12 7\n255\n") == ("pnm", 12, 7, 3)
    assert sniff_image(b"GIF89a" + bytes([5, 0, 9, 0])) == ("gif", 5, 9, 3)
    assert sniff_image(b"not an image at all") is None

    rows = [
        (0, "image", _png(64, 32), (len(_png(64, 32)), 0, 0, 0)),
        (1, "image", _bmp(8, 4), (len(_bmp(8, 4)), 0, 0, 0)),
        (2, "audio", _wav(8000, 2, 2), (10, 0, 0, 0)),
        # NULL blobs quarantine to a NULL row instead of failing the job
        (3, "image", None, (0, 0, 0, 0)),
        (4, "audio", None, (0, 0, 0, 0)),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, data binary, "
        "meta struct<n_bytes:long,width:int,height:int,duration_ms:long>",
    )
    imgs = {r["media_id"]: r for r in decode_image(media).collect()}
    assert (imgs[0]["width"], imgs[0]["height"], imgs[0]["channels"]) == (64, 32, 4)
    assert (imgs[1]["width"], imgs[1]["height"], imgs[1]["channels"]) == (8, 4, 3)
    assert (imgs[3]["width"], imgs[3]["height"], imgs[3]["channels"]) == (None, None, None)
    auds = {r["media_id"]: r for r in decode_audio(media).collect()}
    assert (auds[2]["sample_rate"], auds[2]["channels"], auds[2]["duration_ms"]) == (8000, 2, 2000)
    assert (auds[4]["sample_rate"], auds[4]["channels"], auds[4]["duration_ms"]) == (None, None, None)


def test_media_neardup_flags_identical_blobs(spark):
    """Two identical blobs pair at cos 1.0; a byte-disjoint blob
    pairs with neither at a tight threshold."""
    from pyspark.sql import functions as F

    from cqs_spark.operators.multimodal import media_neardup

    rows = [
        (1, "image", b"aaaabbbbccccdddd"),
        (2, "image", b"aaaabbbbccccdddd"),
        (3, "image", bytes(range(200, 216)) * 4),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, data binary"
    )
    got = [tuple(r) for r in media_neardup(media, threshold=0.999).collect()]
    assert [(a, b) for a, b, _ in got] == [(1, 2)]
    assert abs(got[0][2] - 1.0) < 1e-12


def test_decode_pixels_roundtrip_all_formats():
    """encode → decode_pixels is the identity for every wheel-free
    format (PNM binary, BMP 24-bit, PNG filter-0), and garbage bytes
    quarantine to None."""
    from cqs_spark.operators.multimodal import (
        decode_pixels,
        encode_bmp,
        encode_png,
        encode_pnm,
    )

    px = [[(r * 131 + c * 17) % 256 for c in range(13)] for r in range(7)]
    for enc in (encode_pnm, encode_bmp, encode_png):
        assert decode_pixels(enc(px)) == px, enc.__name__
    assert decode_pixels(b"definitely not an image") is None
    assert decode_pixels(b"BM" + b"\x00" * 10) is None  # truncated BMP
    assert decode_pixels(b"\x89PNG\r\n\x1a\x08 bad magic tail") is None


def test_decode_png_all_filters():
    """The PNG decoder unfilters every scanline filter type (0-4) —
    a real inflate+unfilter, not a header sniff: each filtered
    encoding of the same image must decode to the same pixels."""
    import struct
    import zlib

    from cqs_spark.operators.multimodal import decode_pixels

    px = [[(r * 37 + c * 11) % 256 for c in range(9)] for r in range(6)]
    h, w = len(px), len(px[0])

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def filt(ftype):
        raw = bytearray()
        prev = [0] * w
        for r in range(h):
            line = px[r]
            raw.append(ftype)
            for x in range(w):
                a = line[x - 1] if x >= 1 else 0
                b = prev[x]
                c = prev[x - 1] if x >= 1 else 0
                if ftype == 0:
                    enc = line[x]
                elif ftype == 1:
                    enc = (line[x] - a) & 0xFF
                elif ftype == 2:
                    enc = (line[x] - b) & 0xFF
                elif ftype == 3:
                    enc = (line[x] - (a + b) // 2) & 0xFF
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    )
                    enc = (line[x] - pred) & 0xFF
                raw.append(enc)
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    for ftype in range(5):
        assert decode_pixels(filt(ftype)) == px, f"filter {ftype}"


def test_decode_bmp_topdown_and_palette():
    """BMP variants beyond the 24-bit encoder: top-down rows (negative
    height) and 8-bit palette images decode to the same grayscale."""
    import struct

    from cqs_spark.operators.multimodal import decode_pixels, encode_bmp

    px = [[(r * 53 + c * 29) % 256 for c in range(5)] for r in range(4)]
    h, w = len(px), len(px[0])

    # top-down 24-bit: same pixels, rows in natural order, height < 0
    stride = ((w * 3) + 3) & ~3
    body = bytearray()
    for r in range(h):
        for v in px[r]:
            body += bytes((v, v, v))
        body += b"\x00" * (stride - w * 3)
    td = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(body), 0, 0, 0, 0
    ) + bytes(body)
    assert decode_pixels(td) == decode_pixels(encode_bmp(px)) == px

    # 8-bit palette: identity gray palette, one index byte per pixel
    pal = b"".join(bytes((g, g, g, 0)) for g in range(256))
    stride8 = (w + 3) & ~3
    body8 = bytearray()
    for r in range(h - 1, -1, -1):
        body8 += bytes(px[r]) + b"\x00" * (stride8 - w)
    off = 54 + len(pal)
    p8 = struct.pack(
        "<2sIHHI", b"BM", off + len(body8), 0, 0, off
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(body8), 0, 0, 256, 0
    ) + pal + bytes(body8)
    assert decode_pixels(p8) == px


def test_perceptual_hash_invariance_and_discrimination():
    """The phash contract: re-encoding and uniform brightness shifts
    keep dHash identical (hamming 0); genuinely different images sit
    far apart; resize pooling makes the hash size-invariant for
    2x upscaling."""
    from cqs_spark.operators.multimodal import (
        decode_pixels,
        encode_bmp,
        encode_png,
        perceptual_hashes,
    )

    def field(seed, n=16):
        return [
            [
                (((seed * 977 + r * 16 + c) ** 2 + 13) % 2147483648
                 * 2654435761 % 4294967296) // 16777216
                for c in range(n)
            ]
            for r in range(n)
        ]

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    px = field(1)
    a1, d1 = perceptual_hashes(px)
    # re-encode invariance (the byte-histogram failure case)
    a2, d2 = perceptual_hashes(decode_pixels(encode_bmp(px)))
    a3, d3 = perceptual_hashes(decode_pixels(encode_png(px)))
    assert (a1, d1) == (a2, d2) == (a3, d3)
    # uniform brightness +10: dHash (gradients) is invariant
    brighter = [[min(255, v + 10) for v in row] for row in px]
    _, d4 = perceptual_hashes(brighter)
    assert ham(d1, d4) <= 2
    # 2x nearest-neighbour upscale: the 8×8 aHash grid divides both
    # sizes evenly, so box pooling restores the exact cells (dHash's
    # 9-column grid has fractional boundaries at width 16, so its
    # cells legitimately shift a little — near, not equal).
    up = [[px[r // 2][c // 2] for c in range(32)] for r in range(32)]
    a5, d5 = perceptual_hashes(up)
    assert a5 == a1
    assert ham(d5, d1) <= 12  # near (8 here) vs 33 for a different image
    # a different image is far away
    _, d6 = perceptual_hashes(field(2))
    assert ham(d1, d6) >= 8


def test_decode_samples_and_audio_fingerprint():
    """PCM16 decode roundtrips; stereo folds by integer mean; the
    delta-sign fingerprint is invariant to amplitude halving and far
    apart for different clips; garbage/non-PCM quarantines."""
    import struct

    from cqs_spark.operators.multimodal import (
        audio_fingerprint_bits,
        decode_samples,
        encode_wav,
    )

    def clip(seed):
        return [
            ((seed * 4099 + t) * (seed * 4099 + t) + 7) % 2147483648
            * 2654435761 % 4294967296 // 65536 - 32768
            for t in range(1056)
        ]

    s = clip(3)
    assert decode_samples(encode_wav(s)) == s
    # stereo: L/R interleaved, fold = floor mean
    l, r = clip(3), clip(4)
    inter = struct.pack(f"<{2 * len(l)}h", *[v for p in zip(l, r) for v in p])
    stereo = (
        struct.pack("<4sI4s", b"RIFF", 36 + len(inter), b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 2, 8000, 32000, 4, 16)
        + struct.pack("<4sI", b"data", len(inter))
        + inter
    )
    assert decode_samples(stereo) == [(a + b) // 2 for a, b in zip(l, r)]
    # scale invariance + discrimination
    def ham(x, y):
        return bin(x ^ y).count("1")

    fp = audio_fingerprint_bits(s)
    assert fp == audio_fingerprint_bits([x // 2 for x in s])
    assert ham(fp, audio_fingerprint_bits(clip(4))) >= 8
    # quarantine: not WAV / non-PCM format tag
    assert decode_samples(b"not audio") is None
    bad = bytearray(encode_wav(s))
    bad[20] = 3  # format tag: IEEE float, unsupported
    assert decode_samples(bytes(bad)) is None


def test_media_dedup_apply_transitive_and_passthrough(spark):
    """A≈B≈C collapses to ONE survivor (min id) even when A and C
    never pair directly; garbage and unique items pass through."""
    from cqs_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        encode_pnm,
        media_dedup_apply,
        perceptual_hashes,
    )

    def px(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    # Build pixels straight from the 8×9 dHash cell grid (each cell is
    # a constant 2×2-ish box, so box means recover it exactly): every
    # dHash bit (i,j) is M[i][j] > M[i][j+1] and is controlled
    # directly.  B flips bits (0,0)+(2,0) vs A; C flips (4,0)+(6,0)
    # vs B — so ham(A,B)=ham(B,C)=2 but ham(A,C)=4: A≈C holds ONLY
    # transitively through B.
    col_of = [((c + 1) * 9 - 1) // 16 for c in range(16)]

    def from_cells(m):
        return [[m[r // 2][col_of[c]] for c in range(16)] for r in range(16)]

    def cells(*overrides):
        m = [[200 if (i + j) % 2 == 0 else 100 for j in range(9)]
             for i in range(8)]
        for i, j, v in overrides:
            m[i][j] = v
        return m

    def ham(x, y):
        return bin(x ^ y).count("1")

    base = from_cells(cells())
    b_px = from_cells(cells((0, 0, 100), (2, 0, 100)))
    c_px = from_cells(cells((0, 0, 100), (2, 0, 100), (4, 0, 100), (6, 0, 100)))
    ha, hb, hc = (perceptual_hashes(g)[1] for g in (base, b_px, c_px))
    assert ham(ha, hb) == 2 and ham(hb, hc) == 2 and ham(ha, hc) == 4

    rows = [
        (1, bytearray(encode_pnm(base))),
        (2, bytearray(encode_bmp(b_px))),
        (3, bytearray(encode_png(c_px))),
        (4, bytearray(encode_pnm(px(77)))),     # unique: survives
        (5, bytearray(b"not an image")),        # garbage: passes through
    ]
    media = spark.createDataFrame(rows, "media_id long, data binary")
    kept = {r["media_id"] for r in media_dedup_apply(media).collect()}
    assert kept == {1, 4, 5}


def test_audio_windowed_neardup_clip_robust(spark):
    """Trimmed-copy robustness: a prefix/suffix trim (window-granular)
    destroys the whole-clip fingerprint (kind='audio' must MISS the
    pair) but leaves the surviving windows' sub-fingerprints
    bit-identical, so kind='audio_windowed' pairs them via the
    shared-hash rule — the video kind's shape for audio."""
    import random

    from cqs_spark.operators.multimodal import (
        audio_fingerprint_bits,
        audio_window_fingerprints,
        encode_wav,
        perceptual_neardup,
    )

    W, NW = 256, 8
    rnd = random.Random(41)
    base = [rnd.randrange(-32768, 32768) for _ in range(NW * W)]
    prefix_trim = base[2 * W :]
    suffix_trim = base[: 5 * W]
    other = [rnd.randrange(-32768, 32768) for _ in range(NW * W)]
    rows = [
        (0, bytearray(encode_wav(base))),
        (1, bytearray(encode_wav(prefix_trim))),
        (2, bytearray(encode_wav(suffix_trim))),
        (3, bytearray(encode_wav(other))),
        (4, bytearray(b"junk")),
    ]
    media = spark.createDataFrame(rows, "media_id long, data binary")

    # the whole-clip fingerprint provably misses the trimmed pairs:
    # every floor-partition boundary shifts, hamming blows past 2
    fp_base = audio_fingerprint_bits(base)
    fp_trim = audio_fingerprint_bits(prefix_trim)
    assert bin(fp_base ^ fp_trim).count("1") > 2
    assert perceptual_neardup(media, kind="audio", max_hamming=2).count() == 0

    got = {
        (r["a"], r["b"]): r["shared"]
        for r in perceptual_neardup(
            media, kind="audio_windowed", window=W, min_shared=3
        ).collect()
    }
    assert got == {(0, 1): 6, (0, 2): 5, (1, 2): 3}

    # per-window frame: short/garbage clips quarantine to one NULL row
    wf = audio_window_fingerprints(media, window=W).collect()
    nulls = [r for r in wf if r["afp"] is None]
    assert {r["media_id"] for r in nulls} == {4}
    assert sum(1 for r in wf if r["media_id"] == 0 and r["afp"] is not None) == NW


def test_incremental_media_neardup_image_and_audio(spark):
    from cqs_spark.operators.multimodal import (
        encode_bmp,
        encode_pnm,
        encode_wav,
        incremental_media_neardup,
        media_signatures,
    )

    def px(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    # index: ids 0..3 (distinct seeds); batch: 10 = twin of 1 in another
    # container, 11/12 = within-batch twins, 13 = fresh, 14 = garbage
    idx = spark.createDataFrame(
        [(i, bytearray(encode_pnm(px(i)))) for i in range(4)],
        "media_id long, data binary",
    )
    batch = spark.createDataFrame(
        [
            (10, bytearray(encode_bmp(px(1)))),
            (11, bytearray(encode_pnm(px(7)))),
            (12, bytearray(encode_bmp(px(7)))),
            (13, bytearray(encode_pnm(px(8)))),
            (14, bytearray(b"garbage")),
        ],
        "media_id long, data binary",
    )
    sigs = media_signatures(idx)
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in incremental_media_neardup(batch, sigs, max_hamming=2).collect()
    }
    assert pairs.get((1, 10)) == 0          # cross: index blob never re-read
    assert pairs.get((11, 12)) == 0         # within-batch leg
    assert all(a not in (13, 14) and b not in (13, 14) for a, b in pairs)
    assert all(not (a < 10 and b < 10) for a, b in pairs)  # no index-index

    # star-reduce leg: tiny max_bucket must not lose the planted pairs
    starred = {
        (r["a"], r["b"])
        for r in incremental_media_neardup(
            batch, sigs, max_hamming=2, max_bucket=1
        ).collect()
    }
    assert (1, 10) in starred and (11, 12) in starred

    # audio kind: amplitude-halved twin of an indexed clip
    s = [((t * 37) % 4001) - 2000 for t in range(1056)]
    s2 = [((t * 53) % 3001) - 1500 for t in range(1056)]
    aidx = spark.createDataFrame(
        [(0, bytearray(encode_wav(s))), (1, bytearray(encode_wav(s2)))],
        "media_id long, data binary",
    )
    abatch = spark.createDataFrame(
        [(10, bytearray(encode_wav([x // 2 for x in s])))],
        "media_id long, data binary",
    )
    asigs = media_signatures(aidx, kind="audio")
    apairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in incremental_media_neardup(
            abatch, asigs, kind="audio", max_hamming=2
        ).collect()
    }
    assert apairs.get((0, 10)) == 0 and (1, 10) not in apairs


def test_lzw_roundtrip_paths():
    import random

    from cqs_spark.operators.multimodal import _lzw_decode, _lzw_encode

    rnd = random.Random(7)
    cases = [
        [rnd.randrange(256) for _ in range(5000)],   # width growth
        [5] * 400 + [9] * 400 + list(range(256)),    # runs (KwKwK)
        [rnd.randrange(4) for _ in range(60000)],    # 4096-full + CLEAR
        [1],
        [],
    ]
    for data in cases:
        assert _lzw_decode(_lzw_encode(data, 8), 8) == data
    assert _lzw_decode(b"\xff\xff\xff\xff", 8) in (None, [])


def test_gif_roundtrip_and_fallback():
    from cqs_spark.operators.multimodal import (
        decode_frames,
        encode_gif,
        encode_pnm,
    )

    def mk(seed, h=16, w=16):
        return [[(seed * 31 + r * w + c) * 97 % 256 for c in range(w)] for r in range(h)]

    frames = [mk(s) for s in range(4)]
    assert decode_frames(encode_gif(frames)) == frames
    assert decode_frames(encode_gif(frames, interlace=True)) == frames
    odd = [mk(9, h=15, w=11), mk(10, h=15, w=11)]
    assert decode_frames(encode_gif(odd, interlace=True)) == odd
    assert decode_frames(b"junk") is None
    assert decode_frames(encode_gif(frames)[:40]) is None  # truncated
    assert decode_frames(encode_pnm(mk(3))) == [mk(3)]  # still = 1-frame


def test_gif_partial_frame_composition_and_transparency():
    import struct

    from cqs_spark.operators.multimodal import (
        _lzw_encode,
        decode_frames,
        encode_gif,
    )

    base = [[(r * 16 + c) * 5 % 256 for c in range(16)] for r in range(16)]
    blob = bytearray(encode_gif([base]))
    assert blob[-1] == 0x3B
    del blob[-1]
    # GCE: transparency on, transparent index 7
    blob += bytes([0x21, 0xF9, 4, 0x01, 0, 0, 7, 0])
    # partial 4x4 frame at (left=2, top=3): index 7 (transparent) on the
    # first row, 200 elsewhere
    patch = [7, 7, 7, 7] + [200] * 12
    blob += b"\x2c" + struct.pack("<HHHH", 2, 3, 4, 4) + bytes([0x00, 8])
    data = _lzw_encode(patch, 8)
    blob += bytes([len(data)]) + data + b"\x00\x3b"
    frames = decode_frames(bytes(blob))
    assert frames is not None and len(frames) == 2
    assert frames[0] == base
    f2 = frames[1]
    assert f2[3][2:6] == base[3][2:6]          # transparent row kept base
    assert f2[4][2:6] == [200] * 4             # painted rows
    assert f2[0] == base[0]                    # outside patch untouched


def test_gif_disposal_methods():
    """GCE disposal (packed bits 2-4): 2 restores the frame rect to
    background before the next frame composites, 3 restores the
    pre-render screen, 4-7 (undefined) quarantine — without this,
    'restore to background' animations composite onto stale pixels
    and hash garbled frames."""
    import struct

    from cqs_spark.operators.multimodal import _lzw_encode, decode_frames, encode_gif

    base = [[(r * 16 + c) * 5 % 256 for c in range(16)] for r in range(16)]

    def patch_frame(disposal, left=2, top=3, val=200, fw=4, fh=4):
        out = bytearray()
        out += bytes([0x21, 0xF9, 4, (disposal & 0x07) << 2, 0, 0, 0, 0])
        out += b"\x2c" + struct.pack("<HHHH", left, top, fw, fh) + bytes([0x00, 8])
        data = _lzw_encode([val] * (fw * fh), 8)
        out += bytes([len(data)]) + data + b"\x00"
        return out

    def gif_with(disposals_vals):
        blob = bytearray(encode_gif([base]))
        del blob[-1]  # strip trailer
        for d, v in disposals_vals:
            blob += patch_frame(d, val=v)
        return bytes(blob + b"\x3b")

    # disposal=2: after frame 2 (patch 200), the rect resets to the
    # background gray, so frame 3's screen shows bg in the un-painted
    # part of the rect, not stale 200s
    frames = decode_frames(gif_with([(2, 200), (0, 90)]))
    assert frames is not None and len(frames) == 3
    assert frames[1][4][2] == 200                  # painted
    assert frames[2][0] == base[0]                 # outside rect: base kept
    assert frames[2][4][2] == 90                   # repainted by frame 3
    # a disposal-2 GIF whose third frame paints a SMALLER rect: the
    # uncovered remainder of frame 2's rect must be background, not 200
    blob = bytearray(encode_gif([base]))
    del blob[-1]
    blob += patch_frame(2, val=200, fw=4, fh=4)
    blob += patch_frame(0, val=90, fw=2, fh=2)
    frames = decode_frames(bytes(blob + b"\x3b"))
    assert frames is not None and len(frames) == 3
    assert frames[2][6][5] != 200                  # stale pixel cleared
    # disposal=3: frame 3 (a smaller 2x2 patch) composites onto the
    # PRE-frame-2 screen (base), not onto frame 2's 200s
    blob = bytearray(encode_gif([base]))
    del blob[-1]
    blob += patch_frame(3, val=200, fw=4, fh=4)
    blob += patch_frame(0, val=90, fw=2, fh=2)
    frames = decode_frames(bytes(blob + b"\x3b"))
    assert frames is not None and len(frames) == 3
    assert frames[1][6][5] == 200
    assert frames[2][6][5] == base[6][5]           # restored to previous
    assert frames[2][3][2] == 90                   # frame 3's own paint
    # undefined disposal 4-7: quarantine, never garble
    assert decode_frames(gif_with([(4, 200)])) is None
    assert decode_frames(gif_with([(7, 200)])) is None


def test_video_neardup_max_df_stopword_frame(spark):
    from cqs_spark.operators.multimodal import encode_gif, perceptual_neardup

    def mk(seed):
        return [[(seed * 131 + r * 16 + c) * 29 % 256 for c in range(16)] for r in range(16)]

    black = [[0] * 16 for _ in range(16)]
    # 6 unrelated videos that all share the SAME intro frame + 3 own
    # frames; one true twin pair sharing 3 content frames
    rows = []
    for vid in range(6):
        rows.append((vid, bytearray(encode_gif([black] + [mk(vid * 10 + j) for j in range(3)]))))
    rows.append((100, bytearray(encode_gif([mk(900), mk(901), mk(902)]))))
    rows.append((101, bytearray(encode_gif([mk(902), mk(901), mk(900)], interlace=True))))
    media = spark.createDataFrame(rows, "media_id long, data binary")
    pairs = {
        (r["a"], r["b"]): r["shared"]
        for r in perceptual_neardup(
            media, kind="video", min_shared=3, max_df=3
        ).collect()
    }
    # the intro frame occurs in 6 videos > max_df: dropped, so the
    # unrelated videos share only 1 (dropped) frame and never pair
    assert pairs == {(100, 101): 3}


def test_frame_containment_banded_and_stopword(spark):
    from cqs_spark.operators.multimodal import (
        encode_gif,
        encode_pnm,
        frame_containment,
    )

    def mk(seed):
        return [[(seed * 131 + r * 16 + c) * 29 % 256 for c in range(16)] for r in range(16)]

    black = [[0] * 16 for _ in range(16)]
    videos = spark.createDataFrame(
        [
            (1, bytearray(encode_gif([black, mk(5), mk(6)]))),
            (2, bytearray(encode_gif([black, mk(7), mk(8)]))),
            (3, bytearray(encode_gif([black, mk(9), mk(10)]))),
        ],
        "media_id long, data binary",
    )
    # one near-copy of video 1's frame 1 (one pixel nudged hard enough
    # to flip at most a couple of dHash gradient bits), one black still
    near = [row[:] for row in mk(5)]
    near[0][0] = (near[0][0] + 128) % 256
    images = spark.createDataFrame(
        [(100, bytearray(encode_pnm(near))), (101, bytearray(encode_pnm(black)))],
        "media_id long, data binary",
    )
    hits = {
        (r["image_id"], r["video_id"], r["frame"])
        for r in frame_containment(
            images, videos, max_hamming=2, max_df=2
        ).collect()
    }
    assert (100, 1, 1) in hits                       # banded near-match
    assert not any(i == 101 for i, _, _ in hits)     # stopword frame dropped
    exact = {
        (r["image_id"], r["video_id"], r["frame"])
        for r in frame_containment(images, videos, max_df=None).collect()
    }
    assert {(101, 1, 0), (101, 2, 0), (101, 3, 0)} <= exact  # no-drop path


def test_jpeg_codec_roundtrip_paths():
    import random

    from cqs_spark.operators.jpegcodec import decode_jpeg_luma, encode_jpeg

    rnd = random.Random(11)

    def maxdiff(a, b):
        return max(abs(x - y) for ra, rb in zip(a, b) for x, y in zip(ra, rb))

    noise = [[rnd.randrange(256) for _ in range(24)] for _ in range(17)]
    smooth = [[(r * 8 + c * 4) % 256 for c in range(16)] for r in range(16)]
    # q100 grayscale: near-lossless; 4:2:0 exercises the 2x2-Y MCU
    # interleave + chroma Huffman walk; restart exercises RSTn resync
    for px, kw, tol in [
        (noise, {}, 1),
        (smooth, {"quality": 95}, 3),
        (noise, {"subsample": True}, 1),
        (noise, {"restart": 2}, 1),
        (noise, {"subsample": True, "restart": 1}, 1),
        (noise, {"quality": 75}, 64),  # lossy but bounded
    ]:
        blob = encode_jpeg(px, quality=kw.pop("quality", 100), **kw)
        out = decode_jpeg_luma(blob)
        assert out is not None
        assert len(out) == len(px) and len(out[0]) == len(px[0])
        assert maxdiff(out, px) <= tol
    # garbage / truncation / progressive quarantine
    assert decode_jpeg_luma(b"nope") is None
    assert decode_jpeg_luma(b"\xff\xd8junk") is None
    good = encode_jpeg(smooth)
    assert decode_jpeg_luma(good[:40]) is None
    arith = bytearray(good)
    sof = arith.find(b"\xff\xc0")
    arith[sof + 1] = 0xC9  # flip SOF0 -> SOF9 (arithmetic): PIL slot
    assert decode_jpeg_luma(bytes(arith)) is None


def test_jpeg_single_component_scan_ignores_sampling_factors():
    """T.81 A.2: a single-component scan is non-interleaved — the MCU
    is one 8×8 data unit and SOF sampling factors do not apply.  A
    grayscale JPEG declaring 2×2 factors must decode identically to
    its 1×1 twin (the interleaved walk would garble it whenever the
    dimensions are multiples of 16, and desync otherwise)."""
    import random

    from cqs_spark.operators.jpegcodec import decode_jpeg_luma, encode_jpeg

    rnd = random.Random(23)
    # 16-multiples hit the silent-garble case; ragged dims the desync.
    for h, w, kw in [(16, 16, {}), (17, 24, {}), (32, 16, {"restart": 2})]:
        px = [[rnd.randrange(256) for _ in range(w)] for _ in range(h)]
        blob = bytearray(encode_jpeg(px, quality=100, **kw))
        want = decode_jpeg_luma(bytes(blob))
        assert want is not None
        sof = blob.find(b"\xff\xc0")
        # SOF0: marker(2) len(2) prec(1) h(2) w(2) ncomp(1) id(1) → +11
        assert blob[sof + 11] == 0x11
        blob[sof + 11] = 0x22
        got = decode_jpeg_luma(bytes(blob))
        assert got == want, (h, w, kw)


def test_bitreader_accumulator_stays_bounded():
    """bits() must truncate consumed bits from the accumulator:
    without the mask, acc grows to the whole scan length and every
    shift becomes O(scan size) — quadratic decode that effectively
    hangs the Arrow stage on megapixel JPEGs."""
    from cqs_spark.operators.jpegcodec import _BitReader

    r = _BitReader(bytes([0xAA]) * 20_000, 0)
    reads = 0
    while True:
        v = r.bits(7)
        if v is None:
            break
        reads += 1
        assert r.acc.bit_length() <= 33
    assert reads == 20_000 * 8 // 7


def test_decode_pixels_jpeg_and_gif_branches(spark):
    from cqs_spark.operators.jpegcodec import encode_jpeg
    from cqs_spark.operators.multimodal import (
        decode_pixels,
        encode_gif,
        perceptual_neardup,
    )

    def mk(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    # GIF branch: first frame
    assert decode_pixels(encode_gif([mk(1), mk(2)])) == mk(1)
    # JPEG branch feeds the perceptual dedup path end to end: a q100
    # JPEG twin of a PNM original pairs at small hamming
    from cqs_spark.operators.multimodal import encode_pnm

    media = spark.createDataFrame(
        [
            (1, bytearray(encode_pnm(mk(5)))),
            (2, bytearray(encode_jpeg(mk(5)))),
            (3, bytearray(encode_pnm(mk(9)))),
        ],
        "media_id long, data binary",
    )
    pairs = {
        (r["a"], r["b"]) for r in perceptual_neardup(media, max_hamming=2).collect()
    }
    assert (1, 2) in pairs and not any(3 in p for p in pairs)


def test_decode_png_palette_depth16_and_adam7_interlace():
    import random
    import struct
    import zlib

    from cqs_spark.operators.multimodal import _gray, decode_pixels

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    def png(w, h, depth, ctype, raw, plte=None, interlace=0):
        out = b"\x89PNG\r\n\x1a\n"
        out += chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        )
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    rnd = random.Random(5)
    w, h = 13, 9
    pal = bytes(rnd.randrange(256) for _ in range(3 * 16))
    idx = [[rnd.randrange(16) for _ in range(w)] for _ in range(h)]
    exp = [[_gray(pal[3 * i], pal[3 * i + 1], pal[3 * i + 2]) for i in r] for r in idx]
    # palette depth 8
    raw = b"".join(b"\x00" + bytes(r) for r in idx)
    assert decode_pixels(png(w, h, 8, 3, raw, pal)) == exp
    # palette depth 4 (packed MSB-first)
    raw4 = b""
    for r in idx:
        b_ = bytearray([0])
        for k in range(0, w, 2):
            byte = 0
            for j in range(2):
                v = r[k + j] if k + j < w else 0
                byte |= (v & 0xF) << (8 - 4 * (j + 1))
            b_.append(byte)
        raw4 += bytes(b_)
    assert decode_pixels(png(w, h, 4, 3, raw4, pal)) == exp
    # 16-bit gray, Up filter: luma = high byte
    g = [[rnd.randrange(65536) for _ in range(w)] for _ in range(h)]
    raw16 = b""
    prev = bytes(2 * w)
    for r in g:
        line = b"".join(struct.pack(">H", v) for v in r)
        raw16 += b"\x02" + bytes((line[i] - prev[i]) & 0xFF for i in range(len(line)))
        prev = line
    assert decode_pixels(png(w, h, 16, 0, raw16)) == [[v >> 8 for v in r] for r in g]
    # depth-1 grayscale scales to 0/255
    bits = [[rnd.randrange(2) for _ in range(w)] for _ in range(h)]
    raw1 = b""
    for r in bits:
        b_ = bytearray([0])
        for k in range(0, w, 8):
            byte = 0
            for j in range(8):
                if k + j < w and r[k + j]:
                    byte |= 1 << (7 - j)
            b_.append(byte)
        raw1 += bytes(b_)
    assert decode_pixels(png(w, h, 1, 0, raw1)) == [[v * 255 for v in r] for r in bits]
    # Adam7 interlace DECODES (7-pass deinterlace over the shared
    # unfilter machinery) — build the pass-ordered stream by hand
    from cqs_spark.operators.multimodal import _ADAM7

    raw7 = b""
    for x0, y0, dx, dy in _ADAM7:
        sw = (w - x0 + dx - 1) // dx
        sh = (h - y0 + dy - 1) // dy
        if sw <= 0 or sh <= 0:
            continue
        for ri in range(sh):
            y = y0 + ri * dy
            raw7 += b"\x00" + bytes(idx[y][x0 + ci * dx] for ci in range(sw))
    assert decode_pixels(png(w, h, 8, 3, raw7, pal, interlace=1)) == exp
    # a sequential-layout stream mislabeled interlaced is shorter than
    # the 7-pass layout needs: quarantine, never garble
    assert decode_pixels(png(w, h, 8, 3, raw, pal, interlace=1)) is None
    # encoder-driven roundtrip incl. ragged dims and filtered rows
    from cqs_spark.operators.multimodal import encode_png

    for hh, ww in [(16, 16), (9, 13), (1, 7), (3, 1)]:
        gray = [[rnd.randrange(256) for _ in range(ww)] for _ in range(hh)]
        assert decode_pixels(encode_png(gray, interlace=True)) == gray


def test_jpeg_progressive_decode_matches_baseline():
    import random

    from cqs_spark.operators.jpegcodec import (
        decode_jpeg_luma,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rnd = random.Random(11)
    cases = [
        ([[(r * 8 + c * 4) % 256 for c in range(16)] for r in range(16)], 95),
        ([[rnd.randrange(256) for _ in range(24)] for _ in range(17)], 100),
        ([[rnd.randrange(256) for _ in range(24)] for _ in range(17)], 75),
        ([[rnd.randrange(256) for _ in range(40)] for _ in range(33)], 90),
        ([[128] * 16 for _ in range(16)], 90),
        ([[(r * 3 + c * 5) % 256 for c in range(19)] for r in range(21)], 50),
    ]
    for px, q in cases:
        # the 5-scan progressive stream (DC first/refine, two AC
        # spectral bands, AC refine with EOB runs) must reconstruct the
        # SAME coefficients as the baseline stream of the same image —
        # the decodes are bit-identical, not merely close
        prog = decode_jpeg_luma(encode_jpeg_progressive(px, quality=q))
        base = decode_jpeg_luma(encode_jpeg(px, quality=q))
        assert prog is not None and prog == base
    # corrupt/truncated progressive quarantines
    blob = encode_jpeg_progressive(cases[0][0])
    assert decode_jpeg_luma(blob[:60]) is None
    assert decode_jpeg_luma(blob[: len(blob) - 2]) is None  # no EOI


def test_star_reduce_under_merge_bound(spark):
    """Pins the DOCUMENTED star-reduce recall bound (VERDICT r10 #6):
    inside a bucket larger than max_bucket, candidates are hub-spoke
    only, so two members within max_hamming of EACH OTHER but beyond
    it from the hub miss their pair — an under-merge, never a false
    merge.  With max_bucket=None the exact within-bucket join finds
    the pair.  The plant forces EVERY untouched pigeonhole band into
    the same oversized bucket (otherwise the exact-recall guarantee
    would route the pair through a small bucket and hide the bound)."""
    from pyspark.sql import functions as F

    from cqs_spark.operators.dedup import _simhash_band_pairs, _simhash_bands

    # 64-bit sigs, max_hamming=2 -> 3 bands at offsets 0/22/43.  All
    # items share band0 == 0 and band2 == 0 (two oversized buckets);
    # band1 values are pairwise distinct (singleton buckets).  Hub is
    # min id = 1 (sig 0); items 2 and 3 are hamming-1 from each other
    # but hamming 4 and 3 from the hub; fillers are far from everyone.
    sigs = [
        (1, 0),
        (2, 0b1111 << 22),
        (3, 0b0111 << 22),
        (4, 0b110011 << 30),
        (5, 0b101101 << 34),
        (6, 0b011110 << 25),
    ]
    sig = spark.createDataFrame(sigs, "media_id long, simhash long")
    banded = _simhash_bands(sig, "media_id", 64, 2)

    def verified_pairs(max_bucket):
        cand = _simhash_band_pairs(banded, "media_id", max_bucket)
        ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("long")
        return {
            (r["a"], r["b"])
            for r in cand.distinct()
            .select("a", "b", ham.alias("h"))
            .filter(F.col("h") <= 2)
            .collect()
        }

    # star-reduced: the (2,3) true pair is missed (hub-spoke only)
    assert verified_pairs(max_bucket=3) == set()
    # exact within-bucket join: the pair is found
    assert verified_pairs(max_bucket=None) == {(2, 3)}


def test_label_propagation_strict_raises_on_diameter(spark):
    """converge=True with a chain deeper than max_iters must RAISE
    (strict default), not silently return partial components — a
    partial fixpoint would desync dedup_apply/media_dedup_apply from
    their transitive-closure oracles."""
    import pytest
    from pyspark.sql import functions as F

    from cqs_spark.operators.graph import label_propagation

    # path graph 0-1-2-...-19: diameter 19 > max_iters=4
    edges = spark.range(19).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        label_propagation(edges, converge=True, max_iters=4)
    # strict=False returns best-effort labels instead
    lab = label_propagation(edges, converge=True, max_iters=4, strict=False)
    assert lab.count() == 20
    # and a generous bound converges to ONE component
    lab = label_propagation(edges, converge=True, max_iters=40)
    assert lab.select("label").distinct().count() == 1


def test_audit_features_match_gated_operators(spark, sf_dir):
    """media_audit's fused feature walk (r13) must carry bit-exact
    64-bit signatures and the same PII verdicts as the individually
    gated operators — a nullable int64 column that silently coerces to
    float64 corrupts low hash bits (the exact bug this pins)."""
    from pyspark.sql import functions as F

    from cqs_spark.operators.mediameta import media_metadata_scan
    from cqs_spark.operators.multimodal import (
        _audit_features,
        media_signatures,
    )
    from cqs_spark.operators.multimodal_queries import _q165_media

    media = _q165_media(spark, sf_dir).localCheckpoint(eager=True)
    feats = _audit_features(media).orderBy("media_id").collect()
    sigs = {
        r["media_id"]: r["simhash"]
        for r in media_signatures(media).collect()
    }
    scans = {
        r["media_id"]: r for r in media_metadata_scan(media).collect()
    }
    assert {r["media_id"]: r["simhash"] for r in feats if r["simhash"] is not None} == sigs
    for r in feats:
        s = scans[r["media_id"]]
        assert r["has_pii"] == s["has_pii"]
        assert r["unscannable"] == (
            s["fmt"] is None or bool(s["has_unscanned_meta"])
        )


def _kind_fixture(spark, kind):
    """(media, expected pairs) per media kind: a re-encoded image twin,
    an amplitude-halved WAV twin, a clipped interlaced GIF twin, and a
    window-trimmed WAV, each beside a distinct item and a garbage
    blob."""
    from cqs_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_pnm,
        encode_wav,
    )

    def px(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    s = [((t * 37) % 4001) - 2000 for t in range(8 * 256)]
    other = [((t * 53) % 3001) - 1500 for t in range(8 * 256)]
    blobs, expected = {
        "image": (
            [encode_pnm(px(1)), encode_bmp(px(1)), encode_pnm(px(9))],
            {(1, 2): 0},
        ),
        "audio": (
            [encode_wav(s), encode_wav([x // 2 for x in s]), encode_wav(other)],
            {(1, 2): 0},
        ),
        "video": (
            [
                encode_gif([px(i) for i in range(4)]),
                encode_gif([px(i) for i in range(1, 4)], interlace=True),
                encode_gif([px(i) for i in range(20, 23)]),
            ],
            {(1, 2): 3},
        ),
        "audio_windowed": (
            [encode_wav(s), encode_wav(s[2 * 256 :]), encode_wav(other)],
            {(1, 2): 6},
        ),
    }[kind]
    rows = [(i + 1, bytearray(b)) for i, b in enumerate(blobs)]
    rows.append((4, bytearray(b"garbage")))
    return spark.createDataFrame(rows, "media_id long, data binary"), expected


@pytest.mark.parametrize("kind", ["image", "audio", "video", "audio_windowed"])
def test_kind_rule_batch_is_incremental_against_empty_index(spark, kind):
    """Each kind reaches its one pair rule: the batch entry returns the
    rule's schema, finds the planted twin, and equals the incremental
    entry against an empty signature index (the batch join is the
    incremental join with nothing indexed yet)."""
    from cqs_spark.operators.multimodal import (
        incremental_media_neardup,
        perceptual_neardup,
    )

    media, expected = _kind_fixture(spark, kind)
    score = "hamming" if kind in ("image", "audio") else "shared"
    opts = {"window": 256} if kind == "audio_windowed" else {}
    batch = perceptual_neardup(media, kind=kind, **opts)
    assert batch.columns == ["a", "b", score]
    got = {(r["a"], r["b"]): r[score] for r in batch.collect()}
    assert got == expected
    empty = spark.createDataFrame([], "media_id long, simhash long")
    incr = incremental_media_neardup(media, empty, kind=kind, **opts)
    assert incr.columns == ["a", "b", score]
    assert {(r["a"], r["b"]): r[score] for r in incr.collect()} == got


def test_max_hamming_zero_pairs_64bit_twins(spark):
    """max_hamming=0 is the exact-hash case: the one pigeonhole band of
    a 64-bit image signature is the whole signature, so the re-encoded
    twin pairs at hamming 0 through the batch and incremental entries
    (the band's mask used to overflow the long literal at plan build)."""
    from cqs_spark.operators.multimodal import (
        incremental_media_neardup,
        media_signatures,
        perceptual_neardup,
    )

    media, _ = _kind_fixture(spark, "image")
    got = {tuple(r) for r in perceptual_neardup(media, max_hamming=0).collect()}
    assert got == {(1, 2, 0)}
    idx = media_signatures(media.filter("media_id = 1"))
    incr = incremental_media_neardup(
        media.filter("media_id <> 1"), idx, max_hamming=0
    )
    assert {tuple(r) for r in incr.collect()} == {(1, 2, 0)}


@pytest.mark.parametrize(
    "kind, opts, match",
    [
        ("audio_windowed", {"window": 0}, "window"),
        ("audio_windowed", {"window": -1024}, "window"),
        ("image", {"max_hamming": -1}, "max_hamming"),
    ],
)
def test_out_of_range_kind_parameters_rejected(spark, kind, opts, match):
    """A zero window used to kill the job in the Python worker, a
    negative one silently yielded no fingerprint rows, and a negative
    radius failed deep in plan build; each is a plain ValueError where
    it enters."""
    from cqs_spark.operators.multimodal import perceptual_neardup

    media = spark.createDataFrame([], "media_id long, data binary")
    with pytest.raises(ValueError, match=match):
        perceptual_neardup(media, kind=kind, **opts)
