"""Media-metadata PII scan/strip: struct-walk correctness, quarantine
contract, decode-invariance of strip, the media_audit pii leg, and the
release-path shard writer."""

import pytest

from cqs_spark.operators.jpegcodec import decode_jpeg_luma, encode_jpeg
from cqs_spark.operators.mediameta import (
    inject_jpeg_metadata,
    inject_png_metadata,
    scan_media_metadata,
    strip_media_metadata,
)
from cqs_spark.operators.multimodal import (
    decode_pixels,
    decode_samples,
    encode_bmp,
    encode_gif,
    encode_png,
    encode_pnm,
    encode_wav,
)


def _px(seed=0):
    return [[(seed * 31 + r * 16 + c) * 7 % 256 for c in range(16)] for r in range(16)]


def _flags(d):
    return {k: d[k] for k in ("gps", "serial", "author", "text")}


CLEAN = {"gps": False, "serial": False, "author": False, "text": False}


def test_scan_clean_encoders_all_formats():
    for blob, fmt in [
        (encode_jpeg(_px()), "jpeg"),
        (encode_png(_px()), "png"),
        (encode_pnm(_px()), "pnm"),
        (encode_bmp(_px()), "bmp"),
        (encode_gif([_px()]), "gif"),
        (encode_wav([100, -100] * 64), "wav"),
    ]:
        got = scan_media_metadata(blob)
        assert got is not None and got["fmt"] == fmt
        assert _flags(got) == CLEAN and got["meta_bytes"] == 0


def test_jpeg_exif_scan_strip_roundtrip():
    base = encode_jpeg(_px(3), quality=100)
    for kw, want in [
        (dict(gps=(51, 30, 26)), dict(CLEAN, gps=True)),
        (dict(serial="SN00123"), dict(CLEAN, serial=True)),
        (dict(artist="alice"), dict(CLEAN, author=True)),
        (dict(comment="shot on holiday"), dict(CLEAN, text=True)),
        (
            dict(gps=(1, 2, 3), serial="X", artist="bob", comment="hi"),
            dict(gps=True, serial=True, author=True, text=True),
        ),
    ]:
        dirty = inject_jpeg_metadata(base, **kw)
        got = scan_media_metadata(dirty)
        assert got is not None and _flags(got) == want, kw
        assert got["meta_bytes"] > 0
        clean = strip_media_metadata(dirty)
        assert _flags(scan_media_metadata(clean)) == CLEAN
        # entropy data untouched: decode bit-identical to the base
        assert decode_jpeg_luma(clean) == decode_jpeg_luma(base)


def test_png_text_and_exif_scan_strip():
    base = encode_png(_px(5))
    for kw, want in [
        (dict(text=("Author", "carol")), dict(CLEAN, author=True, text=True)),
        (dict(text=("Comment", "nice")), dict(CLEAN, text=True)),
        (dict(gps=(9, 8, 7)), dict(CLEAN, gps=True)),
        (dict(serial="B77"), dict(CLEAN, serial=True)),
    ]:
        dirty = inject_png_metadata(base, **kw)
        got = scan_media_metadata(dirty)
        assert got is not None and _flags(got) == want, kw
        clean = strip_media_metadata(dirty)
        assert _flags(scan_media_metadata(clean)) == CLEAN
        assert decode_pixels(clean) == decode_pixels(base)


def test_gif_comment_and_wav_info_strip():
    import struct

    g = bytearray(encode_gif([_px(1), _px(2)]))
    del g[-1]
    g += bytes([0x21, 0xFE, 5]) + b"hello" + b"\x00\x3b"
    got = scan_media_metadata(bytes(g))
    assert got["text"] and got["fmt"] == "gif"
    clean = strip_media_metadata(bytes(g))
    assert _flags(scan_media_metadata(clean)) == CLEAN
    from cqs_spark.operators.multimodal import decode_frames

    assert decode_frames(clean) == decode_frames(bytes(g))

    w = bytearray(encode_wav([500, -500] * 100))
    info = b"INFO" + b"IART" + struct.pack("<I", 4) + b"dave"
    w += b"LIST" + struct.pack("<I", len(info)) + info
    struct.pack_into("<I", w, 4, len(w) - 8)
    got = scan_media_metadata(bytes(w))
    assert got["author"] and got["fmt"] == "wav"
    clean = strip_media_metadata(bytes(w))
    assert _flags(scan_media_metadata(clean)) == CLEAN
    assert decode_samples(clean) == decode_samples(bytes(w))


def test_pnm_comment_scan_strip():
    dirty = b"P5\n# gps 51.5 -0.1\n16 16\n255\n" + bytes(256)
    got = scan_media_metadata(dirty)
    assert got["fmt"] == "pnm" and got["text"]
    clean = strip_media_metadata(dirty)
    assert _flags(scan_media_metadata(clean)) == CLEAN
    assert decode_pixels(clean) == decode_pixels(dirty)


def test_quarantine_contract():
    # garbage, truncation, malformed EXIF: None, never raises
    assert scan_media_metadata(b"not media") is None
    assert strip_media_metadata(b"") is None
    dirty = inject_jpeg_metadata(encode_jpeg(_px()), serial="S")
    s = dirty.find(b"Exif\x00\x00")
    broken = dirty[: s + 6] + b"ZZ" + dirty[s + 8 :]  # bad byte order
    assert scan_media_metadata(broken) is None
    # trailing data after EOI (concatenated second image smuggling
    # metadata past the scan) quarantines, as does a truncated image
    clean = encode_jpeg(_px(4))
    assert scan_media_metadata(clean + dirty) is None
    assert strip_media_metadata(clean + dirty) is None
    assert scan_media_metadata(clean[: len(clean) // 2]) is None
    # APP1 between a progressive image's scans IS seen and stripped
    from cqs_spark.operators.jpegcodec import encode_jpeg_progressive

    prog = encode_jpeg_progressive(_px(6))
    sos2 = prog.find(b"\xff\xda", prog.find(b"\xff\xda") + 2)
    app1 = dirty[2 : dirty.find(b"\xff\xdb")]
    mid = prog[:sos2] + app1 + prog[sos2:]
    got = scan_media_metadata(mid)
    assert got is not None and got["serial"]
    cleaned = strip_media_metadata(mid)
    assert _flags(scan_media_metadata(cleaned)) == CLEAN
    assert decode_pixels(cleaned) == decode_pixels(prog)
    trunc = encode_png(_px())[:20]
    assert scan_media_metadata(trunc) is None
    # crafted next-IFD cycle must quarantine, not spin the Arrow stage
    import struct

    tiff = (
        b"II*\x00" + struct.pack("<I", 8)
        + struct.pack("<H", 0) + struct.pack("<I", 8)  # IFD0.next -> IFD0
    )
    payload = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    base = encode_jpeg(_px())
    assert scan_media_metadata(base[:2] + app1 + base[2:]) is None
    # fuzz: random mutations never raise
    import random

    rnd = random.Random(99)
    seeds = [
        inject_jpeg_metadata(encode_jpeg(_px(1)), gps=(1, 2, 3), comment="x"),
        inject_png_metadata(encode_png(_px(2)), text=("Author", "y"), serial="z"),
    ]
    for _ in range(600):
        b = bytearray(rnd.choice(seeds))
        for _ in range(rnd.randrange(1, 6)):
            b[rnd.randrange(len(b))] = rnd.randrange(256)
        scan_media_metadata(bytes(b))
        strip_media_metadata(bytes(b))


def test_strip_properties_hypothesis():
    """Property contract of strip over generated media with arbitrary
    planted carriers: (1) the re-scan is clean, (2) strip is
    IDEMPOTENT (strip(strip(x)) == strip(x)), (3) the decoded signal
    is bit-identical (dHash-relevant pixels / PCM samples)."""
    from hypothesis import given, settings, strategies as st

    from cqs_spark.operators.mediameta import (
        inject_gif_comment,
        inject_wav_info,
    )
    from cqs_spark.operators.multimodal import decode_samples

    @st.composite
    def planted_media(draw):
        fmt = draw(st.sampled_from(["jpeg", "png", "pnm", "gif", "wav"]))
        seed = draw(st.integers(0, 10_000))
        if fmt == "wav":
            rnd_s = [((seed + t) * 2654435761 % 65536) - 32768 for t in range(300)]
            blob = encode_wav(rnd_s)
            if draw(st.booleans()):
                blob = inject_wav_info(
                    blob,
                    artist=draw(st.one_of(st.none(), st.text(min_size=1, max_size=20))),
                    comment=draw(st.one_of(st.none(), st.text(min_size=1, max_size=40))),
                )
            return fmt, blob
        px = _px(seed)
        if fmt == "jpeg":
            blob = encode_jpeg(px, quality=draw(st.sampled_from([75, 90, 100])))
            if draw(st.booleans()):
                blob = inject_jpeg_metadata(
                    blob,
                    gps=draw(st.one_of(st.none(), st.tuples(
                        st.integers(0, 89), st.integers(0, 59), st.integers(0, 59)))),
                    serial=draw(st.one_of(st.none(), st.text(min_size=1, max_size=16))),
                    artist=draw(st.one_of(st.none(), st.text(min_size=1, max_size=16))),
                    comment=draw(st.one_of(st.none(), st.text(min_size=1, max_size=30))),
                )
        elif fmt == "png":
            blob = encode_png(px)
            if draw(st.booleans()):
                blob = inject_png_metadata(
                    blob,
                    text=draw(st.one_of(st.none(), st.tuples(
                        st.sampled_from(["Author", "Comment", "Software"]),
                        st.text(max_size=30)))),
                    serial=draw(st.one_of(st.none(), st.text(min_size=1, max_size=12))),
                )
        elif fmt == "pnm":
            blob = encode_pnm(px)
            if draw(st.booleans()):
                blob = blob.replace(b"P5\n", b"P5\n# c%d\n" % seed, 1)
        else:
            blob = encode_gif([px])
            if draw(st.booleans()):
                blob = inject_gif_comment(blob, "c" * draw(st.integers(1, 600)))
        return fmt, blob

    @settings(max_examples=120, deadline=None)
    @given(planted_media())
    def prop(fmt_blob):
        fmt, blob = fmt_blob
        s1 = strip_media_metadata(blob)
        assert s1 is not None
        assert _flags(scan_media_metadata(s1)) == CLEAN
        assert strip_media_metadata(s1) == s1          # idempotent
        if fmt == "wav":
            assert decode_samples(s1) == decode_samples(blob)
        else:
            assert decode_pixels(s1) == decode_pixels(blob)

    prop()


def test_jpeg_xmp_scan_strip():
    """The r10 judge-reproduced blind spot: XMP APP1 carriers (what
    phones and Adobe tools write, often with NO EXIF) must flag."""
    from cqs_spark.operators.mediameta import inject_jpeg_xmp

    base = encode_jpeg(_px(7), quality=100)
    for kw, want in [
        (dict(gps=(51, 30, 26)), dict(CLEAN, gps=True)),
        (dict(serial="SN00123"), dict(CLEAN, serial=True)),
        (dict(creator="alice"), dict(CLEAN, author=True)),
        (
            dict(gps=(1, 2, 3), creator="bob", serial="X9"),
            dict(gps=True, serial=True, author=True, text=False),
        ),
    ]:
        dirty = inject_jpeg_xmp(base, **kw)
        got = scan_media_metadata(dirty)
        assert got is not None and _flags(got) == want, kw
        assert not got["unscanned"]
        clean = strip_media_metadata(dirty)
        rescan = scan_media_metadata(clean)
        assert _flags(rescan) == CLEAN and not rescan["unscanned"]
        assert decode_jpeg_luma(clean) == decode_jpeg_luma(base)


def test_png_xmp_scan_strip():
    """XMP packets ride PNG text chunks too (Adobe writes iTXt
    keyword XML:com.adobe.xmp): GPS/creator/serial there must flag as
    PII, not just as a text side-channel — and an undecompressable
    zTXt/iTXt payload quarantines (unreadable metadata is not
    certifiable), in BOTH scan and strip."""
    import struct as _s
    import zlib

    from cqs_spark.operators.mediameta import inject_png_xmp

    base = encode_png(_px(6))
    for compress in (False, True):
        for kw, want in [
            (dict(gps=(51, 30, 26)), dict(CLEAN, gps=True, text=True)),
            (dict(creator="ann"), dict(CLEAN, author=True, text=True)),
            (dict(serial="Z1"), dict(CLEAN, serial=True, text=True)),
        ]:
            dirty = inject_png_xmp(base, compress=compress, **kw)
            got = scan_media_metadata(dirty)
            assert got is not None and _flags(got) == want, (compress, kw)
            clean = strip_media_metadata(dirty)
            assert _flags(scan_media_metadata(clean)) == CLEAN
            assert decode_pixels(clean) == decode_pixels(base)
    bad_body = b"Comment\x00\x00" + b"\xff\xfe NOT ZLIB"
    chunk = (
        _s.pack(">I", len(bad_body)) + b"zTXt" + bad_body
        + _s.pack(">I", zlib.crc32(b"zTXt" + bad_body) & 0xFFFFFFFF)
    )
    bad = base[:33] + chunk + base[33:]
    assert scan_media_metadata(bad) is None
    assert strip_media_metadata(bad) is None


def test_jpeg_iptc_scan_strip():
    from cqs_spark.operators.mediameta import inject_jpeg_iptc

    base = encode_jpeg(_px(8), quality=100)
    for kw, want in [
        (dict(byline="carol"), dict(CLEAN, author=True)),
        (dict(caption="a view"), dict(CLEAN, text=True)),
        (dict(copyright_="(c) dan"), dict(CLEAN, author=True)),
        (
            dict(byline="e", caption="f", copyright_="g"),
            dict(CLEAN, author=True, text=True),
        ),
    ]:
        dirty = inject_jpeg_iptc(base, **kw)
        got = scan_media_metadata(dirty)
        assert got is not None and _flags(got) == want, kw
        clean = strip_media_metadata(dirty)
        assert _flags(scan_media_metadata(clean)) == CLEAN
        assert decode_jpeg_luma(clean) == decode_jpeg_luma(base)
    # malformed 8BIM structure quarantines (unreadable != clean)
    dirty = inject_jpeg_iptc(base, byline="x")
    s = dirty.find(b"8BIM")
    assert scan_media_metadata(dirty[:s] + b"ZBIM" + dirty[s + 4 :]) is None


def test_unknown_appn_flags_unscanned():
    """A carrier the scan cannot read is NOT certifiable clean: it
    sets has_unscanned_meta (→ the audit's pii_unscannable row), and
    strip removes it."""
    from cqs_spark.operators.mediameta import inject_jpeg_opaque_appn

    base = encode_jpeg(_px(9))
    for n in (1, 9, 13, 15):  # unknown-signature APP1/APP9/APP13/APP15
        dirty = inject_jpeg_opaque_appn(base, n, b"\x00\x01binary junk")
        got = scan_media_metadata(dirty)
        assert got is not None and got["unscanned"], n
        assert _flags(got) == CLEAN  # unread, so no PII *claims*
        assert got["meta_bytes"] > 0
        clean = strip_media_metadata(dirty)
        rescan = scan_media_metadata(clean)
        assert not rescan["unscanned"] and _flags(rescan) == CLEAN
        assert decode_jpeg_luma(clean) == decode_jpeg_luma(base)
    # unsigned APP2 (not ICC) is an unknown carrier too
    import struct as _s

    u2 = base[:2] + b"\xff\xe2" + _s.pack(">H", 8) + b"FPXR\x00\x01" + base[2:]
    assert scan_media_metadata(u2)["unscanned"]
    assert not scan_media_metadata(strip_media_metadata(u2))["unscanned"]


def test_benign_color_segments_kept():
    """ICC-signed APP2 and Adobe-signed APP14 are color-interpretation
    data, not metadata: no flags, and strip PRESERVES them (external
    decoders need APP14 to pick the right color transform)."""
    import struct as _s

    base = encode_jpeg(_px(10))
    adobe = b"Adobe\x00d\x00\x00\x00\x00\x00\x00"
    icc = b"ICC_PROFILE\x00\x01\x01" + bytes(16)
    dirty = (
        base[:2]
        + b"\xff\xe2" + _s.pack(">H", len(icc) + 2) + icc
        + b"\xff\xee" + _s.pack(">H", len(adobe) + 2) + adobe
        + base[2:]
    )
    got = scan_media_metadata(dirty)
    assert _flags(got) == CLEAN and not got["unscanned"]
    assert got["meta_bytes"] == 0
    stripped = strip_media_metadata(dirty)
    assert b"Adobe" in stripped and b"ICC_PROFILE" in stripped
    assert decode_jpeg_luma(stripped) == decode_jpeg_luma(base)


def test_trailing_data_quarantines_all_containers():
    """Same rule as the JPEG EOI walk for every container: bytes after
    the terminator (a concatenated second container smuggling
    metadata) or a missing terminator (truncation) quarantine."""
    from cqs_spark.operators.mediameta import inject_gif_comment

    p = encode_png(_px(11))
    g = encode_gif([_px(12)])
    w = encode_wav([250, -250] * 80)
    dirty_p = inject_png_metadata(encode_png(_px(1)), text=("Author", "x"))
    dirty_g = inject_gif_comment(encode_gif([_px(2)]), "smuggled")
    import struct as _s

    dirty_w = bytearray(encode_wav([1, -1] * 50))
    info = b"INFO" + b"IART" + _s.pack("<I", 4) + b"eve\x00"
    dirty_w += b"LIST" + _s.pack("<I", len(info)) + info
    _s.pack_into("<I", dirty_w, 4, len(dirty_w) - 8)
    # concatenated second container after the clean one
    assert scan_media_metadata(p + dirty_p) is None
    assert strip_media_metadata(p + dirty_p) is None
    assert scan_media_metadata(g + dirty_g) is None
    assert strip_media_metadata(g + dirty_g) is None
    assert scan_media_metadata(w + bytes(dirty_w)) is None
    assert strip_media_metadata(w + bytes(dirty_w)) is None
    # truncation: IEND / 0x3B trailer never seen
    assert scan_media_metadata(p[:-13]) is None
    assert scan_media_metadata(g[:-1]) is None
    # plain trailing junk
    for blob in (p, g, w):
        assert scan_media_metadata(blob + b"xx") is None


def test_pnm_plain_raster_comments():
    """P2/P3 permit '#' comments anywhere whitespace is allowed —
    including inside the ASCII raster; the scan must see them, strip
    must remove them, and meta_bytes counts the full span."""
    planted = b"P2\n4 4\n255\n1 2 3 4\n# gps 51.5 -0.1\n" + b"5 " * 12
    got = scan_media_metadata(planted)
    assert got["fmt"] == "pnm" and got["text"]
    assert got["meta_bytes"] == len(b"# gps 51.5 -0.1")
    clean = strip_media_metadata(planted)
    assert b"gps" not in clean
    assert not scan_media_metadata(clean)["text"]
    # binary P5: a 0x23 ('#') raster byte stays untouched
    b5 = b"P5\n4 4\n255\n" + bytes([0x23] * 16)
    got = scan_media_metadata(b5)
    assert not got["text"]
    assert strip_media_metadata(b5) == b5


def test_mp4_container_scan_strip():
    """ISO-BMFF: box-walk dims/duration, udta/©xyz GPS and ilst
    author/comment flags; strip removes carriers and preserves the
    container structure and mdat bytes."""
    from cqs_spark.operators.mediameta import build_mp4, scan_mp4_info

    clean = build_mp4(640, 360, 12345, payload=b"PAYLOAD0")
    r = scan_mp4_info(clean)
    assert r["width"] == 640 and r["height"] == 360
    assert r["duration_ms"] == 12345 and r["meta_bytes"] == 0
    assert _flags(scan_media_metadata(clean)) == CLEAN

    for kw, want in [
        (dict(gps=(51.5074, -0.1278)), dict(CLEAN, gps=True)),
        (dict(artist="alice"), dict(CLEAN, author=True)),
        (dict(comment="clip note"), dict(CLEAN, text=True)),
        (
            dict(gps=(1.0, 2.0), artist="bob", comment="x"),
            dict(gps=True, serial=False, author=True, text=True),
        ),
    ]:
        dirty = build_mp4(1280, 720, 5000, payload=b"OPAQUE", **kw)
        got = scan_media_metadata(dirty)
        assert got is not None and got["fmt"] == "mp4"
        assert _flags(got) == want, kw
        assert got["meta_bytes"] > 0
        stripped = strip_media_metadata(dirty)
        rs = scan_mp4_info(stripped)
        assert _flags(scan_media_metadata(stripped)) == CLEAN
        # structure preserved: dims/duration/mdat survive the strip
        assert (rs["width"], rs["height"], rs["duration_ms"]) == (
            1280, 720, 5000,
        )
        assert stripped.endswith(b"OPAQUE")
        assert strip_media_metadata(stripped) == stripped  # idempotent

    # XMP carriers: Adobe's top-level uuid box and udta/XMP_ — GPS/
    # creator/serial there must flag exactly like ©xyz/ilst, and strip
    # must remove them while preserving structure
    from cqs_spark.operators.mediameta import _MP4_XMP_UUID, _mp4_box

    for where in ("uuid", "udta"):
        x = build_mp4(640, 360, 9000, xmp={"gps": (12, 34, 56)}, xmp_in=where)
        got = scan_media_metadata(x)
        assert got["gps"] and not got["unscanned"], where
        rs = scan_mp4_info(strip_media_metadata(x))
        assert not rs["gps"] and rs["width"] == 640, where
        assert scan_media_metadata(
            build_mp4(1, 1, 1, xmp={"creator": "a"}, xmp_in=where)
        )["author"]
        assert scan_media_metadata(
            build_mp4(1, 1, 1, xmp={"serial": "s"}, xmp_in=where)
        )["serial"]
    # an unknown-GUID top-level uuid box: seen but unread -> unscanned
    base = build_mp4(160, 120, 500)
    unk = base[:20] + _mp4_box(b"uuid", b"\x01" * 16 + b"??") + base[20:]
    assert scan_media_metadata(unk)["unscanned"]
    assert not scan_media_metadata(strip_media_metadata(unk))["unscanned"]

    # quarantine: trailing bytes, truncation, missing moov
    g = build_mp4(320, 240, 900, gps=(9.0, 9.0))
    assert scan_media_metadata(g + b"x") is None
    assert scan_media_metadata(g[:-5]) is None
    assert strip_media_metadata(g + b"xx") is None
    no_moov = g[:20] + g[-22:]  # ftyp + mdat only
    assert scan_media_metadata(no_moov) is None


def test_mp3_id3_scan_strip():
    """MP3: ID3v2 frames / ID3v1 trailer flag PII; APIC album art is
    a NESTED carrier (an XMP-GPS image inside a 'clean' MP3 must flag
    gps via the recursive media scan); the audio region must tile as
    a Layer-III frame lattice (trailing bytes / truncation / a mid-
    file tag quarantine); strip ships the frames byte-identical."""
    from cqs_spark.operators.mediameta import build_mp3, inject_png_xmp

    clean = build_mp3(4, seed=7)
    r = scan_media_metadata(clean)
    assert r["fmt"] == "mp3" and _flags(r) == CLEAN and r["meta_bytes"] == 0
    assert strip_media_metadata(clean) == clean

    cases = [
        (dict(artist="alice"), dict(CLEAN, author=True)),
        (dict(comment="note"), dict(CLEAN, text=True)),
        (dict(id3v1_artist="bob"), dict(CLEAN, author=True)),
        (
            dict(apic=inject_png_xmp(encode_png(_px(3)), gps=(1, 2, 3))),
            dict(CLEAN, gps=True, text=True),
        ),
        (
            dict(apic=inject_jpeg_metadata(encode_jpeg(_px(4)), gps=(4, 5, 6))),
            dict(CLEAN, gps=True),
        ),
    ]
    for kw, want in cases:
        dirty = build_mp3(3, seed=1, **kw)
        got = scan_media_metadata(dirty)
        assert got is not None and _flags(got) == want, kw
        assert got["meta_bytes"] > 0
        stripped = strip_media_metadata(dirty)
        rs = scan_media_metadata(stripped)
        assert _flags(rs) == CLEAN and not rs["unscanned"]
        assert stripped == build_mp3(3, seed=1)  # frames byte-identical
    # garbage album art: seen but uncertifiable -> unscanned
    got = scan_media_metadata(build_mp3(3, apic=b"not an image"))
    assert got["unscanned"] and _flags(got) == CLEAN
    # quarantines: trailing junk, truncated frame, non-trailer TAG,
    # concatenated second MP3 (its ID3 header breaks the lattice)
    assert scan_media_metadata(clean + b"x") is None
    assert scan_media_metadata(clean[:-5]) is None
    assert scan_media_metadata(clean + b"TAG" + bytes(10)) is None
    smuggled = build_mp3(2) + build_mp3(2, artist="smuggle")
    assert scan_media_metadata(smuggled) is None
    assert strip_media_metadata(smuggled) is None


def test_tiff_scan_strip_surgery():
    """Standalone TIFF: flags via the shared IFD walk; strip is
    in-place surgery — length preserved, pixels byte-identical, dims
    intact, and NO residual PII bytes anywhere in the file (zeroed
    values + zeroed GPS sub-IFD, not just unreferenced)."""
    import struct as _s

    from cqs_spark.operators.mediameta import build_tiff, scan_tiff_info

    clean = build_tiff(640, 480, pixels=b"\x7f" * 64)
    r = scan_tiff_info(clean)
    assert (r["width"], r["height"], r["meta_bytes"]) == (640, 480, 0)
    assert strip_media_metadata(clean) == clean

    for kw, flag in [
        (dict(gps=(51, 30, 26)), "gps"),
        (dict(serial="SN123"), "serial"),
        (dict(artist="alice"), "author"),
    ]:
        dirty = build_tiff(320, 200, pixels=b"\xaa" * 32, **kw)
        got = scan_media_metadata(dirty)
        assert got["fmt"] == "tiff" and got[flag], kw
        s = strip_media_metadata(dirty)
        rs = scan_tiff_info(s)
        assert _flags(scan_media_metadata(s)) == CLEAN
        assert (rs["width"], rs["height"]) == (320, 200)
        assert len(s) == len(dirty) and s.endswith(b"\xaa" * 32)
        assert b"alice" not in s and b"SN123" not in s
        assert strip_media_metadata(s) == s  # idempotent
    # GPS rationals do not survive as unreferenced bytes
    s = strip_media_metadata(build_tiff(16, 16, gps=(51, 30, 26)))
    assert _s.pack("<II", 51, 1) not in s
    # malformed quarantines: bad magic body, IFD cycle
    assert scan_media_metadata(b"II*\x00" + b"\xff" * 4) is None
    cyc = bytearray(build_tiff(8, 8))
    _s.pack_into("<I", cyc, 4, 8)  # IFD0 at 8...
    n = _s.unpack_from("<H", cyc, 8)[0]
    _s.pack_into("<I", cyc, 8 + 2 + 12 * n, 8)  # next-IFD -> IFD0
    assert scan_media_metadata(bytes(cyc)) is None
    assert strip_media_metadata(bytes(cyc)) is None


def test_webp_scan_strip():
    """WebP: EXIF chunks feed the shared IFD parser, XMP chunks the
    shared property scan, VP8X carries dims + feature bits; strip
    drops the carriers, clears the E/X bits, and ships the pixel
    chunk byte-identical (md5 equals a clean build of the same
    dims/payload); trailing data and malformed EXIF quarantine."""
    import struct as _s

    from cqs_spark.operators.mediameta import (
        _build_exif,
        _xmp_packet,
        build_webp,
        scan_webp_info,
    )

    clean = build_webp(800, 600, payload=b"\x55" * 20)
    r = scan_webp_info(clean)
    assert (r["width"], r["height"], r["meta_bytes"]) == (800, 600, 0)
    assert scan_media_metadata(clean)["fmt"] == "webp"
    assert strip_media_metadata(clean) == clean

    for kw, flag in [
        (dict(exif=_build_exif(gps=(51, 30, 26))), "gps"),
        (dict(exif=b"Exif\x00\x00" + _build_exif(artist="al")), "author"),
        (dict(xmp=_xmp_packet(gps=(1, 2, 3))), "gps"),
        (dict(xmp=_xmp_packet(creator="bo")), "author"),
        (dict(exif=_build_exif(serial="S1")), "serial"),
    ]:
        dirty = build_webp(320, 240, payload=b"\x55" * 20, **kw)
        got = scan_media_metadata(dirty)
        assert got["fmt"] == "webp" and got[flag], kw
        s = strip_media_metadata(dirty)
        assert s == build_webp(320, 240, payload=b"\x55" * 20)
        assert _flags(scan_media_metadata(s)) == CLEAN
    # unknown fourcc: seen but unread -> unscanned, dropped by strip
    unk = b"ABCD" + _s.pack("<I", 5) + b"junk!" + b"\x00"
    u = bytearray(clean[:12] + unk + clean[12:])
    _s.pack_into("<I", u, 4, len(u) - 8)
    assert scan_media_metadata(bytes(u))["unscanned"]
    assert not scan_media_metadata(strip_media_metadata(bytes(u)))[
        "unscanned"
    ]
    # quarantines
    assert scan_media_metadata(clean + b"zz") is None
    assert strip_media_metadata(clean + b"zz") is None
    assert scan_media_metadata(build_webp(10, 10, exif=b"ZZZZZZZZ")) is None


def test_r11_review_hardening():
    """Regression pins for the r11 self-review findings: unread MP4
    carriers must flag (never silently certify), russian-doll MP3
    nesting quarantines instead of exhausting the stack, a crafted
    ID3v2 extended header cannot skip the frame region, strip never
    chops audio on a mid-frame 'TAG', ID3v1 album flags text, zlib
    bombs in PNG text chunks quarantine, and a PII needle straddling
    extended-XMP chunk boundaries still flags."""
    import struct as _s
    import zlib

    from cqs_spark.operators.mediameta import (
        _MP4_XMP_UUID,
        _XMP_EXT_SIG,
        _mp4_box,
        _xmp_packet,
        build_mp3,
        build_mp4,
    )

    # MP4: top-level meta/ilst, moov-level uuid-XMP, unknown top box
    clean = build_mp4(640, 360, 1000)
    ilst = _mp4_box(
        b"ilst",
        _mp4_box(b"\xa9ART", _mp4_box(b"data", _s.pack(">II", 1, 0) + b"x")),
    )
    hdlr = _mp4_box(b"hdlr", _s.pack(">B3x I", 0, 0) + b"mdir" + bytes(12))
    top_meta = _mp4_box(b"meta", _s.pack(">B3x", 0) + hdlr + ilst)
    b = clean[:20] + top_meta + clean[20:]
    assert scan_media_metadata(b)["author"]
    assert not scan_media_metadata(strip_media_metadata(b))["author"]
    ms = clean.index(b"moov") - 4
    msz = _s.unpack_from(">I", clean, ms)[0]
    ub = _mp4_box(b"uuid", _MP4_XMP_UUID + _xmp_packet(gps=(1, 2, 3)))
    b2 = (
        clean[:ms] + _s.pack(">I", msz + len(ub)) + b"moov"
        + clean[ms + 8 : ms + msz] + ub + clean[ms + msz :]
    )
    assert scan_media_metadata(b2)["gps"]
    assert not scan_media_metadata(strip_media_metadata(b2))["gps"]
    unk = clean[:20] + _mp4_box(b"abcd", b"junk") + clean[20:]
    assert scan_media_metadata(unk)["unscanned"]
    assert not scan_media_metadata(strip_media_metadata(unk))["unscanned"]
    # HEIF-style meta: EXIF lives as an iinf/iloc ITEM this walk does
    # not read — must flag unscanned (never certify unread metadata),
    # and strip drops the whole meta box
    iinf = _mp4_box(b"iinf", _s.pack(">B3x H", 0, 1))
    iloc = _mp4_box(b"iloc", bytes(8))
    heif_meta = _mp4_box(
        b"meta", _s.pack(">B3x", 0) + hdlr + iinf + iloc
    )
    hb = clean[:20] + heif_meta + clean[20:]
    assert scan_media_metadata(hb)["unscanned"]
    assert not scan_media_metadata(strip_media_metadata(hb))["unscanned"]

    # MP3 russian-doll nesting: bounded, quarantines or flags unscanned
    inner = build_mp3(2)
    for _ in range(12):
        inner = build_mp3(2, apic=inner)
    r = scan_media_metadata(inner)
    assert r is None or r["unscanned"]

    # crafted ID3v2 extended header cannot skip the frame region
    m = bytearray(build_mp3(3, artist="a"))
    m[5] |= 0x40
    assert scan_media_metadata(bytes(m)) is None

    # 'TAG' inside the final frame payload is audio, not a trailer
    base = build_mp3(3, seed=2)
    mb = bytearray(base)
    mb[len(mb) - 128 : len(mb) - 125] = b"TAG"
    blob = bytes(mb)
    assert scan_media_metadata(blob)["fmt"] == "mp3"
    assert strip_media_metadata(blob) == blob

    # ID3v1 album-only flags text (parity with the TALB frame)
    v1 = (
        b"TAG" + bytes(60) + b"AlbumName".ljust(30, b"\x00")
        + bytes(4 + 30 + 1)
    )
    r = scan_media_metadata(build_mp3(2) + v1)
    assert r["text"] and not r["author"]

    # zlib bomb in a PNG text chunk quarantines, never OOMs
    bomb = zlib.compress(b"\x00" * (64 << 20))
    body = b"Comment\x00\x00" + bomb
    chunk = (
        _s.pack(">I", len(body)) + b"zTXt" + body
        + _s.pack(">I", zlib.crc32(b"zTXt" + body) & 0xFFFFFFFF)
    )
    p = encode_png(_px(2))
    assert scan_media_metadata(p[:33] + chunk + p[33:]) is None

    # extended-XMP needle straddling two APP1 chunks still flags
    j = encode_jpeg(_px(1))
    packet = _xmp_packet(gps=(12, 34, 56))
    split = packet.index(b"exif:GPSLatitude") + 8

    def ext_seg(chunk_bytes, off):
        payload = (
            _XMP_EXT_SIG + b"0" * 32
            + _s.pack(">II", len(packet), off) + chunk_bytes
        )
        return b"\xff\xe1" + _s.pack(">H", len(payload) + 2) + payload

    dirty = (
        j[:2] + ext_seg(packet[:split], 0)
        + ext_seg(packet[split:], split) + j[2:]
    )
    assert scan_media_metadata(dirty)["gps"]


def test_media_audit_pii_leg(spark):
    from cqs_spark.operators.multimodal import media_audit

    from cqs_spark.operators.mediameta import inject_jpeg_opaque_appn

    rows = [
        (1, bytearray(inject_jpeg_metadata(encode_jpeg(_px(1)), gps=(1, 2, 3)))),
        (2, bytearray(encode_png(_px(2)))),
        (3, bytearray(encode_pnm(_px(3)))),
        (4, bytearray(b"garbage")),
        # unreadable carrier: not PII, but NOT certifiable either
        (5, bytearray(inject_jpeg_opaque_appn(encode_jpeg(_px(5)), 9, b"??"))),
    ]
    media = spark.createDataFrame(rows, "media_id long, data binary")
    rep = {r["check"]: r for r in media_audit(media).collect()}
    assert rep["pii"]["n"] == 1 and rep["pii"]["ok"] is False
    # garbage + the unscanned-carrier blob: neither CERTIFIABLE clean
    assert rep["pii_unscannable"]["n"] == 2
    assert rep["pii_unscannable"]["ok"] is False
    clean = spark.createDataFrame(rows[1:3], "media_id long, data binary")
    rep = {r["check"]: r for r in media_audit(clean).collect()}
    assert rep["pii"]["n"] == 0 and rep["pii"]["ok"] is True
    assert rep["pii_unscannable"]["n"] == 0
    assert rep["pii_unscannable"]["ok"] is True


def test_write_media_shards_strips_and_certifies(spark, tmp_path):
    from cqs_spark.operators.mediameta import media_metadata_scan
    from cqs_spark.operators.shards import write_media_shards

    rows = [
        (i, bytearray(inject_jpeg_metadata(encode_jpeg(_px(i)), serial=f"SN{i}")))
        if i % 3 == 0
        else (i, bytearray(encode_png(_px(i))))
        for i in range(1, 41)
    ] + [(99, bytearray(b"unparseable"))]
    media = spark.createDataFrame(rows, "media_id long, data binary")
    out = str(tmp_path / "media_release")
    manifest = write_media_shards(media, out, n_shards=4).collect()
    assert len(manifest) == 4
    assert all(r["pii_clean"] for r in manifest)
    assert sum(r["n_items"] for r in manifest) == 40  # unparseable dropped
    shipped = spark.read.parquet(out + "/data")
    assert shipped.count() == 40
    scans = media_metadata_scan(shipped).collect()
    assert all(r["has_pii"] is False for r in scans)
    # pixels survived the strip
    jpeg_row = shipped.filter("media_id = 3").collect()[0]
    assert decode_jpeg_luma(bytes(jpeg_row["data"])) == decode_jpeg_luma(
        encode_jpeg(_px(3))
    )


# ---------------------------------------------------------------------------
# r12: the legacy-container unscanned-carrier retrofit (GIF app/plain-
# text extensions, WAV bext/iXML/ID3/padding, PNG private chunks, MP4
# free/skip + stco remap) — judge-reproduced r11 leaks, each pinned.
# ---------------------------------------------------------------------------


def test_gif_xmp_app_extension_flags_and_strips():
    from cqs_spark.operators.mediameta import inject_gif_xmp
    from cqs_spark.operators.multimodal import decode_frames

    base = encode_gif([_px(4)])
    dirty = inject_gif_xmp(base, gps=(40, 42, 46))
    got = scan_media_metadata(dirty)
    assert got["gps"] is True and got["unscanned"] is False
    stripped = strip_media_metadata(dirty)
    assert _flags(scan_media_metadata(stripped)) == CLEAN
    # pixels identical through the planted extension AND the strip
    assert decode_frames(dirty) == decode_frames(base)
    assert decode_frames(stripped) == decode_frames(base)


def test_gif_plaintext_and_unknown_appext():
    from cqs_spark.operators.mediameta import (
        inject_gif_appext,
        inject_gif_plaintext,
    )

    base = encode_gif([_px(5)])
    pt = inject_gif_plaintext(base, "rendered watermark")
    got = scan_media_metadata(pt)
    assert got["text"] is True and got["unscanned"] is False
    assert _flags(scan_media_metadata(strip_media_metadata(pt))) == CLEAN

    unk = inject_gif_appext(base, b"MYVENDOR1.0", b"lat=1.5,lon=2.5")
    got = scan_media_metadata(unk)
    assert got["unscanned"] is True
    stripped = strip_media_metadata(unk)
    assert b"lat=1.5" not in stripped
    assert scan_media_metadata(stripped)["unscanned"] is False


def test_gif_netscape_loop_extension_benign():
    from cqs_spark.operators.mediameta import inject_gif_appext

    base = encode_gif([_px(6)])
    loop = inject_gif_appext(base, b"NETSCAPE2.0", b"\x01\x00\x00")
    got = scan_media_metadata(loop)
    assert got["unscanned"] is False and got["meta_bytes"] == 0
    # strip KEEPS the loop-count control (structural, not metadata)
    assert b"NETSCAPE2.0" in strip_media_metadata(loop)


def test_wav_bext_umid_and_id3_chunks():
    from cqs_spark.operators.mediameta import (
        build_id3v2,
        build_wav_bext,
        inject_wav_chunk,
    )

    base = encode_wav([100, -100] * 64)
    bx = inject_wav_chunk(
        base, b"bext", build_wav_bext(description="take 7", originator="Jane Op")
    )
    got = scan_media_metadata(bx)
    assert got["author"] is True and got["text"] is True
    assert _flags(scan_media_metadata(strip_media_metadata(bx))) == CLEAN

    um = inject_wav_chunk(base, b"bext", build_wav_bext(umid=b"\x06\x0a+4"))
    assert scan_media_metadata(um)["serial"] is True

    id3 = inject_wav_chunk(base, b"ID3 ", build_id3v2(artist="MC Fixture"))
    got = scan_media_metadata(id3)
    assert got["author"] is True and got["unscanned"] is False
    stripped = strip_media_metadata(id3)
    assert b"MC Fixture" not in stripped
    assert _flags(scan_media_metadata(stripped)) == CLEAN
    # signal bytes byte-identical after the strip
    assert decode_samples(stripped) == decode_samples(base)


def test_wav_ixml_and_padding_unscanned_rule():
    from cqs_spark.operators.mediameta import inject_wav_chunk

    base = encode_wav([7, -7] * 32)
    ix = inject_wav_chunk(base, b"iXML", b"<BWFXML><NOTE>names</NOTE></BWFXML>")
    got = scan_media_metadata(ix)
    assert got["unscanned"] is True
    stripped = strip_media_metadata(ix)
    assert b"BWFXML" not in stripped
    assert scan_media_metadata(stripped)["unscanned"] is False

    clean_junk = inject_wav_chunk(base, b"JUNK", b"\x00" * 64)
    assert scan_media_metadata(clean_junk)["unscanned"] is False
    dirty_junk = inject_wav_chunk(base, b"JUNK", b"\x00gps 1,2\x00")
    assert scan_media_metadata(dirty_junk)["unscanned"] is True
    assert b"gps 1,2" not in strip_media_metadata(dirty_junk)


def test_png_private_chunk_unscanned_and_dropped():
    from cqs_spark.operators.mediameta import inject_png_chunk

    base = encode_png(_px(7))
    dirty = inject_png_chunk(base, b"prVt", b"lat=1.5 lon=2.5 user=jane")
    got = scan_media_metadata(dirty)
    assert got["unscanned"] is True
    stripped = strip_media_metadata(dirty)
    assert b"user=jane" not in stripped
    assert scan_media_metadata(stripped)["unscanned"] is False
    assert decode_pixels(stripped) == decode_pixels(base)
    # tIME is a timestamp side-channel: flagged as text, dropped
    timed = inject_png_chunk(base, b"tIME", bytes(7))
    assert scan_media_metadata(timed)["text"] is True
    assert _flags(scan_media_metadata(strip_media_metadata(timed))) == CLEAN
    # the known-benign ancillary whitelist stays certifiable
    phys = inject_png_chunk(base, b"pHYs", bytes(9))
    got = scan_media_metadata(phys)
    assert got["unscanned"] is False and _flags(got) == CLEAN
    assert b"pHYs" in strip_media_metadata(phys)


def test_mp4_free_box_smuggling_and_wide_rule():
    import struct

    from cqs_spark.operators.mediameta import build_mp4, scan_mp4_info

    dirty = build_mp4(64, 48, 2000, free=b"gps 40.7,-74.0 hidden")
    assert scan_mp4_info(dirty)["unscanned"] is True
    stripped = strip_media_metadata(dirty)
    assert b"hidden" not in stripped
    assert scan_mp4_info(stripped)["unscanned"] is False

    clean_pad = build_mp4(64, 48, 2000, free=b"\x00" * 32)
    assert scan_mp4_info(clean_pad)["unscanned"] is False
    # wide must be exactly its 8-byte header
    bad_wide = build_mp4(64, 48, 2000)
    bad_wide += struct.pack(">I", 12) + b"wide" + b"\x00" * 4
    assert scan_mp4_info(bad_wide) is None


def test_mp4_udta_nested_meta_with_unread_child_flags():
    import struct

    from cqs_spark.operators.mediameta import (
        _mp4_box,
        _mp4_boxes,
        build_mp4,
        scan_mp4_info,
    )

    xmp = b'<x:xmpmeta>ns1:GPSLatitude="1,2.3N"</x:xmpmeta>'
    xmlbox = _mp4_box(b"xml ", struct.pack(">B3x", 0) + xmp)
    meta = _mp4_box(b"meta", struct.pack(">B3x", 0) + xmlbox)
    udta = _mp4_box(b"udta", meta)
    plain = build_mp4(64, 48, 2000)
    out = bytearray()
    for t, s0, e0, p0 in _mp4_boxes(plain, 0, len(plain)):
        if t == b"moov":
            body = plain[p0:e0] + udta
            out += struct.pack(">I", len(body) + 8) + b"moov" + body
        else:
            out += plain[s0:e0]
    got = scan_mp4_info(bytes(out))
    # ADVICE r11 (high): this scanned fully clean before the fix
    assert got is not None and got["unscanned"] is True
    stripped = strip_media_metadata(bytes(out))
    assert b"GPSLatitude" not in stripped


def test_mp4_strip_remaps_stco_chunk_offsets():
    import struct

    from cqs_spark.operators.mediameta import build_mp4, scan_mp4_info

    def stco_entries(b):
        from cqs_spark.operators.mediameta import _mp4_boxes

        def walk(lo, hi):
            for t, s, e, p in _mp4_boxes(b, lo, hi):
                if t in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                    yield from walk(p, e)
                elif t == b"stco":
                    n = struct.unpack_from(">I", b, p + 4)[0]
                    for k in range(n):
                        yield struct.unpack_from(">I", b, p + 8 + 4 * k)[0]

        yield from walk(0, len(b))

    payload = bytes(range(4, 100))
    dirty = build_mp4(
        64, 48, 2000, gps=(40.7, -74.0), payload=payload,
        chunk_offsets=[0, 16, 48],
    )
    assert scan_mp4_info(dirty)["gps"] is True
    stripped = strip_media_metadata(dirty)
    assert scan_mp4_info(stripped)["gps"] is False
    old, new = list(stco_entries(dirty)), list(stco_entries(stripped))
    # ADVICE r11 (medium): moov shrank, mdat shifted — every chunk
    # offset must still point at the SAME media bytes
    assert old != new and len(new) == 3
    assert all(dirty[o : o + 8] == stripped[n : n + 8] for o, n in zip(old, new))


def test_xmp_prefix_agnostic_needles():
    from cqs_spark.operators.mediameta import inject_jpeg_opaque_appn

    base = encode_jpeg(_px(9), quality=100)
    # a writer declaring its own prefix for the exif namespace evaded
    # the r11 literal needles (judge-flagged)
    evasive = (
        b"http://ns.adobe.com/xap/1.0/\x00"
        b'<x:xmpmeta xmlns:e="http://ns.adobe.com/exif/1.0/">'
        b'<rdf:Description e:GPSLatitude="40,42.46N" '
        b'e:GPSLongitude="74,0.21W"/></x:xmpmeta>'
    )
    import struct

    seg = b"\xff\xe1" + struct.pack(">H", len(evasive) + 2) + evasive
    blob = base[:2] + seg + base[2:]
    got = scan_media_metadata(blob)
    assert got["gps"] is True
    # renamed-prefix serial + creator
    evasive2 = (
        b"http://ns.adobe.com/xap/1.0/\x00"
        b'<m xmlns:a="http://ns.adobe.com/exif/1.0/aux/">'
        b'<rdf:Description a:SerialNumber="XX99"/>'
        b"<n1:creator><rdf:li>jane</rdf:li></n1:creator></m>"
    )
    seg2 = b"\xff\xe1" + struct.pack(">H", len(evasive2) + 2) + evasive2
    got2 = scan_media_metadata(base[:2] + seg2 + base[2:])
    assert got2["serial"] is True and got2["author"] is True


# ---------------------------------------------------------------------------
# r12: HEIF/HEIC item walk (iinf/iloc/ipco) + in-place item scrub
# ---------------------------------------------------------------------------


def test_heif_exif_item_scan_and_scrub():
    from cqs_spark.operators.mediameta import build_heif, scan_heif_info

    blob = build_heif(640, 480, gps=(40, 42, 46), serial="SN77")
    got = scan_heif_info(blob)
    assert got["fmt"] == "heif" and (got["width"], got["height"]) == (640, 480)
    assert got["gps"] is True and got["serial"] is True
    assert got["unscanned"] is False
    stripped = strip_media_metadata(blob)
    # LENGTH-PRESERVING scrub: every iloc offset stays valid
    assert len(stripped) == len(blob)
    re = scan_heif_info(stripped)
    assert _flags(re) == CLEAN and re["unscanned"] is False
    assert (re["width"], re["height"]) == (640, 480)


def test_heif_xmp_mime_item():
    from cqs_spark.operators.mediameta import build_heif, scan_heif_info

    blob = build_heif(100, 80, xmp={"gps": (1, 2, 3)})
    got = scan_heif_info(blob)
    assert got["gps"] is True and got["unscanned"] is False
    stripped = strip_media_metadata(blob)
    assert _flags(scan_heif_info(stripped)) == CLEAN


def test_heif_unknown_item_unscanned_and_strip_quarantines():
    from cqs_spark.operators.mediameta import build_heif, scan_heif_info

    blob = build_heif(64, 48, extra_item=(b"vndr", b"opaque secret"))
    got = scan_heif_info(blob)
    assert got["unscanned"] is True
    # in-place scrub cannot DROP unread bytes → quarantine, never ship
    assert strip_media_metadata(blob) is None


def test_heif_pixel_item_untouched_by_scrub():
    import struct

    from cqs_spark.operators.mediameta import build_heif

    px = bytes(range(7, 47))
    blob = build_heif(320, 240, gps=(10, 20, 30), pixel_payload=px)
    stripped = strip_media_metadata(blob)

    def mdat_payload(b, n):
        i = 0
        while i < len(b):
            sz = struct.unpack_from(">I", b, i)[0]
            if b[i + 4 : i + 8] == b"mdat":
                return b[i + 8 : i + 8 + n]
            i += sz

    assert mdat_payload(stripped, len(px)) == px
    # and the scrubbed Exif extent parses as a clean empty TIFF
    assert b"SN" not in stripped


def test_heif_not_claimed_by_mp4_and_dispatch():
    from cqs_spark.operators.mediameta import (
        build_heif,
        build_mp4,
        scan_heif_info,
        scan_mp4_info,
    )

    heif = build_heif(64, 48)
    assert scan_mp4_info(heif) is None
    assert scan_media_metadata(heif)["fmt"] == "heif"
    mp4 = build_mp4(64, 48, 1000)
    assert scan_heif_info(mp4) is None
    assert scan_media_metadata(mp4)["fmt"] == "mp4"


def test_heif_iloc_v1_idat_relative_item():
    import struct

    from cqs_spark.operators.mediameta import (
        _build_exif,
        _mp4_box,
        scan_heif_info,
    )

    # hand-muxed HEIF with an iloc v1 Exif item stored idat-relative
    # (construction_method 1) — the second storage layout real HEICs
    # use; build_heif only emits v0/file-absolute
    exif = b"\x00\x00\x00\x00" + _build_exif(gps=(12, 34, 56))
    px = bytes(range(16))
    hdlr = _mp4_box(b"hdlr", bytes(8) + b"pict" + bytes(12) + b"\x00")
    pitm = _mp4_box(b"pitm", bytes(4) + struct.pack(">H", 1))

    def infe(iid, typ):
        return _mp4_box(
            b"infe",
            bytes([2, 0, 0, 0]) + struct.pack(">HH", iid, 0) + typ + b"\x00",
        )

    iinf = _mp4_box(
        b"iinf",
        bytes(4) + struct.pack(">H", 2) + infe(1, b"hvc1") + infe(2, b"Exif"),
    )
    ispe = _mp4_box(b"ispe", bytes(4) + struct.pack(">II", 320, 240))
    iprp = _mp4_box(b"iprp", _mp4_box(b"ipco", ispe))
    idat = _mp4_box(b"idat", exif)
    # iloc v1: sizes 4/4, base 0, index 0; item 1 method 0 (file),
    # item 2 method 1 (idat-relative at offset 0)
    recs = struct.pack(">HHHHII", 1, 0, 0, 1, 0, len(px))
    recs += struct.pack(">HHHHII", 2, 1, 0, 1, 0, len(exif))
    iloc = _mp4_box(
        b"iloc",
        bytes([1, 0, 0, 0]) + b"\x44\x00" + struct.pack(">H", 2) + recs,
    )
    meta = _mp4_box(b"meta", bytes(4) + hdlr + pitm + iinf + iprp + idat + iloc)
    ftyp = _mp4_box(b"ftyp", b"heic" + struct.pack(">I", 0) + b"mif1heic")
    blob = bytearray(ftyp + meta + _mp4_box(b"mdat", px))
    # patch item 1's file-absolute offset to the mdat payload
    recs_at = (
        len(ftyp) + 8 + 4 + len(hdlr) + len(pitm) + len(iinf) + len(iprp)
        + len(idat) + 8 + 4 + 2 + 2
    )
    struct.pack_into(">I", blob, recs_at + 8, len(blob) - len(px))
    got = scan_heif_info(bytes(blob))
    assert got is not None and got["gps"] is True
    assert got["unscanned"] is False
    assert (got["width"], got["height"]) == (320, 240)
    stripped = strip_media_metadata(bytes(blob))
    assert len(stripped) == len(blob)
    re = scan_heif_info(stripped)
    assert _flags(re) == CLEAN


# ---------------------------------------------------------------------------
# r12 self-review hardening: pinned repros for the round's review
# findings (bounded GIF walk, framed-XMP reassembly, bext timestamp
# window, INFO sub-chunk bounds, unconditional stco validation)
# ---------------------------------------------------------------------------


def _gif_framed_xmp_ext(packet: bytes, first_block: int) -> bytes:
    """A sub-block-FRAMED XMP application extension (no magic
    trailer), with the first block size chosen by the caller so a
    needle can be made to straddle a block boundary."""
    ext = bytearray(b"\x21\xff\x0bXMP DataXMP")
    ext += bytes([first_block]) + packet[:first_block]
    rest = packet[first_block:]
    for i in range(0, len(rest), 255):
        part = rest[i : i + 255]
        ext += bytes([len(part)]) + part
    ext += b"\x00"
    return bytes(ext)


def test_gif_framed_xmp_straddled_needle_reassembled():
    from cqs_spark.operators.mediameta import _xmp_packet

    base = encode_gif([_px(11)])
    packet = _xmp_packet(gps=(40, 42, 46))
    cut = packet.index(b"GPSLatitude") + 5  # split the needle itself
    dirty = base[:-1] + _gif_framed_xmp_ext(packet, cut) + b"\x3b"
    got = scan_media_metadata(dirty)
    # pre-fix: the raw-span contains-scan missed the straddled needle
    assert got is not None and got["gps"] is True
    assert _flags(scan_media_metadata(strip_media_metadata(dirty))) == CLEAN


def test_gif_decoy_trailer_cannot_swallow_blocks():
    from cqs_spark.operators.mediameta import (
        _GIF_XMP_TRAILER,
        _xmp_packet,
        inject_gif_appext,
        inject_gif_comment,
    )
    from cqs_spark.operators.multimodal import decode_frames

    base = encode_gif([_px(12)])
    # framed XMP ext (no trailer), then a PII comment, then the frame,
    # then a vendor app-ext whose DATA spells the magic trailer — an
    # unbounded trailer search would fuse all of it into one span
    packet = _xmp_packet(creator="jane")
    dirty = base[:13 + 768]  # header + GCT
    dirty += _gif_framed_xmp_ext(packet, 100)
    dirty += b"\x21\xfe" + bytes([7]) + b"pii hey" + b"\x00"
    dirty += base[13 + 768 : -1]  # the image frame
    decoy = bytearray(b"\x21\xff\x0bMYVENDOR1.0")
    for i in range(0, len(_GIF_XMP_TRAILER), 255):
        part = _GIF_XMP_TRAILER[i : i + 255]
        decoy += bytes([len(part)]) + part
    decoy += b"\x00"
    dirty += bytes(decoy) + b"\x3b"
    got = scan_media_metadata(dirty)
    assert got is not None
    assert got["author"] is True     # the framed XMP creator
    assert got["text"] is True       # the comment is NOT swallowed
    assert got["unscanned"] is True  # the vendor decoy ext
    stripped = strip_media_metadata(dirty)
    # the image frame survives the strip (not fused into a carrier)
    assert decode_frames(stripped) == decode_frames(base)


def test_wav_bext_timestamp_window_flags():
    from cqs_spark.operators.mediameta import build_wav_bext, inject_wav_chunk

    base = encode_wav([9, -9] * 32)
    bx = bytearray(build_wav_bext())
    bx[320:344] = b"lat=40.71,lon=-74.0,jane"  # date/time/timeref window
    got = scan_media_metadata(inject_wav_chunk(base, b"bext", bytes(bx)))
    assert got["text"] is True


def test_wav_info_oversized_subchunk_quarantines():
    import struct

    base = encode_wav([3, -3] * 32)
    # LIST/INFO with a sub-chunk whose declared size overruns the list
    info = b"INFO" + b"IGNR" + struct.pack("<I", 4096) + b"xx"
    bad = bytearray(base)
    bad += b"LIST" + struct.pack("<I", len(info)) + info
    struct.pack_into("<I", bad, 4, len(bad) - 8)
    assert scan_media_metadata(bytes(bad)) is None
    assert strip_media_metadata(bytes(bad)) is None


def test_mp4_stco_into_dropped_box_quarantines_even_with_zero_shift():
    import struct

    from cqs_spark.operators.mediameta import (
        _MP4_XMP_UUID,
        _mp4_box,
        _mp4_boxes,
        build_mp4,
        scan_mp4_info,
    )

    m = build_mp4(64, 48, 1000, payload=bytes(64), chunk_offsets=[0])
    blob = bytearray(m + _mp4_box(b"uuid", _MP4_XMP_UUID + b"gps here"))

    def stco_entry_pos(b):
        def walk(lo, hi):
            for t, s, e, p in _mp4_boxes(b, lo, hi):
                if t in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                    r = walk(p, e)
                    if r is not None:
                        return r
                elif t == b"stco":
                    return p + 8
        return walk(0, len(b))

    at = stco_entry_pos(bytes(blob))
    # point the chunk offset INTO the trailing uuid box — every kept
    # top-level span has delta 0, so the pre-fix strip skipped the
    # remap and shipped the dangling offset
    struct.pack_into(">I", blob, at, len(m) + 16)
    got = scan_mp4_info(bytes(blob))
    assert got is not None and got["meta_bytes"] > 0  # uuid carrier seen
    assert strip_media_metadata(bytes(blob)) is None


# ---------------------------------------------------------------------------
# r12: Ogg (Vorbis/Opus) page walk + in-place comment scrub
# ---------------------------------------------------------------------------


def test_ogg_vorbis_comments_scan_and_scrub():
    from cqs_spark.operators.mediameta import build_ogg, scan_ogg_info

    dirty = build_ogg(artist="jane doe", title="take 7",
                      location="40.7,-74.0")
    got = scan_ogg_info(dirty)
    assert got["author"] and got["text"] and got["gps"]
    assert got["duration_ms"] == 2000
    stripped = strip_media_metadata(dirty)
    # LENGTH-PRESERVING: page boundaries/lacing/granules untouched
    assert len(stripped) == len(dirty)
    re = scan_ogg_info(stripped)
    assert _flags(re) == CLEAN and re["unscanned"] is False
    assert re["duration_ms"] == 2000
    # audio page bodies byte-identical
    assert stripped[-600:] == dirty[-600:]
    assert b"jane doe" not in stripped


def test_ogg_opus_and_nested_picture():
    from cqs_spark.operators.mediameta import (
        build_ogg,
        inject_png_metadata,
        scan_ogg_info,
    )
    from cqs_spark.operators.multimodal import encode_png

    pic = inject_png_metadata(encode_png(_px(3)), serial="PX777")
    blob = build_ogg(codec="opus", picture=pic, n_audio_pages=3)
    got = scan_ogg_info(blob)
    # the embedded image's eXIf serial surfaces through the recursion
    assert got["serial"] is True and got["unscanned"] is False
    assert got["duration_ms"] == 3 * 1000 - 7  # 48kHz granules - pre-skip
    stripped = strip_media_metadata(blob)
    assert _flags(scan_ogg_info(stripped)) == CLEAN
    # the scrubbed pages carry VALID recomputed CRCs
    import struct

    from cqs_spark.operators.mediameta import _ogg_crc, _ogg_pages

    for s, e, *_rest in _ogg_pages(stripped):
        crc = struct.unpack_from("<I", stripped, s + 22)[0]
        zeroed = bytearray(stripped[s:e])
        struct.pack_into("<I", zeroed, 22, 0)
        assert _ogg_crc(bytes(zeroed)) == crc


def test_ogg_quarantine_and_unknown_codec():
    from cqs_spark.operators.mediameta import build_ogg, scan_ogg_info

    clean = build_ogg()
    # trailing bytes after the last page quarantine
    assert scan_ogg_info(clean + b"x") is None
    assert strip_media_metadata(clean + b"x") is None
    # unknown codec stream: seen but unread -> unscanned, strip
    # quarantines (its bytes cannot ship)
    unk = bytearray(clean)
    at = unk.index(b"\x01vorbis")
    unk[at : at + 7] = b"\x80theor"[:7].ljust(7, b"a")
    got = scan_ogg_info(bytes(unk))
    assert got is not None and got["unscanned"] is True
    assert strip_media_metadata(bytes(unk)) is None
    # a comment with an undecodable picture block -> unscanned
    bad = build_ogg(artist="x")
    bad = bytearray(bad)
    i = bytes(bad).index(b"ARTIST=")
    bad[i : i + 7] = b"METADAT"  # corrupt into a non-picture key: text
    got2 = scan_ogg_info(bytes(bad))
    assert got2 is not None  # still parses; key now free text


def test_id3v22_tag_frames_and_pic():
    from cqs_spark.operators.mediameta import build_mp3, inject_wav_chunk

    def v22(frames):
        body = bytearray()
        for fid, payload in frames:
            body += fid + len(payload).to_bytes(3, "big") + payload
        from cqs_spark.operators.mediameta import _syncsafe_bytes

        return b"ID3\x02\x00\x00" + _syncsafe_bytes(len(body)) + bytes(body)

    # splice a v2.2 tag in front of a bare MP3 frame lattice
    frames_only = build_mp3(3, seed=5)
    tag = v22([(b"TP1", b"\x00Old Ripper"), (b"TT2", b"\x00Song A")])
    got = scan_media_metadata(tag + frames_only)
    assert got is not None and got["fmt"] == "mp3"
    assert got["author"] is True and got["text"] is True
    assert got["unscanned"] is False
    stripped = strip_media_metadata(tag + frames_only)
    assert stripped == frames_only  # tag dropped, lattice verbatim

    # v2.2 PIC nests an EXIF-serial JPEG through the recursion
    inner = inject_jpeg_metadata(encode_jpeg(_px(2)), serial="SN22")
    pic = v22([(b"PIC", b"\x00JPG\x03\x00" + inner)])
    got = scan_media_metadata(pic + frames_only)
    assert got["serial"] is True and got["unscanned"] is False

    # unknown v2.2 frame id -> unscanned; compression bit quarantines
    unk = v22([(b"XYZ", b"??")])
    assert scan_media_metadata(unk + frames_only)["unscanned"] is True
    comp = bytearray(v22([(b"TT2", b"\x00x")]))
    comp[5] |= 0x40
    assert scan_media_metadata(bytes(comp) + frames_only) is None

    # a v2.2 tag inside a WAV 'ID3 ' chunk routes the same walk
    wav = inject_wav_chunk(
        encode_wav([4, -4] * 32), b"ID3 ",
        v22([(b"TP1", b"\x00Old Ripper")]),
    )
    assert scan_media_metadata(wav)["author"] is True


def test_media_release_scan_matches_operator_join(spark, sf_dir):
    """The fused release walk (r13: one Arrow stage) must be row-
    equivalent to the five-operator composition it replaced (scan +
    strip + re-scan + phash/afp compare joined on the id) — the
    shared-definition guarantee, checked end-to-end over the q178
    fixture corpus (every container family + XMP/IPTC/opaque carriers
    + garbage quarantines)."""
    from pyspark.sql import functions as F

    from cqs_spark.operators.mediameta import (
        media_metadata_scan,
        media_metadata_strip,
        media_release_scan,
    )
    from cqs_spark.operators.multimodal import (
        audio_fingerprints,
        phash_images,
    )
    from cqs_spark.operators.multimodal_queries import _q178_media

    media = _q178_media(spark, sf_dir).localCheckpoint(eager=True)
    fused = media_release_scan(media).orderBy("media_id").collect()

    stripped = media_metadata_strip(media).localCheckpoint(eager=True)
    scan = media_metadata_scan(media)
    rescan = media_metadata_scan(stripped).select(
        "media_id",
        (
            ~(
                F.col("has_gps")
                | F.col("has_serial")
                | F.col("has_author")
                | F.col("has_text")
                | F.col("has_unscanned_meta")
            )
        ).alias("strip_clean"),
    )
    dh_o = phash_images(media).select("media_id", F.col("dhash").alias("_dh_o"))
    dh_s = phash_images(stripped).select(
        "media_id", F.col("dhash").alias("_dh_s")
    )
    af_o = audio_fingerprints(media).select(
        "media_id", F.col("afp").alias("_af_o")
    )
    af_s = audio_fingerprints(stripped).select(
        "media_id", F.col("afp").alias("_af_s")
    )
    preserved = F.when(
        F.col("fmt").isNull(), F.lit(None).cast("boolean")
    ).when(
        F.col("fmt") == "wav", F.col("_af_o").eqNullSafe(F.col("_af_s"))
    ).otherwise(F.col("_dh_o").eqNullSafe(F.col("_dh_s")))
    ref = (
        scan.join(rescan, "media_id", "left")
        .join(dh_o, "media_id", "left")
        .join(dh_s, "media_id", "left")
        .join(af_o, "media_id", "left")
        .join(af_s, "media_id", "left")
        .select(
            "media_id",
            "fmt",
            "has_gps",
            "has_serial",
            "has_author",
            "has_text",
            "has_pii",
            "has_unscanned_meta",
            "strip_clean",
            preserved.alias("pixels_preserved"),
        )
        .orderBy("media_id")
        .collect()
    )
    assert fused == ref


# ---------------------------------------------------------------------------
# One walk per blob: scan and strip read one classification
# ---------------------------------------------------------------------------


def test_strip_quarantines_where_scan_does():
    """A carrier the scan cannot parse quarantines the scan AND the
    strip: the JPEG/PNG strips once dropped such a carrier without
    reading it and shipped the blob."""
    from cqs_spark.operators.mediameta import inject_jpeg_iptc

    jpeg = encode_jpeg(_px(8))
    iptc = inject_jpeg_iptc(jpeg, byline="alice")
    exif = inject_jpeg_metadata(jpeg, gps=(51, 30, 26))
    png = inject_png_metadata(encode_png(_px(9)), serial="SN9")
    s, p = exif.find(b"Exif\x00\x00") + 6, png.find(b"eXIf") + 4
    probes = [
        iptc.replace(b"8BIM", b"ZBIM", 1),  # 8BIM resource walk breaks
        exif[:s] + b"ZZ" + exif[s + 2 :],   # EXIF TIFF byte order
        png[:p] + b"ZZ" + png[p + 2 :],     # eXIf TIFF byte order
    ]
    for probe in probes:
        assert scan_media_metadata(probe) is None
        assert strip_media_metadata(probe) is None


def test_mp4_trak_nested_in_trak_flags_and_drops():
    """A trak inside a trak is outside the trak whitelist: the scan
    flags it unscanned and the strip drops it (the strip once rebuilt
    and shipped it, so the rescan could never certify the output)."""
    import struct

    from cqs_spark.operators.mediameta import build_mp4, scan_mp4_info

    m = build_mp4(64, 48, 1000, artist="a")
    t0 = m.index(b"trak") - 4
    tsz = struct.unpack_from(">I", m, t0)[0]
    trak = m[t0 : t0 + tsz]
    nested = struct.pack(">I", 2 * tsz) + b"trak" + trak[8:] + trak
    m0 = m.index(b"moov") - 4
    msz = struct.unpack_from(">I", m, m0)[0]
    blob = (
        m[:m0] + struct.pack(">I", msz + tsz) + m[m0 + 4 : t0] + nested
        + m[t0 + tsz :]
    )
    assert scan_mp4_info(blob)["unscanned"] is True
    stripped = strip_media_metadata(blob)
    assert stripped.count(b"trak") == 1
    rescan = scan_mp4_info(stripped)
    assert _flags(rescan) == CLEAN and rescan["unscanned"] is False
    assert (rescan["width"], rescan["height"]) == (64, 48)


def _planted_one_per_format() -> dict:
    from cqs_spark.operators.mediameta import (
        build_heif,
        build_mp3,
        build_mp4,
        build_ogg,
        build_tiff,
        build_webp,
        _build_exif,
        inject_gif_comment,
        inject_png_xmp,
        inject_wav_info,
    )

    return {
        "jpeg": inject_jpeg_metadata(encode_jpeg(_px(1)), gps=(1, 2, 3)),
        "png": inject_png_metadata(encode_png(_px(2)), serial="SN2"),
        "gif": inject_gif_comment(encode_gif([_px(3)]), "note"),
        "wav": inject_wav_info(encode_wav([100, -100] * 64), artist="a"),
        "pnm": encode_pnm(_px(4)).replace(b"P5\n", b"P5\n# note\n", 1),
        "bmp": encode_bmp(_px(5)),
        "heif": build_heif(64, 48, gps=(1, 2, 3)),
        "mp4": build_mp4(64, 48, 1000, artist="a", chunk_offsets=[0, 8]),
        "mp3": build_mp3(3, artist="a", apic=inject_png_xmp(
            encode_png(_px(6)), gps=(1, 2, 3))),
        "tiff": build_tiff(16, 16, serial="SN7", pixels=bytes(64)),
        "webp": build_webp(16, 16, exif=_build_exif(artist="a")),
        "ogg": build_ogg(artist="a"),
    }


def test_one_walk_per_strip_and_release_row(monkeypatch):
    """strip_media_metadata walks its input once; a media_release_scan
    row walks it once for scan + strip and once more to rescan the
    stripped output (nested images walk at depth >= 1, not counted)."""
    import cqs_spark.operators.mediameta as mm

    walks = []

    def counted(walker):
        def run(w):
            if w.depth == 0:
                walks.append(w.fmt)
            return walker(w)

        return run

    monkeypatch.setattr(
        mm, "_FORMATS",
        tuple((n, s, counted(f), ip) for n, s, f, ip in mm._FORMATS),
    )
    planted = _planted_one_per_format()
    assert sorted(planted) == sorted(n for n, *_ in mm._FORMATS)
    for fmt, blob in planted.items():
        walks.clear()
        assert mm.strip_media_metadata(blob) is not None, fmt
        assert walks == [fmt]
        walks.clear()
        row = mm._release_row(blob)
        assert row[0] == fmt and row[7] is True, (fmt, row)
        assert walks == [fmt, fmt]


# sha256 over (id, scan_media_metadata, scan_<fmt>_info, sha256 of the
# stripped bytes) for every blob of each planted corpus, recorded
# before the scan and strip shared one walk.  sf0.001 and sf0.01 hold
# the same doc ids (0-499), so one digest covers both.
_CORPUS_DIGESTS = {
    "q178": (None, "df65907d56b2b5e9"),
    "q183": ("scan_mp4_info", "ef8358231dbf9b24"),
    "q184": ("scan_mp3_info", "3fb0d21113fb1e5f"),
    "q185": ("scan_tiff_info", "32f3042615cefef7"),
    "q186": ("scan_webp_info", "95edbb327049d4b0"),
    "q187": ("scan_heif_info", "80eea1bb56c475ec"),
    "q188": ("scan_ogg_info", "43331d953587fba1"),
}


def test_planted_corpora_scan_and_strip_digests(monkeypatch):
    """Every blob the q178/q183-q188 builders plant scans and strips
    exactly as recorded (no Spark: the builders' row functions are
    called directly)."""
    import hashlib
    import json

    import cqs_spark.operators.mediameta as mm
    import cqs_spark.operators.multimodal_queries as mq

    monkeypatch.setattr(
        mq, "_id_corpus", lambda spark, sf_dir, rows_of, *a: rows_of
    )
    got = {}
    for q, (info, _want) in _CORPUS_DIGESTS.items():
        rows_of = getattr(mq, f"_{q}_media")(None, None)
        h = hashlib.sha256()
        for d in range(500):
            for row in rows_of(d):
                blob = row[1]
                s = mm.strip_media_metadata(blob)
                h.update(json.dumps([
                    row[0], mm.scan_media_metadata(blob),
                    None if info is None else getattr(mm, info)(blob),
                    None if s is None else hashlib.sha256(s).hexdigest(),
                ], sort_keys=True).encode())
        got[q] = h.hexdigest()[:16]
    assert got == {q: want for q, (_i, want) in _CORPUS_DIGESTS.items()}


def test_container_strip_properties_hypothesis():
    """The strip property contract over the six struct containers with
    drawn carriers: the rescan is clean, strip is idempotent, and the
    in-place formats (TIFF, HEIF, Ogg) keep the length."""
    from hypothesis import given, settings, strategies as st

    from cqs_spark.operators.mediameta import (
        _build_exif,
        _xmp_packet,
        build_heif,
        build_mp3,
        build_mp4,
        build_ogg,
        build_tiff,
        build_webp,
        inject_png_xmp,
    )

    name = st.one_of(st.none(), st.text(min_size=1, max_size=16))
    gps = st.one_of(st.none(), st.tuples(
        st.integers(0, 89), st.integers(0, 59), st.integers(0, 59)))
    xmp = st.one_of(st.none(), st.fixed_dictionaries(
        {"gps": gps, "creator": name, "serial": name}))
    payload = st.binary(min_size=1, max_size=64)

    @st.composite
    def planted(draw):
        fmt = draw(st.sampled_from(
            ["webp", "tiff", "mp4", "mp3", "ogg", "heif"]))
        w, h = draw(st.integers(1, 4096)), draw(st.integers(1, 4096))
        if fmt == "webp":
            exif = draw(st.one_of(st.none(), st.builds(
                _build_exif, gps, name, name)))
            x = draw(xmp)
            return fmt, build_webp(
                w, h, exif=exif,
                xmp=None if x is None else _xmp_packet(**x),
                payload=draw(payload),
            )
        if fmt == "tiff":
            return fmt, build_tiff(
                w, h, gps=draw(gps), serial=draw(name), artist=draw(name),
                pixels=draw(payload),
            )
        if fmt == "mp4":
            loc = draw(st.one_of(st.none(), st.tuples(
                st.floats(-89, 89), st.floats(-179, 179))))
            return fmt, build_mp4(
                w, h, draw(st.integers(1, 10**6)), gps=loc,
                artist=draw(name), comment=draw(name),
                payload=draw(payload), xmp=draw(xmp),
                xmp_in=draw(st.sampled_from(["uuid", "udta"])),
                free=draw(st.one_of(st.none(), st.binary(max_size=16))),
                chunk_offsets=draw(st.one_of(st.none(), st.just([0]))),
            )
        if fmt == "mp3":
            apic = None
            if draw(st.booleans()):
                apic = inject_png_xmp(
                    encode_png(_px(draw(st.integers(0, 99)))),
                    gps=draw(gps), creator=draw(name),
                )
            return fmt, build_mp3(
                draw(st.integers(1, 5)), seed=draw(st.integers(0, 999)),
                artist=draw(name), comment=draw(name),
                id3v1_artist=draw(name), apic=apic,
            )
        if fmt == "ogg":
            pic = None
            if draw(st.booleans()):
                pic = inject_png_metadata(
                    encode_png(_px(draw(st.integers(0, 99)))),
                    serial=draw(name),
                )
            return fmt, build_ogg(
                codec=draw(st.sampled_from(["vorbis", "opus"])),
                artist=draw(name), title=draw(name),
                location=draw(name), picture=pic,
                n_audio_pages=draw(st.integers(1, 3)),
                seed=draw(st.integers(0, 999)),
            )
        return fmt, build_heif(
            w, h, gps=draw(gps), serial=draw(name), artist=draw(name),
            xmp=draw(xmp), pixel_payload=draw(payload),
        )

    @settings(max_examples=120, deadline=None)
    @given(planted())
    def prop(fmt_blob):
        fmt, blob = fmt_blob
        s1 = strip_media_metadata(blob)
        assert s1 is not None
        rescan = scan_media_metadata(s1)
        assert rescan["fmt"] == fmt and _flags(rescan) == CLEAN
        assert rescan["unscanned"] is False
        assert strip_media_metadata(s1) == s1          # idempotent
        if fmt in ("tiff", "heif", "ogg"):
            assert len(s1) == len(blob)

    prop()
