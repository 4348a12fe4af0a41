"""Per-MB timings of the pure-Python per-blob media kernels.

The blobs are built with the engine's own public encoders and
metadata injectors from a fixed seed, so nothing is downloaded and the
JPEG luma digest in ``digests.json`` stays valid.  Each kernel output
is checked: lossless decodes bit for bit against the pixels they were
encoded from, the JPEG decode against its recorded digest, the scan
against what was injected, and the strip against the blob before
injection.
"""

from __future__ import annotations

import hashlib
import json
import random
import time

KERNEL_SEED = 20240601


def _image(rng: random.Random, h: int, w: int) -> list[list[int]]:
    """A gradient with noise: compressible like a photo, not constant."""
    gx, gy = rng.uniform(0.5, 2.0), rng.uniform(0.5, 2.0)
    return [
        [int(gx * c + gy * r + rng.randrange(24)) & 0xFF for c in range(w)]
        for r in range(h)
    ]


def blobs() -> dict:
    from cqs_spark.operators.jpegcodec import encode_jpeg
    from cqs_spark.operators.mediameta import (
        inject_gif_comment,
        inject_jpeg_metadata,
        inject_png_metadata,
    )
    from cqs_spark.operators.multimodal import encode_gif, encode_png

    rng = random.Random(KERNEL_SEED)
    px = _image(rng, 128, 128)
    frames = [_image(rng, 96, 96) for _ in range(3)]
    png = encode_png(px)
    jpeg = encode_jpeg(px, quality=85, subsample=True)
    gif = encode_gif(frames)
    return {
        "px": px, "frames": frames, "png": png, "jpeg": jpeg, "gif": gif,
        "tagged": [
            inject_jpeg_metadata(jpeg, gps=(37, 46, 12), serial="SN-0042", artist="perfbench"),
            inject_png_metadata(png, text=("Comment", "perfbench"), gps=(51, 30, 7)),
            inject_gif_comment(gif, "perfbench"),
        ],
        "untagged": [jpeg, png, gif],
    }


def jpeg_digest(luma) -> str:
    return hashlib.sha256(json.dumps(luma).encode()).hexdigest()[:20]


def _per_mb(fn, inputs: list[bytes], min_s: float) -> tuple[float, list]:
    """Seconds per MB of input over repeated passes of at least min_s."""
    mb = sum(len(b) for b in inputs) / 2**20
    reps, t0, out = 0, time.perf_counter(), []
    while True:
        out = [fn(b) for b in inputs]
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / (reps * mb), out


def measure(expected_jpeg: str | None, check, min_s: float = 0.3) -> dict:
    """{kernels.<fn>_s_per_mb: value}; each output goes through check."""
    from cqs_spark.operators.jpegcodec import decode_jpeg_luma
    from cqs_spark.operators.mediameta import scan_media_metadata, strip_media_metadata
    from cqs_spark.operators.multimodal import decode_frames, decode_pixels

    b = blobs()
    out = {}
    s, (frames,) = _per_mb(decode_frames, [b["gif"]], min_s)
    out["decode_frames"] = s
    check("kernel:decode_frames", frames == b["frames"])
    s, (luma,) = _per_mb(decode_jpeg_luma, [b["jpeg"]], min_s)
    out["decode_jpeg_luma"] = s
    check("kernel:decode_jpeg_luma", luma is not None and jpeg_digest(luma) == expected_jpeg)
    s, (px,) = _per_mb(decode_pixels, [b["png"]], min_s)
    out["decode_pixels"] = s
    check("kernel:decode_pixels", px == b["px"])
    s, scans = _per_mb(scan_media_metadata, b["tagged"], min_s)
    out["scan_media_metadata"] = s
    check(
        "kernel:scan_media_metadata",
        [bool(r and r["gps"]) for r in scans] == [True, True, False]
        and bool(scans[0] and scans[0]["serial"] and scans[0]["author"])
        and all(r and r["text"] for r in scans[1:]),
    )
    s, stripped = _per_mb(strip_media_metadata, b["tagged"], min_s)
    out["strip_media_metadata"] = s
    check("kernel:strip_media_metadata", stripped == b["untagged"])
    return {f"kernels.{k}_s_per_mb": v for k, v in out.items()}
