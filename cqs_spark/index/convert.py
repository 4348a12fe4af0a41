"""Document conversion stage: PDF/HTML → Markdown before chunking.

Reference: src/convert/mod.rs:1-12 — pymupdf4llm (PDF), fast_html2md
(HTML), 7z+html (CHM).  The Spark shape is a mapInPandas stage between
the binaryFile listing and the chunker; converter libraries are gated
behind import-tries (absent in this container), with a deterministic
HTML tag-stripper as the dependency-free fallback so the dataflow is
fully testable.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, types as T

from cqs_spark.rows import map_rows

HAVE_PDF = False
_PDF_BACKEND = None
for _mod in ("pymupdf4llm", "pypdf", "pdfminer"):  # preference order
    try:  # pragma: no cover - wheels absent in this container
        __import__(_mod)
        HAVE_PDF, _PDF_BACKEND = True, _mod
        break
    except ImportError:
        continue

_TAG_RE = re.compile(r"<[^>]+>")
_SCRIPT_RE = re.compile(r"(?is)<(script|style)[^>]*>.*?</\1>")
_H_RE = re.compile(r"(?is)<h([1-6])[^>]*>(.*?)</h\1>")


def html_to_markdown(html: str) -> str:
    """Dependency-free HTML → Markdown-ish: headings kept, tags stripped."""
    s = _SCRIPT_RE.sub(" ", html)
    s = _H_RE.sub(lambda m: "\n" + "#" * int(m.group(1)) + " " + _TAG_RE.sub("", m.group(2)).strip() + "\n", s)
    s = re.sub(r"(?i)<(p|br|div|li|tr)[^>]*>", "\n", s)
    s = _TAG_RE.sub(" ", s)
    return re.sub(r"[ \t]+", " ", re.sub(r"\n{3,}", "\n\n", s)).strip()


# PDF literal-string escapes (ISO 32000 §7.3.4.2): \n \r \t \b \f \( \) \\
_PDF_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}
_PDF_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
# Text-showing operators inside a content stream: (..) Tj / (..) '
# / [(..) -120 (..)] TJ.  Literal strings only — the salvage path
# targets simple (ASCII/WinAnsi) fonts, same spirit as the CHM
# raw-span scan below.
_PDF_TJ_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)\s*(?:Tj|')")
_PDF_TJARR_RE = re.compile(rb"\[((?:[^\[\]\\]|\\.)*)\]\s*TJ", re.DOTALL)
_PDF_STR_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)")


def _pdf_unescape(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt.isdigit():  # \ddd octal (1-3 digits)
                j = i + 1
                while j < min(i + 4, len(raw)) and raw[j : j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            out += _PDF_ESC.get(nxt, nxt)
            i += 2
            continue
        out += c
        i += 1
    return bytes(out)


def _pdf_salvage_text(blob: bytes) -> str:
    """Dependency-free PDF text salvage: decompress FlateDecode content
    streams with stdlib zlib (or take them raw), then read the literal
    strings of Tj/'/TJ text-showing operators.  Covers the simple-font
    PDFs a docs corpus is full of; complex encodings (CID/Type0 with
    ToUnicode maps) need a real wheel and degrade to partial text —
    the same degrade-don't-fail contract as the CHM salvage scan."""
    import zlib

    lines: list[str] = []
    for m in _PDF_STREAM_RE.finditer(blob):
        data = m.group(1)
        try:
            data = zlib.decompress(data)
        except zlib.error:
            pass  # uncompressed stream, or a non-Flate filter: try as-is
        for tm in _PDF_TJ_RE.finditer(data):
            txt = _pdf_unescape(tm.group(1)).decode("latin-1", errors="replace")
            if txt.strip():
                lines.append(txt)
        for am in _PDF_TJARR_RE.finditer(data):
            parts = [
                _pdf_unescape(sm.group(1)).decode("latin-1", errors="replace")
                for sm in _PDF_STR_RE.finditer(am.group(1))
            ]
            joined = "".join(parts)
            if joined.strip():
                lines.append(joined)
    return "\n".join(lines).strip()


def pdf_to_markdown(blob: bytes) -> str:
    """PDF → text/Markdown (reference: pymupdf4llm, src/convert/mod.rs:1-12).

    Backend ladder: pymupdf4llm → pypdf → pdfminer.six when installed
    (none ship in this container); else the pure-python salvage
    extractor above.  Raises NotImplementedError only when nothing —
    wheel or salvage — recovers any text.
    """
    if HAVE_PDF:  # pragma: no cover - wheels absent in this container
        import io
        import tempfile

        if _PDF_BACKEND == "pymupdf4llm":
            import pymupdf4llm

            with tempfile.NamedTemporaryFile(suffix=".pdf") as fh:
                fh.write(blob)
                fh.flush()
                return pymupdf4llm.to_markdown(fh.name)
        if _PDF_BACKEND == "pypdf":
            from pypdf import PdfReader

            reader = PdfReader(io.BytesIO(blob))
            return "\n\n".join(
                (page.extract_text() or "") for page in reader.pages
            ).strip()
        from pdfminer.high_level import extract_text

        return extract_text(io.BytesIO(blob)).strip()
    text = _pdf_salvage_text(blob)
    if not text:
        raise NotImplementedError(
            "PDF text not recoverable without a wheel "
            "(pymupdf4llm/pypdf/pdfminer.six all absent; salvage found no "
            "simple-font text operators)"
        )
    return text


_HTML_DOC_RE = re.compile(rb"(?is)<html[\s>].*?</html\s*>")


def chm_extract_html(blob: bytes, origin: str = "doc.chm") -> list[tuple[str, str]]:
    """CHM → [(inner_name, html)] — the reference's 7z+html path
    (src/convert/mod.rs:1-12).

    Preferred backend: the ``7z`` binary (same tool the reference
    shells to), which understands the ITSS container including its
    LZX-compressed sections.  When 7z is absent (this container), the
    salvage fallback scans the raw bytes for uncompressed
    ``<html>…</html>`` spans — CHM stores the TOC and some content
    uncompressed, so this degrades to partial extraction rather than
    failing the whole build.  Returns [] when nothing is recoverable.
    """
    import shutil

    if shutil.which("7z"):  # pragma: no cover - binary absent here
        import subprocess
        import tempfile
        from pathlib import Path

        with tempfile.TemporaryDirectory() as td:
            src = Path(td) / "in.chm"
            src.write_bytes(blob)
            out = Path(td) / "out"
            subprocess.run(
                ["7z", "x", "-y", f"-o{out}", str(src)],
                check=True, capture_output=True,
            )
            docs = []
            for p in sorted(out.rglob("*")):
                if p.suffix.lower() in (".html", ".htm", ".hhc"):
                    docs.append(
                        (str(p.relative_to(out)), p.read_text(errors="replace"))
                    )
            return docs
    return [
        (f"fragment_{i}", m.group(0).decode("utf-8", errors="replace"))
        for i, m in enumerate(_HTML_DOC_RE.finditer(blob))
    ]


def chm_to_markdown(blob: bytes, origin: str = "doc.chm") -> str:
    """CHM → one concatenated Markdown document (per-page headings)."""
    parts = []
    for name, html in chm_extract_html(blob, origin):
        parts.append(f"# {name}\n\n{html_to_markdown(html)}")
    return "\n\n".join(parts)


CONVERTED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)


def convert_files(files: DataFrame) -> DataFrame:
    """binaryFile rows → converted (path, content) rows, Arrow-batched.

    HTML converts via the fallback; unknown extensions pass through;
    PDFs convert via the wheel ladder or the pure-python salvage
    extractor, and raise only when no text is recoverable at all
    (fail-loud beats silently indexing binary soup).
    """

    def row(path, blob):
        raw = bytes(blob)
        if path.endswith((".html", ".htm")):
            md = html_to_markdown(raw.decode("utf-8", errors="replace"))
            yield re.sub(r"\.html?$", ".md", path), md.encode("utf-8")
        elif path.endswith(".pdf"):
            yield path[:-4] + ".md", pdf_to_markdown(raw).encode("utf-8")
        elif path.endswith(".chm"):
            yield path[:-4] + ".md", chm_to_markdown(raw, path).encode("utf-8")
        else:
            yield path, raw

    return map_rows(files, ["path", "content"], row, CONVERTED_SCHEMA)
