"""Content-format sniffing from magic bytes.

Replaces the reference's extension-based mimetype dispatch
(/root/reference/lib/processor.js:56-65,80-84 via the `mime` package)
with content sniffing — at web scale URLs lie about their payloads.
Dispatch semantics preserved: pdf → PDF branch, image/* → OCR branch,
html/text → stripper, else an error VALUE
('Unsupported format: <mime>', processor.js:64) — never an exception.

``sniff_format`` is the package's only map from magic bytes to an image
format: its ``image/<kind>`` tags key extract/imaging's decoder table
and name the kinds operators/multimodal reports.  Weak magics (BMP,
ICO, netpbm, PCX) are validated structurally before a payload is tagged.

The format column this produces is a plain Spark string column, so
Catalyst can route rows (predicate pushdown of the dispatch gate) and
the per-format UDFs only ever see their own rows.
"""

from __future__ import annotations

from .imaging import looks_like_bmp, looks_like_ico, looks_like_pcx, looks_like_pnm

FORMAT_PDF = "pdf"
FORMAT_HTML = "html"
FORMAT_TEXT = "text"
FORMAT_EMPTY = "empty"

_IMAGE_MAGICS: list[tuple[bytes, str]] = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
    (b"\x97JB2\r\n\x1a\n", "image/jbig2"),
    (b"\x00\x00\x00\x0cjP  \r\n\x87\n", "image/jp2"),
    (b"\xff\x4f\xff\x51", "image/jp2"),
]

_HTML_PREFIXES = (b"<!doctype", b"<html", b"<head", b"<body", b"<?xml")


# Per-document budget: the most a gzip payload inflates to, and the
# largest payload (or upstream text, in characters) extract_row reads.
MAX_DOC_BYTES = 16 << 20


def maybe_gunzip(data: bytes | None) -> bytes | None:
    """Transparently decompress a gzip-wrapped payload (magic 1f 8b) —
    Common-Crawl-style archives store many payloads gzip'd, and at web
    scale URLs lie about their encoding just like their content.
    Returns the original bytes when not gzip or on any decode error /
    over-cap (the downstream sniff then reports octet-stream, the same
    error-as-value the raw bytes would get)."""
    if data is None or len(data) < 3 or data[0] != 0x1F or data[1] != 0x8B:
        return data
    import zlib

    try:
        d = zlib.decompressobj(wbits=31)  # gzip container
        out = d.decompress(bytes(data), MAX_DOC_BYTES + 1)
        if len(out) > MAX_DOC_BYTES:
            return data
        return out
    except zlib.error:
        return data


def sniff_format(data: bytes | None) -> str:
    """bytes → format tag: 'pdf' | 'html' | 'image/<kind>' | 'text' |
    'empty' | 'application/octet-stream'."""
    if data is None or len(data) == 0:
        return FORMAT_EMPTY
    head = bytes(data[:1024])
    if head.startswith(b"%PDF-"):
        return FORMAT_PDF
    for magic, fmt in _IMAGE_MAGICS:
        if head.startswith(magic):
            return fmt
    if head[:4] == b"RIFF" and head[8:12] == b"WEBP":
        return "image/webp"
    # weak magics ('BMI calculator…' is text): validate the structure
    if head[:2] == b"BM" and looks_like_bmp(data):
        return "image/bmp"
    if head[:2] == b"\x00\x00" and head[2:4] in (b"\x01\x00", b"\x02\x00"):
        if looks_like_ico(bytes(data)):
            return "image/ico"
    if head[0:1] == b"P" and len(head) >= 3 and head[1] in b"123456":
        if looks_like_pnm(bytes(data)):
            return "image/pnm"
    if len(data) >= 44 and bytes(data[-18:]) == b"TRUEVISION-XFILE\x2e\x00":
        return "image/tga"
    if head[0:1] == b"\x0a" and len(data) >= 129 and looks_like_pcx(bytes(data)):
        return "image/pcx"
    stripped = head.lstrip(b" \t\r\n\f")
    low = stripped[:64].lower()
    if low.startswith(_HTML_PREFIXES) or b"<html" in head[:256].lower():
        return FORMAT_HTML
    # printable heuristic: mostly-text bytes → plain text
    sample = head[:512]
    n_text = sum(1 for b in sample if b in (9, 10, 13) or 32 <= b < 127 or b >= 128)
    if sample and n_text / len(sample) > 0.95:
        return FORMAT_TEXT
    return "application/octet-stream"


def unsupported_error(fmt: str) -> str:
    """Error value for non-extractable formats (processor.js:64)."""
    return f"Unsupported format: {fmt}"
