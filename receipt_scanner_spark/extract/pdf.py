"""PDF text-layer extraction — pure stdlib, byte-stream in, text out.

Reimplements the *semantics* of the reference PDF branch
(/root/reference/lib/pdf_processor.js:11-97) without its child
processes (pdftotext / pdfimages):

* pages joined with a single space  (pdf_processor.js:31)
* all-whitespace joined text gates the OCR fallback (pdf_processor.js:32-38)
* zero embedded images on that path → error 'No images found in PDF'
  (pdf_processor.js:61); OCR'd page texts joined with '\\n\\n\\n'
  (pdf_processor.js:76)
* errors are values (the job never fails on a bad document — D3).

Scope (honest limitations, documented): content streams are read in
file order (no page-tree walk), literal/hex string operands of
Tj/TJ/'/" are decoded; /Filter chains cover Flate / LZW / ASCIIHex /
ASCII85 / RunLength with TIFF+PNG predictors (decode_stream), and
image codestreams decode via extract/jpeg.py (DCTDecode) and
extract/ccitt.py (CCITTFaxDecode); encrypted or exotic PDFs
yield empty text and flow into the error path.  That covers the
deterministic synthetic corpus and simple real-world text-layer PDFs;
at web scale OCR stays off unless a pixel hook (``ocr_arrays``) is
plugged in (SURVEY.md §2.3 I11).

Designed for row-at-a-time use inside Arrow-batched pandas UDFs: bytes
stay in memory end-to-end (no temp files, unlike the reference's
tmp-spill at lib/processor.js:98-107).
"""

from __future__ import annotations

import base64
import re
import zlib
from typing import Callable, NamedTuple

# cap per-stream inflation (bomb guard; see extract_pdf_text)
_MAX_STREAM_DECOMPRESSED = 16 * 1024 * 1024

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.DOTALL)
_IMAGE_RE = re.compile(rb"/Subtype\s*/Image\b")
_BLANK_RE = re.compile(r"^\s*$")

NO_IMAGES_ERROR = "No images found in PDF"
OCR_UNAVAILABLE_ERROR = "OCR not configured"


class PdfText(NamedTuple):
    pages: list[str]
    n_images: int


class PdfResult(NamedTuple):
    text: str | None
    error: str | None


def _unescape_pdf_string(raw: bytes) -> bytes:
    """Unescape a PDF literal string body (between parens) to the raw
    string BYTES (glyph codes until a font encoding says otherwise)."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c == 0x5C and i + 1 < n:  # backslash escape
            nxt = raw[i + 1]
            i += 2
            if nxt in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[nxt])
            elif nxt in b"()\\":
                out.append(nxt)
            elif 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                oct_digits = [nxt]
                while i < n and len(oct_digits) < 3 and 0x30 <= raw[i] <= 0x37:
                    oct_digits.append(raw[i])
                    i += 1
                out.append(int(bytes(oct_digits), 8) & 0xFF)
            elif nxt in b"\r\n":  # line continuation
                if nxt == 0x0D and i < n and raw[i] == 0x0A:
                    i += 1
            else:
                out.append(nxt)
        else:
            out.append(c)
            i += 1
    return bytes(out)


_TOKEN_RE = re.compile(
    rb"\((?P<lit>(?:\\.|[^\\()])*)\)"  # literal string
    rb"|<(?P<hex>[0-9A-Fa-f\s]*)>"  # hex string
    rb"|/(?P<font>[^\s/<>\[\]()]+)\s+-?[\d.]+\s+Tf"  # font select
    rb"|(?P<op>BT|ET|TJ|Tj|T\*|Td|TD|Tm|')"
    rb"|(?P<quote>\")"
    rb"|(?P<bracket>[\[\]])"
    rb"|(?P<num>-?\d+(?:\.\d+)?)"
)

# TJ-array kern threshold (thousandths of em): a negative adjustment
# wider than this renders as an inter-word gap — the pdftotext
# heuristic.  Letter-pair kerns are typically -10..-80; word gaps
# -200..-600 (a space glyph is ~250/1000 em).
_TJ_SPACE_KERN = -100.0


def _extract_stream_text(data: bytes, fonts: dict | None = None) -> str:
    """Pull text shown by Tj/TJ/'/\" operators, newline on Td/TD/T*/Tm
    row moves, and a SPACE for TJ kern adjustments wider than a word
    gap (so justified text keeps its word boundaries).

    ``fonts`` (page-tree path only): {resource name: FontDecoder} from
    extract/pdfobj.page_fonts — string bytes then decode through the
    font selected by the current ``Tf`` (ToUnicode CMap / encoding
    differences), the way pdftotext recovers text from subset fonts.
    Without it, bytes decode latin-1 (the legacy-scan contract)."""
    parts: list[str] = []
    pending: list[str] = []
    in_text = False
    in_array = False
    decoder = None
    for m in _TOKEN_RE.finditer(data):
        if m.group("font") is not None:
            if fonts:
                decoder = fonts.get(m.group("font").decode("latin-1"))
            continue
        if m.group("op") is not None or m.group("quote") is not None:
            op = m.group("op") or m.group("quote")
            if op == b"BT":
                in_text = True
            elif op == b"ET":
                in_text = False
            elif op in (b"Tj", b"TJ", b"'", b'"') and in_text and pending:
                parts.append("".join(pending))
                pending.clear()
                if op in (b"'", b'"'):
                    parts.append("\n")
            elif op in (b"T*", b"Td", b"TD", b"Tm") and in_text:
                if parts and not parts[-1].endswith("\n"):
                    parts.append("\n")
            in_array = False
            continue
        if m.group("bracket") is not None:
            in_array = in_text and m.group("bracket") == b"["
            continue
        if not in_text:
            pending.clear()
            continue
        if m.group("num") is not None:
            if (
                in_array
                and pending
                and float(m.group("num")) < _TJ_SPACE_KERN
                and not pending[-1].endswith(" ")
            ):
                pending.append(" ")
            continue
        if m.group("lit") is not None:
            raw = _unescape_pdf_string(m.group("lit"))
        elif m.group("hex") is not None:
            h = re.sub(rb"\s+", b"", m.group("hex"))
            if len(h) % 2:
                h += b"0"
            raw = bytes.fromhex(h.decode("ascii"))
        else:
            continue
        if decoder is not None:
            pending.append(decoder.decode(raw))
        elif raw[:2] == b"\xfe\xff":
            # BOM-prefixed text strings are UTF-16BE (§7.9.2.2)
            pending.append(raw[2:].decode("utf-16-be", "replace"))
        else:
            pending.append(raw.decode("latin-1"))
    if pending:
        parts.append("".join(pending))
    return "".join(parts).strip("\n")


def _iter_streams(pdf_bytes: bytes):
    """Yield ``(header_dict_bytes, raw_body)`` for every stream in file
    order.  Honors /Length when explicit; otherwise strips at most ONE
    EOL before 'endstream' (PDF spec) — never rstrips blindly, stream
    bytes may legitimately end in 0x0A."""
    pos = 0
    while True:
        m = _STREAM_RE.search(pdf_bytes, pos)
        if not m:
            return
        start = m.end()
        end = pdf_bytes.find(b"endstream", start)
        if end == -1:
            return
        pos = end + len(b"endstream")
        lm = re.search(rb"/Length\s+(\d+)", m.group(1))
        if lm:
            body = pdf_bytes[start : start + int(lm.group(1))]
        else:
            body = pdf_bytes[start:end]
            if body.endswith(b"\r\n"):
                body = body[:-2]
            elif body.endswith(b"\n") or body.endswith(b"\r"):
                body = body[:-1]
        yield m.group(1), body


def _inflate_guarded(body: bytes) -> bytes | None:
    """FlateDecode with the bomb + truncation guards; None → skip.

    * decompression-bomb guard: a ~100 KB crafted stream can expand to
      gigabytes and OOM an executor task at web scale; real text-layer
      content streams are far below the 16 MB cap.
    * Over-cap (unconsumed_tail set) OR truncated/corrupt (stream didn't
      reach its zlib EOF marker — decompressobj returns partial bytes
      without raising, unlike zlib.decompress) are both skipped; partial
      garbage must never enter the extraction output.
    """
    try:
        d = zlib.decompressobj()
        out = d.decompress(body, _MAX_STREAM_DECOMPRESSED)
        if d.unconsumed_tail or not d.eof:
            return None
        return out
    except zlib.error:
        return None


# ---------------------------------------------------------------------------
# /Filter chains (PDF 32000-1 §7.4) — r3.  A stream's filter entry is a
# name or an array applied left-to-right; real receipt PDFs commonly
# chain ASCII85+Flate (mail gateways) and Flate+Predictor (image
# samples).  Image codecs (DCT/CCITT/JPX/JBIG2) terminate the chain:
# their bytes are a codestream for the image path, opaque to the text
# path.  Every stage shares the 16 MB bomb cap.
# ---------------------------------------------------------------------------

_FILTER_RE = re.compile(
    rb"/Filter\s*(?:\[(?P<arr>[^\]]*)\]|/(?P<one>[A-Za-z0-9]+))"
)
_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")

# §7.4 table 6 abbreviations (inline images share the names)
_FILTER_ABBREV = {
    b"AHx": b"ASCIIHexDecode", b"A85": b"ASCII85Decode",
    b"LZW": b"LZWDecode", b"Fl": b"FlateDecode",
    b"RL": b"RunLengthDecode", b"CCF": b"CCITTFaxDecode",
    b"DCT": b"DCTDecode",
}
_IMAGE_CODECS = {b"DCTDecode", b"CCITTFaxDecode", b"JPXDecode", b"JBIG2Decode"}


def stream_filters(header: bytes) -> list[bytes]:
    """The stream's filter chain as canonical full names, in order."""
    m = _FILTER_RE.search(header)
    if not m:
        return []
    if m.group("one") is not None:
        names = [m.group("one")]
    else:
        names = _NAME_RE.findall(m.group("arr"))
    return [_FILTER_ABBREV.get(nm, nm) for nm in names]


def _int_param(header: bytes, name: bytes, default: int) -> int:
    m = re.search(rb"/" + name + rb"\s+(-?\d+)", header)
    return int(m.group(1)) if m else default


def _bool_param(header: bytes, name: bytes) -> bool:
    return re.search(rb"/" + name + rb"\s+true\b", header) is not None


def _ascii_hex_decode(body: bytes) -> bytes:
    end = body.find(b">")
    if end != -1:
        body = body[:end]
    h = re.sub(rb"\s+", b"", body)
    if len(h) % 2:
        h += b"0"  # odd count: final digit implies a trailing 0 (§7.4.2)
    return bytes.fromhex(h.decode("ascii"))  # ValueError on bad digit


def _ascii85_decode(body: bytes) -> bytes:
    end = body.find(b"~>")
    if end == -1:
        raise ValueError("ASCII85 stream missing '~>' EOD")
    return base64.a85decode(body[: end + 2], adobe=True)


def _runlength_decode(body: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(body)
    while i < n:
        l = body[i]
        if l == 128:  # EOD
            return bytes(out)
        if l < 128:
            chunk = body[i + 1 : i + 2 + l]
            if len(chunk) != l + 1:
                raise ValueError("truncated RunLength literal")
            out += chunk
            i += 2 + l
        else:
            if i + 1 >= n:
                raise ValueError("truncated RunLength repeat")
            out += body[i + 1 : i + 2] * (257 - l)
            i += 2
        if len(out) > _MAX_STREAM_DECOMPRESSED:
            raise ValueError("RunLength output over cap")
    return bytes(out)


def _lzw_decode_pdf(body: bytes, early: int = 1) -> bytes:
    """PDF/TIFF-variant LZW (§7.4.4): MSB-first codes, 256=clear,
    257=EOD, width 9→12 growing one code EARLY when EarlyChange=1
    (the default).  Distinct from GIF LZW (LSB-first, per-image code
    size) — imaging._lzw_decode is not reusable here."""
    out = bytearray()
    # bit reader state
    acc = 0
    nbits = 0
    pos = 0
    n = len(body)
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated LZW stream")
            acc = (acc << 8) | body[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == 256:  # clear
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == 257:  # EOD
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError("bad initial LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:  # 12-bit cap; encoder clears or freezes
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if len(out) > _MAX_STREAM_DECOMPRESSED:
            raise ValueError("LZW output over cap")
        prev = entry
        if len(table) + early >= (1 << width) and width < 12:
            width += 1


def _apply_predictor(data: bytes, header: bytes) -> bytes:
    """Invert the /Predictor pre-filter after Flate/LZW (§7.4.4.4):
    2 = TIFF horizontal differencing, 10-15 = PNG row filters (the
    per-row filter byte selects the actual filter — all /Predictor>=10
    values decode identically).  Raises ValueError on malformed data."""
    pred = _int_param(header, b"Predictor", 1)
    if pred <= 1:
        return data
    colors = _int_param(header, b"Colors", 1)
    bpc = _int_param(header, b"BitsPerComponent", 8)
    columns = _int_param(header, b"Columns", 1)
    if colors < 1 or columns < 1 or bpc not in (1, 2, 4, 8, 16):
        raise ValueError("bad predictor parameters")
    rowbytes = (colors * bpc * columns + 7) // 8
    bpp = max(1, (colors * bpc + 7) // 8)
    if pred == 2:
        if bpc != 8:
            raise ValueError("TIFF predictor only supported at 8 bpc")
        import numpy as np

        h = len(data) // rowbytes
        if h == 0 or len(data) % rowbytes:
            raise ValueError("predictor data not a whole number of rows")
        arr = np.frombuffer(data[: h * rowbytes], np.uint8).reshape(
            h, columns, colors
        )
        return (
            np.cumsum(arr, axis=1, dtype=np.int64) % 256
        ).astype(np.uint8).tobytes()
    if pred >= 10:
        from .imaging import _unfilter

        h = len(data) // (rowbytes + 1)
        if h == 0 or len(data) % (rowbytes + 1):
            raise ValueError("predictor data not a whole number of rows")
        return _unfilter(data, h, rowbytes, bpp).tobytes()
    raise ValueError(f"unknown /Predictor {pred}")


def decode_stream(header: bytes, body: bytes):
    """Apply the stream's full filter chain.

    Returns ``(data, codec)``: ``codec`` is None when the chain decoded
    all the way to bytes, else the name of the image codec (or unknown
    filter) the chain stopped at — ``data`` is then that codec's
    codestream.  Returns ``(None, None)`` for corrupt/over-cap streams
    (error-as-value: callers skip, the document survives).
    """
    for idx, name in enumerate(stream_filters(header)):
        if name in _IMAGE_CODECS or name not in (
            b"FlateDecode", b"LZWDecode", b"ASCIIHexDecode",
            b"ASCII85Decode", b"RunLengthDecode",
        ):
            return body, name
        try:
            if name == b"FlateDecode":
                inflated = _inflate_guarded(body)
                if inflated is None:
                    return None, None
                body = _apply_predictor(inflated, header)
            elif name == b"LZWDecode":
                early = _int_param(header, b"EarlyChange", 1)
                body = _apply_predictor(
                    _lzw_decode_pdf(body, early), header
                )
            elif name == b"ASCIIHexDecode":
                body = _ascii_hex_decode(body)
            elif name == b"ASCII85Decode":
                body = _ascii85_decode(body)
            elif name == b"RunLengthDecode":
                body = _runlength_decode(body)
        except (ValueError, OverflowError):
            return None, None
    return body, None


def extract_pdf_text(pdf_bytes: bytes) -> PdfText:
    """Page text in TRUE page-tree order when the file has a parseable
    xref (extract/pdfobj.py — the ordering pdftotext produces); else
    the legacy scan: every text-bearing content stream is one 'page'
    in file order.  Counts embedded /Image XObjects for the OCR gate."""
    n_images = len(_IMAGE_RE.findall(pdf_bytes))
    from .pdfobj import page_text_payloads

    tree = page_text_payloads(pdf_bytes)
    if tree is not None:
        pages = []
        for segs in tree:
            texts = [_extract_stream_text(b, f) for b, f in segs]
            pages.append("\n".join(t for t in texts if t))
        return PdfText(pages=pages, n_images=n_images)
    pages: list[str] = []
    for header, body in _iter_streams(pdf_bytes):
        body, codec = decode_stream(header, body)
        if body is None or codec is not None:
            continue  # corrupt chain, or an image codec's codestream
        if b"/Image" in header:
            continue
        if b"BT" not in body:
            continue
        text = _extract_stream_text(body)
        if text or b"BT" in body:
            pages.append(text)
    return PdfText(pages=pages, n_images=n_images)


# inline-image (§8.9.7) abbreviated keys / colorspaces → canonical
_INLINE_KEY_MAP = {
    "W": "Width", "H": "Height", "BPC": "BitsPerComponent",
    "CS": "ColorSpace", "F": "Filter", "DP": "DecodeParms",
    "IM": "ImageMask", "D": "Decode", "I": "Interpolate",
}
_INLINE_CS_MAP = {"G": "DeviceGray", "RGB": "DeviceRGB", "CMYK": "DeviceCMYK"}
_WS_BYTES = b"\x00\t\n\x0c\r "
_INLINE_EI_RE = re.compile(rb"EI(?=[\s]|\Z)")


def _serialize_pdf_val(v) -> bytes:
    """Minimal parsed-value → header-bytes serializer (names, numbers,
    booleans, arrays, dicts) for re-feeding decode_stream."""
    if isinstance(v, bool):
        return b"true" if v else b"false"
    if isinstance(v, int):
        return b"%d" % v
    if isinstance(v, float):
        return repr(v).encode("ascii")
    if isinstance(v, str):  # a Name
        return b"/" + v.encode("latin-1")
    if isinstance(v, list):
        return b"[" + b" ".join(_serialize_pdf_val(x) for x in v) + b"]"
    if isinstance(v, dict):
        return (
            b"<< "
            + b" ".join(
                b"/%s %s" % (k.encode("latin-1"), _serialize_pdf_val(x))
                for k, x in v.items()
            )
            + b" >>"
        )
    raise ValueError("unserializable inline-image value")


def _iter_inline_images(content: bytes):
    """Yield (canonical_header, raw_filtered_data) for each BI/ID/EI
    inline image in a DECODED content stream (§8.9.7).  Abbreviated
    keys and colorspace names canonicalize so downstream header
    regexes and decode_stream see the XObject vocabulary."""
    from .pdfobj import _Lexer, parse_value

    for m in re.finditer(rb"(?:^|[\s])BI(?=[\s/])", content):
        try:
            lx = _Lexer(content, m.end())
            entries: dict[str, object] = {}
            while True:
                lx.skip_ws()
                if lx.starts(b"ID"):
                    lx.pos += 2
                    break
                if lx.peek() != 0x2F or len(entries) > 32:
                    raise ValueError("bad inline image dict")
                key = str(parse_value(lx))
                val = parse_value(lx)
                entries[_INLINE_KEY_MAP.get(key, key)] = val
            cs = entries.get("ColorSpace")
            if isinstance(cs, str):
                entries["ColorSpace"] = _INLINE_CS_MAP.get(str(cs), str(cs))
            if entries.get("ImageMask") is True:
                # stencil masks are 1-bit by definition (§8.9.6.2)
                entries.setdefault("BitsPerComponent", 1)
                entries.setdefault("ColorSpace", "DeviceGray")
            filt = entries.get("Filter")
            if isinstance(filt, str):
                entries["Filter"] = [filt]
            header = (
                b"<< "
                + b" ".join(
                    b"/%s %s" % (k.encode("latin-1"), _serialize_pdf_val(v))
                    for k, v in entries.items()
                )
                + b" >>"
            )
            start = lx.pos
            if start < len(content) and content[start] in _WS_BYTES:
                start += 1  # exactly one whitespace after ID
            w = int(entries.get("Width", 0) or 0)
            h = int(entries.get("Height", 0) or 0)
            if w <= 0 or h <= 0:
                continue
            if not entries.get("Filter"):
                bpc = int(entries.get("BitsPerComponent", 8) or 8)
                chans = {"DeviceRGB": 3, "DeviceCMYK": 4}.get(
                    str(entries.get("ColorSpace", "")), 1
                )
                total = ((w * bpc * chans + 7) // 8) * h
                if start + total > len(content):
                    continue
                yield header, content[start : start + total]
                continue
            # filtered data: EI delimiter scan — accept the first
            # whitespace-preceded EI whose segment decodes cleanly
            found = False
            for em in _INLINE_EI_RE.finditer(content, start):
                i = em.start()
                if i == start or content[i - 1] not in _WS_BYTES:
                    continue
                seg = content[start : i - 1]
                data, codec = decode_stream(header, seg)
                if data is not None:
                    yield header, seg
                    found = True
                    break
                del codec
            if not found:
                continue
        except (ValueError, OverflowError):
            continue


def _iter_image_payloads(pdf_bytes: bytes):
    """Every embedded image in file order — /Image XObject streams AND
    inline images inside content streams — as
    ``(canonical_header, decoded_data_or_None, codec)``."""
    for header, body in _iter_streams(pdf_bytes):
        if _IMAGE_RE.search(header):
            data, codec = decode_stream(header, body)
            yield header, data, codec
            continue
        data, codec = decode_stream(header, body)
        if data is None or codec is not None or b"BI" not in data:
            continue
        for ih, raw in _iter_inline_images(data):
            idata, icodec = decode_stream(ih, raw)
            yield ih, idata, icodec


def _object_stream_body(pdf_bytes: bytes, num: int) -> bytes | None:
    """Filter-decoded stream body of object ``num`` via file-order
    scan (the legacy-path analog of pdfobj resolution) — used for
    /JBIG2Globals references."""
    m = re.search(rb"(?<![0-9])%d\s+\d+\s+obj\b" % num, pdf_bytes)
    if not m:
        return None
    sm = _STREAM_RE.search(pdf_bytes, m.end())
    if not sm:
        return None
    # the stream must belong to object `num`: if an `endobj` closes the
    # object before the first stream body begins, the object is
    # stream-less and returning a later object's body would silently
    # mis-decode the globals (r5, ADVICE).  Compare against the BODY
    # start (sm.end()) — the non-greedy dict match can legitimately
    # span from this object's `<<` to a later object's `>> stream`.
    eo = pdf_bytes.find(b"endobj", m.end())
    if eo != -1 and eo < sm.end():
        return None
    for header, body in _iter_streams(pdf_bytes[m.start() :]):
        data, codec = decode_stream(header, body)
        return data if codec is None else body
    return None


_WIDTH_RE = re.compile(rb"/Width\s+(\d+)")
_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")
_CS_RE = re.compile(rb"/ColorSpace\s*/(Device(?:RGB|Gray))")


def extract_pdf_image_arrays(pdf_bytes: bytes) -> list[tuple]:
    """Decode embedded /Image XObjects to REAL (h, w) uint8 luma arrays
    where the sample format allows it (r3): filter-chain-decoded raster
    streams with /BitsPerComponent 8 (DeviceRGB/DeviceGray) or 1-bit
    gray/ImageMask reshape directly from their samples; DCTDecode
    bodies decode via extract/jpeg.py, CCITTFaxDecode via
    extract/ccitt.py (unsupported codecs are error-as-value).  Returns one
    ``(pixels, error)`` pair per image in file order, exactly one of
    the two non-None — the same error-as-value idiom as the text path.
    These arrays are what ``process_pdf`` hands its ``ocr_arrays``
    hook."""
    import numpy as np

    out: list[tuple] = []
    for header, body, codec in _iter_image_payloads(pdf_bytes):
        if body is None:
            out.append((None, "corrupt image filter chain"))
            continue
        if codec == b"DCTDecode":
            # body is a JPEG codestream — real decode (r3)
            from .jpeg import decode_jpeg

            try:
                out.append((decode_jpeg(body), None))
            except (ValueError, NotImplementedError) as e:
                out.append((None, f"DCTDecode: {e}"))
            continue
        if codec == b"JPXDecode":
            # body is a JPEG 2000 codestream / JP2 box — real decode
            # for the reversible profile (r4)
            from .jpx import decode_jpx

            try:
                out.append((decode_jpx(body), None))
            except (ValueError, NotImplementedError) as e:
                out.append((None, f"JPXDecode: {e}"))
            continue
        if codec == b"JBIG2Decode":
            # body is an embedded-organization JBIG2 segment stream —
            # real decode (r4); /JBIG2Globals (shared symbol dicts)
            # resolves by file-order object scan, like the legacy
            # text path
            from .jbig2 import decode_jbig2_embedded

            try:
                glob = b""
                gm = re.search(
                    rb"/JBIG2Globals\s+(\d+)\s+\d+\s+R", header
                )
                if gm:
                    glob = _object_stream_body(
                        pdf_bytes, int(gm.group(1))
                    ) or b""
                out.append((decode_jbig2_embedded(body, glob), None))
            except (ValueError, NotImplementedError) as e:
                out.append((None, f"JBIG2Decode: {e}"))
            continue
        if codec == b"CCITTFaxDecode":
            # body is a T.4/T.6 fax codestream — real decode (r3)
            from .ccitt import decode_ccitt

            try:
                out.append((
                    decode_ccitt(
                        body,
                        columns=_int_param(header, b"Columns", 1728),
                        rows=_int_param(header, b"Rows", 0),
                        k=_int_param(header, b"K", 0),
                        byte_align=_bool_param(header, b"EncodedByteAlign"),
                        black_is_1=_bool_param(header, b"BlackIs1"),
                    ),
                    None,
                ))
            except (ValueError, NotImplementedError) as e:
                out.append((None, f"CCITTFaxDecode: {e}"))
            continue
        if codec is not None:
            out.append((None, f"{codec.decode()} image codec not supported"))
            continue
        w_m, h_m, bpc_m, cs_m = (
            _WIDTH_RE.search(header), _HEIGHT_RE.search(header),
            _BPC_RE.search(header), _CS_RE.search(header),
        )
        if not (w_m and h_m):
            out.append((None, "image missing /Width or /Height"))
            continue
        w, h = int(w_m.group(1)), int(h_m.group(1))
        bpc = int(bpc_m.group(1)) if bpc_m else 8
        cs = cs_m.group(1).decode() if cs_m else "DeviceGray"
        if bpc == 1 and cs != "DeviceRGB":
            # 1-bit gray / ImageMask: rows pack MSB-first, pad to a byte
            # boundary (§8.9.5.2); 0 = black, 1 = white for DeviceGray.
            # /Decode [1 0] inverts the sample meaning (§8.9.5.2 table
            # 89) — the standard polarity flip on fax-in-PDF images.
            stride = (w + 7) // 8
            if w <= 0 or h <= 0 or len(body) < stride * h:
                out.append((None, "image samples truncated"))
                continue
            bits = np.unpackbits(
                np.frombuffer(body[: stride * h], np.uint8).reshape(
                    h, stride
                ),
                axis=1,
            )[:, :w]
            if re.search(rb"/Decode\s*\[\s*1(?:\.0)?\s+0(?:\.0)?\s*\]", header):
                bits = 1 - bits
            out.append(((bits * 255).astype(np.uint8), None))
            continue
        if bpc != 8:
            out.append((None, f"{bpc}-bit samples not supported"))
            continue
        nch = 3 if cs == "DeviceRGB" else 1
        if w <= 0 or h <= 0 or len(body) < w * h * nch:
            out.append((None, "image samples truncated"))
            continue
        px = np.frombuffer(body[: w * h * nch], dtype=np.uint8).reshape(h, w, nch)
        if nch == 3:
            r = px[:, :, 0].astype(np.uint32)
            g = px[:, :, 1].astype(np.uint32)
            b = px[:, :, 2].astype(np.uint32)
            luma = ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)
        else:
            luma = px[:, :, 0]
        out.append((luma, None))
    return out


def process_pdf(pdf_bytes: bytes, ocr_arrays: Callable | None = None) -> PdfResult:
    """Full PDF branch with the reference's blank-text/OCR-fallback gates.

    ``ocr_arrays`` (pluggable, off by default at web scale) maps ONE
    decoded (h, w) uint8 luma array to its text, e.g. the built-in
    extract/ocr.ocr_pixels recognizer.  On a blank text layer the
    embedded images are decoded in file order (extract_pdf_image_arrays,
    the pdfimages analog) and fanned out to ``ocr_arrays`` one by one;
    results join with '\\n\\n\\n' in image order
    (lib/pdf_processor.js:53-84).  A per-image decode or OCR failure
    fails the document with that error (error-as-value), matching the
    reference's first-error callback (pdf_processor.js:69-72).

    Without a hook a blank text layer reports 'OCR not configured' when
    some image stream decodes, else 'No images found in PDF'.
    """
    if not pdf_bytes.startswith(b"%PDF-"):
        return PdfResult(None, "Unsupported format: application/octet-stream")
    try:
        extracted = extract_pdf_text(pdf_bytes)
    except Exception as exc:  # never fail the row
        return PdfResult(None, f"PDF parse error: {type(exc).__name__}")
    text = " ".join(extracted.pages)
    if not _BLANK_RE.match(text):
        return PdfResult(text, None)
    # Blank text layer → OCR fallback (pdf_processor.js:32-38,53-84).
    try:
        if ocr_arrays is None:
            # a list, not a short-circuiting any(): a payload after the
            # first decodable one that raises still makes this a 'PDF
            # parse error'.  No decodable image (all-corrupt streams
            # included) is the reference's pdfimages-found-nothing value
            # (pdf_processor.js:61)
            decoded = [d is not None for _h, d, _c in _iter_image_payloads(pdf_bytes)]
            return PdfResult(None, OCR_UNAVAILABLE_ERROR if any(decoded) else NO_IMAGES_ERROR)
        pairs = extract_pdf_image_arrays(pdf_bytes)
    except Exception as exc:
        return PdfResult(None, f"PDF parse error: {type(exc).__name__}")
    if not pairs:
        return PdfResult(None, NO_IMAGES_ERROR)
    ocr_pages = []
    for px, img_err in pairs:
        if img_err is not None:
            # first-error callback semantics (pdf_processor.js:69-72)
            return PdfResult(None, f"OCR error: {img_err}")
        try:
            ocr_pages.append(ocr_arrays(px))
        except Exception as exc:
            return PdfResult(None, f"OCR error: {type(exc).__name__}")
    return PdfResult("\n\n\n".join(ocr_pages), None)
