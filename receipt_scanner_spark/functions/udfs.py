"""Arrow-batched pandas UDFs — the engine's only Python hot path.

Design (SURVEY.md §1.4): the reference processes one document at a time
through child processes; here thousands of documents cross the
JVM→Python boundary per Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch``), and each row is
handled by the pure-Python extract/parse core (no per-row Python *UDF
calls*, per BASELINE.json input_hint — the per-row work is regex/DOM
parsing that is irreducibly row-wise, batched through one vectorized
call).

One fusion level: ``process_udf`` runs format sniff, text extraction
and the parser cascade in ONE Arrow round-trip per batch (two chained
pandas UDFs would cost two JVM↔Python exchanges in the same stage).
The row kernels ``extract_row`` / ``parse_row`` and the layer entry
points are looked up as module globals on every row, so a profiler
can wrap them in place (perfbench/tracing.py does).

Custom parsers (reference plug-in surface T17, lib/processor.js:86-90)
are supported by building a UDF from an explicit parser list via
``build_process_udf([...])``.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# html_fast is the production stripper (~2.6x faster); extract/html.py is
# the executable spec it is differentially tested against.
from ..extract.html_fast import extract_main_text_fast as extract_main_text
from ..extract.pdf import OCR_UNAVAILABLE_ERROR, process_pdf
from ..extract.sniff import maybe_gunzip, sniff_format, unsupported_error
from ..parsers.amount import parse_amount
from ..parsers.date import parse_date
from ..parsers.registry import PARSERS

SPAN_TYPE = StructType(
    [
        StructField("parser", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("text", StringType()),
    ]
)

PROCESS_SCHEMA = StructType(
    [
        StructField("format", StringType()),
        StructField("extracted_text", StringType()),
        StructField("error", StringType()),
        StructField("amount", StringType()),
        StructField("date", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        # results of any additional registry/custom parsers, keyed by
        # parser name (the reference keys results the same way,
        # lib/text_parser.js:33)
        StructField("extra", MapType(StringType(), StringType())),
    ]
)


# --- row kernels (pure) ------------------------------------------------------

def extract_row(
    html: bytes | None,
    text: str | None,
    ocr: Callable | None = None,
    profile: str | None = None,
    ocr_arrays: Callable | None = None,
) -> tuple[str, str | None, str | None]:
    """(html bytes, upstream text) → (format, extracted_text, error).

    Dispatch semantics from lib/processor.js:56-65 generalized: html →
    stripper, pdf → text layer (+OCR gate), image/* → upstream OCR text
    (the ``text`` column), empty → empty text, else → error value.

    ``profile``: named preprocessing profile (extract/profiles.py — the
    reference's selectable preprocessor surface I12-I14); None/'default'
    is the byte-identity contract path.

    OCR engines (both pluggable, off by default at web scale — I11):
    ``ocr(image_bytes) -> text`` consumes encoded bytes (the tesseract-
    adapter contract); ``ocr_arrays(luma_hw_uint8) -> text`` consumes
    real decoded pixels (the extract/ocr.ocr_pixels contract) — for it,
    standalone images decode via extract/imaging.decode_pixels and PDF
    XObjects via extract_pdf_image_arrays.  ``ocr`` wins when both are
    given (it sees the original bytes).
    """
    html = maybe_gunzip(html)  # WARC-style gzip'd payloads (no-op else)
    fmt = sniff_format(html)
    if fmt == "html":
        if profile is None or profile == "default":
            return fmt, extract_main_text(html), None
        from ..extract.profiles import extract_with_profile

        return fmt, extract_with_profile(html, profile), None
    if fmt == "pdf":
        r = process_pdf(bytes(html), ocr=ocr, ocr_arrays=ocr_arrays)
        return fmt, r.text, r.error
    if fmt.startswith("image/"):
        # OCR is pluggable and off by default at web scale (I11); the
        # `text` column carries upstream OCR output when present.
        # Contract: ocr(image_bytes) -> text, one call per image (the
        # ImageProcessor analog — a standalone image is ONE image).
        if text is not None:
            return fmt, text, None
        if ocr is not None:
            try:
                return fmt, ocr(bytes(html)), None
            except Exception as exc:
                return fmt, None, f"OCR error: {type(exc).__name__}"
        if ocr_arrays is not None:
            from ..extract.imaging import (
                apply_orientation,
                decode_pixels,
                exif_orientation,
            )

            try:
                if fmt == "image/tiff":
                    # fax/scanner TIFFs chain pages as IFDs: OCR every
                    # page, '\n\n\n'-joined (the PDF multi-image
                    # convention, lib/pdf_processor.js:53-84)
                    from ..extract.tiff import decode_tiff_pages

                    pages = decode_tiff_pages(bytes(html))
                    if not pages:
                        return fmt, None, "OCR error: no decodable pages"
                    return fmt, "\n\n\n".join(
                        ocr_arrays(p) for p in pages
                    ), None
                px = decode_pixels(bytes(html))
                # phone photos arrive rotated with an EXIF tag; honor
                # it like tesseract/PIL do before reading glyphs
                px = apply_orientation(px, exif_orientation(bytes(html)))
                return fmt, ocr_arrays(px), None
            except NotImplementedError as exc:
                return fmt, None, f"OCR error: {exc}"
            except Exception as exc:
                return fmt, None, f"OCR error: {type(exc).__name__}"
        return fmt, None, OCR_UNAVAILABLE_ERROR
    if fmt == "empty":
        return fmt, (text or ""), None
    if fmt == "text":
        return fmt, bytes(html).decode("utf-8", errors="replace"), None
    return fmt, None, unsupported_error(fmt)


def parse_row(
    text: str | None, parsers: Iterable[Any] | None = None
) -> tuple[str | None, str | None, list[dict] | None, dict | None]:
    """extracted_text → (amount, date, spans, extra).  Span offsets are
    relative to the text the parser actually scanned (amount:
    paren-normalized text; date: repair-rewritten text), mirroring the
    reference's verbose match lists (lib/text_parser.js:35-40).
    ``extra`` maps any non-default parser's name to its match."""
    if text is None:
        return None, None, None, None
    amount_val: str | None = None
    date_val: str | None = None
    spans: list[dict] = []
    extra: dict[str, str | None] = {}
    for entry in parsers or ("amount", "date"):
        config = None
        if isinstance(entry, (list, tuple)):
            entry, config = entry
        if entry == "amount" or entry is parse_amount:
            r = parse_amount(text, config)
            amount_val = r["match"]
            for m in r["matches"]:
                spans.append(
                    {"parser": "amount", "start": m.start, "end": m.end, "text": m.text}
                )
        elif entry == "date" or entry is parse_date:
            r = parse_date(text, config)
            date_val = r["match"]
            for dm in r["matches"]:
                spans.append(
                    {
                        "parser": "date",
                        "start": dm.index,
                        "end": dm.index + len(dm.text),
                        "text": dm.text,
                    }
                )
        else:
            name = entry if isinstance(entry, str) else getattr(entry, "__name__", "custom")
            fn = PARSERS[entry] if isinstance(entry, str) else entry
            r = fn(text, config)
            extra[name] = r.get("match")
            for m in r.get("matches", []):
                spans.append(
                    {
                        "parser": name,
                        "start": int(getattr(m, "start", -1)),
                        "end": int(getattr(m, "end", -1)),
                        "text": str(getattr(m, "text", m)),
                    }
                )
    return amount_val, date_val, spans, (extra or None)


# --- UDF builder -------------------------------------------------------------

def build_process_udf(
    parsers: list | None = None,
    ocr: Callable | None = None,
    profile: str | None = None,
    ocr_arrays: Callable | None = None,
):
    """Fused extract+parse: one Arrow exchange per batch.

    ``profile``: named stripper preprocessing profile
    (extract/profiles.PROFILES) — the reference's selectable
    preprocessor surface (I12-I14)."""

    @pandas_udf(PROCESS_SCHEMA)
    def process(html: pd.Series, text: pd.Series) -> pd.DataFrame:
        out = []
        for h, t in zip(html, text):
            fmt, extracted, error = extract_row(h, t, ocr, profile, ocr_arrays)
            out.append((fmt, extracted, error, *parse_row(extracted, parsers)))
        return pd.DataFrame(out, columns=PROCESS_SCHEMA.names)

    return process


# Default instance (module-level so Spark serializes one closure).
process_udf = build_process_udf()
