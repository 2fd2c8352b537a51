"""Arrow-batched pandas UDFs — the engine's only Python hot path.

Design (SURVEY.md §1.4): the reference processes one document at a time
through child processes; here many documents cross the JVM→Python
boundary per Arrow batch (closed after the row that crosses
``spark.sql.execution.arrow.maxBytesPerBatch``, 1 MiB in
plans/session.get_spark, or at 10k rows: at most 1 MiB plus one row,
and ``extract_row`` reads no row over 16 MiB), and each row is
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

``build_process_udf`` resolves the config once (profile, custom parser
list — reference plug-in surface T17, lib/processor.js:86-90 — and OCR
hook); the default config is the one prebuilt ``process_udf``, and
the row kernels only read the resolved values.
"""

from __future__ import annotations

from typing import Callable

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

# html_fast is the production stripper; extract/html.py is the executable
# spec it is differentially tested against.
from ..extract.html_fast import extract_main_text_fast as extract_main_text
from ..extract.ocr import image_text
from ..extract.pdf import OCR_UNAVAILABLE_ERROR, process_pdf
from ..extract.profiles import PROFILES, StripperProfile
from ..extract.sniff import MAX_DOC_BYTES, maybe_gunzip, sniff_format, unsupported_error
from ..parsers.amount import parse_amount
from ..parsers.date import parse_date
from ..parsers.registry import read_result, resolve_cascade

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

# cascade entries holding these fill the amount/date columns
_AMOUNT, _DATE = parse_amount, parse_date


def extract_row(
    html: bytes | None,
    text: str | None,
    *,
    profile: StripperProfile = PROFILES["default"],
    ocr_arrays: Callable | None = None,
) -> tuple[str, str | None, str | None]:
    """(html bytes, upstream text) → (format, extracted_text, error).

    Dispatch semantics from lib/processor.js:56-65 generalized: html →
    stripper, pdf → text layer (+OCR gate), image/* → upstream OCR text
    (the ``text`` column), empty → empty text, else → error value.

    ``profile``: a StripperProfile (extract/profiles.py, I12-I14) whose
    thresholds go to the stripper; the default profile's fields are the
    stripper's defaults (the byte-identity contract path).

    ``ocr_arrays(luma_hw_uint8) -> text`` is the one OCR hook (off by
    default at web scale — I11; the extract/ocr.ocr_pixels contract).
    It sees decoded pixels: a standalone image goes through
    extract/ocr.image_text with the format sniffed here (its decoder
    looked up by that tag, EXIF orientation applied, every TIFF page),
    PDF images through extract/pdf.extract_pdf_image_arrays.

    Per-document budget: a payload over ``MAX_DOC_BYTES`` (16 MiB, after
    gunzip) or an upstream ``text`` over as many characters is the error
    value ``Document too large: <n> bytes`` (the payload's length, else
    the text's UTF-8 length).  Its format is still sniffed; no stripper,
    PDF, OCR or parser call is made for it.
    """
    html = maybe_gunzip(html)  # WARC-style gzip'd payloads (no-op else)
    fmt = sniff_format(html)
    if html is not None and len(html) > MAX_DOC_BYTES:
        return fmt, None, f"Document too large: {len(html)} bytes"
    if text is not None and len(text) > MAX_DOC_BYTES:
        n = len(text.encode("utf-8", "surrogatepass"))
        return fmt, None, f"Document too large: {n} bytes"
    if fmt == "html":
        return fmt, extract_main_text(
            html,
            min_block_chars=profile.min_block_chars,
            max_link_density=profile.max_link_density,
            drop_chrome=profile.drop_chrome,
        ), None
    if fmt == "pdf":
        r = process_pdf(bytes(html), ocr_arrays=ocr_arrays)
        return fmt, r.text, r.error
    if fmt.startswith("image/"):
        # OCR is pluggable and off by default at web scale (I11); the
        # `text` column carries upstream OCR output when present.
        if text is not None:
            return fmt, text, None
        if ocr_arrays is None:
            return fmt, None, OCR_UNAVAILABLE_ERROR
        return fmt, *image_text(bytes(html), fmt, ocr_arrays)
    if fmt == "empty":
        return fmt, (text or ""), None
    if fmt == "text":
        return fmt, bytes(html).decode("utf-8", errors="replace"), None
    return fmt, None, unsupported_error(fmt)


def parse_row(
    text: str | None, cascade: tuple = resolve_cascade()
) -> tuple[str | None, str | None, list[dict] | None, dict | None]:
    """extracted_text → (amount, date, spans, extra) over a resolved
    cascade (``resolve_cascade``).  Span offsets are relative to the text
    the parser actually scanned (amount: paren-normalized text; date:
    repair-rewritten text), as the reference's verbose match lists
    (lib/text_parser.js:35-40).  ``extra``: other entries' matches."""
    if text is None:
        return None, None, None, None
    amount_val: str | None = None
    date_val: str | None = None
    spans: list[dict] = []
    extra: dict[str, str | None] = {}
    for name, fn, config in cascade:
        if fn is _AMOUNT:
            r = parse_amount(text, config)
            amount_val = r["match"]
            for m in r["matches"]:
                spans.append(
                    {"parser": "amount", "start": m.start, "end": m.end, "text": m.text}
                )
        elif fn is _DATE:
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
            extra[name], matches = read_result(fn(text, config))
            for m in matches:
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
    *,
    profile: str | None = None,
    ocr_arrays: Callable | None = None,
):
    """Fused extract+parse: one Arrow exchange per batch.  The closure
    captures the config resolved once: ``profile`` (a PROFILES name,
    I12-I14; None is 'default') → its StripperProfile, ``parsers`` →
    ``resolve_cascade(parsers)``, and the pixel OCR hook ``ocr_arrays``.
    ``ValueError`` for a bad name or a config its parser fails on "";
    ``TypeError`` for a non-callable ``ocr_arrays``.

    The default config returns the module's ``process_udf``, so Spark
    pickles its closure and registers its JVM function once per
    process; any other config builds a new UDF."""
    if not parsers and profile in (None, "default") and ocr_arrays is None:
        return process_udf
    return _build_process_udf(parsers, profile, ocr_arrays)


def _build_process_udf(parsers, profile, ocr_arrays):
    if ocr_arrays is not None and not callable(ocr_arrays):
        raise TypeError(f"ocr_arrays must be callable, not {type(ocr_arrays).__name__}")
    try:
        stripper = PROFILES["default" if profile is None else profile]
        cascade = resolve_cascade(parsers)
        for _name, fn, config in cascade:
            if config is not None:  # a bad name in a config fails here, not per row
                fn("", config).get("match")
    except Exception as exc:
        raise ValueError(f"bad extraction config {profile=}, {parsers=}: {exc!r}") from exc

    @pandas_udf(PROCESS_SCHEMA)
    def process(html: pd.Series, text: pd.Series) -> pd.DataFrame:
        out = []
        for h, t in zip(html, text):
            fmt = extracted = None
            try:
                fmt, extracted, error = extract_row(h, t, profile=stripper, ocr_arrays=ocr_arrays)
                out.append((fmt, extracted, error, *parse_row(extracted, cascade)))
            except Exception as exc:
                # one bad document never fails the batch: an unexpected
                # exception becomes this row's error value
                out.append((fmt, extracted, f"internal error: {type(exc).__name__}",
                            None, None, None, None))
        return pd.DataFrame(out, columns=PROCESS_SCHEMA.names)

    return process


# Default instance: the body perfbench/tracing.py replays.
process_udf = _build_process_udf(None, None, None)
