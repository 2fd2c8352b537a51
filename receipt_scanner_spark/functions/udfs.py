"""The fused extraction UDF: an Arrow UDF, the engine's only Python hot path.

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
UDFs would cost two JVM↔Python exchanges in the same stage).
The row kernels ``extract_row`` / ``parse_row`` and the layer entry
points are looked up as module globals on every row, so a profiler
can wrap them in place (perfbench/tracing.py does).

No pandas in the Spark Python worker: the body is an ``arrow_udf``
(PySpark ≥ 4.1).  It reads each batch's columns with ``to_pylist()``
and builds its ``StructArray`` output from buffers (``_struct_array``),
already of the type Spark expects (``PROCESS_TYPE``), so Spark passes it
through without a cast.  ``pyarrow.array`` on Python objects and
``Array.to_numpy``/``to_pandas`` would each load pandas into the
worker (~70 MB per worker).  Each row's strings are encoded to UTF-8 in
that row's guard, so a value Arrow cannot hold fails its row, not the
batch.  Called with ``pd.Series`` columns the body returns a
``pd.DataFrame`` of the same rows (tests, tools, perfbench's replay).

``build_process_udf`` resolves the config once (profile, custom parser
list — reference plug-in surface T17, lib/processor.js:86-90 — and OCR
hook); the default config is the one prebuilt ``process_udf``, and
the row kernels only read the resolved values.
"""

from __future__ import annotations

from array import array
from itertools import accumulate
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
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

# the Arrow type Spark expects of the UDF's output
PROCESS_TYPE = to_arrow_type(PROCESS_SCHEMA)
_SPANS_TYPE = PROCESS_TYPE.field("spans").type
_EXTRA_TYPE = PROCESS_TYPE.field("extra").type


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

    def process(html, text):
        """``pa.Array`` columns (what Spark passes) → ``pa.StructArray``;
        ``pd.Series`` columns → a ``pd.DataFrame`` of the same rows.  The
        ``StructArray`` is built either way, so a replay on ``pd.Series``
        (perfbench/tracing.py) times the work a Spark worker does."""
        arrow = isinstance(html, pa.Array)
        if arrow:
            html, text = html.to_pylist(), text.to_pylist()
        rows, encoded = [], []
        for h, t in zip(html, text):
            fmt = extracted = None
            try:
                fmt, extracted, error = extract_row(h, t, profile=stripper, ocr_arrays=ocr_arrays)
                row = (fmt, extracted, error, *parse_row(extracted, cascade))
                encoded.append(_encode_row(*row))
            except Exception as exc:
                # one bad document never fails the batch: an unexpected
                # exception, or a value Arrow cannot hold, becomes this
                # row's error value
                row = _error_row(fmt, extracted, exc)
                encoded.append(_encode_row(*row))
            rows.append(row)
        out = _struct_array(encoded)
        if arrow:
            return out
        import pandas as pd  # callers outside Spark only: Spark passes pa.Array

        return pd.DataFrame(rows, columns=PROCESS_SCHEMA.names)

    return arrow_udf(PROCESS_SCHEMA)(process)


# --- Arrow output from buffers -----------------------------------------------

_I32_MAX = (1 << 31) - 1


def _utf8(s: str | None) -> bytes | None:
    return None if s is None else str.encode(s)  # TypeError for a non-str


def _int32(v: int) -> int:
    if not -_I32_MAX - 1 <= v <= _I32_MAX:
        raise OverflowError(f"span offset {v} does not fit int32")
    return v


def _encode_row(fmt, extracted, error, amount, date, spans, extra) -> tuple:
    """One output row as ``_struct_array`` reads it: every string UTF-8
    encoded (``UnicodeEncodeError`` for a lone surrogate), spans as
    (parser, start, end, text) tuples, extra as (key, value) pairs."""
    if spans is not None:
        spans = [(str.encode(s["parser"]), _int32(s["start"]), _int32(s["end"]),
                  str.encode(s["text"])) for s in spans]
    if extra is not None:
        extra = [(str.encode(k), _utf8(v)) for k, v in extra.items()]
    return _utf8(fmt), _utf8(extracted), _utf8(error), _utf8(amount), _utf8(date), spans, extra


def _error_row(fmt: str | None, extracted, exc: Exception) -> tuple:
    """The row of a document whose kernels, or the encoding of their
    output, raised: its format and text as far as they were computed (no
    text that is not a string Arrow can hold)."""
    try:
        _utf8(extracted)
    except (TypeError, UnicodeEncodeError):
        extracted = None
    return fmt, extracted, f"internal error: {type(exc).__name__}", None, None, None, None


def _offsets(lengths) -> pa.Buffer:
    """int32 Arrow offsets of consecutive lengths.  The sum is exact, so a
    column of one batch over 2**31 - 1 bytes raises instead of wrapping."""
    ends = list(accumulate(lengths, initial=0))
    if ends[-1] > _I32_MAX:
        raise ValueError(
            f"one Arrow batch's output column holds {ends[-1]} bytes or items, over"
            " the int32 offset limit 2**31 - 1; lower"
            " spark.sql.execution.arrow.maxBytesPerBatch")
    return pa.py_buffer(array("i", ends))


def _validity(values) -> tuple[pa.Buffer | None, int]:
    """(validity bitmap, null count); no bitmap when nothing is null."""
    nulls = values.count(None)
    if not nulls:
        return None, 0
    valid = np.fromiter((v is not None for v in values), bool, len(values))
    return pa.py_buffer(np.packbits(valid, bitorder="little")), nulls


def _lengths(values, nulls: int):
    return (0 if v is None else len(v) for v in values) if nulls else map(len, values)


def _strings(values) -> pa.Array:
    bitmap, nulls = _validity(values)
    return pa.StringArray.from_buffers(
        len(values), _offsets(_lengths(values, nulls)),
        pa.py_buffer(b"".join(filter(None, values))), bitmap, nulls)


def _int32s(values) -> pa.Array:
    return pa.Array.from_buffers(pa.int32(), len(values), [None, pa.py_buffer(array("i", values))])


def _lists(type_: pa.DataType, rows, fields: list, children: list) -> pa.Array:
    """A list (or map) column: ``rows`` holds each row's item list or
    None, ``children`` the struct fields of all items in order."""
    bitmap, nulls = _validity(rows)
    return pa.Array.from_buffers(
        type_, len(rows), [bitmap, _offsets(_lengths(rows, nulls))],
        null_count=nulls, children=[pa.StructArray.from_arrays(children, fields=fields)])


def _struct_array(rows: list[tuple]) -> pa.StructArray:
    """``_encode_row`` rows → the UDF's output, of type ``PROCESS_TYPE``."""
    columns = list(zip(*rows)) if rows else [()] * len(PROCESS_TYPE)
    spans, extra = columns[5], columns[6]
    span_items = [s for r in spans if r is not None for s in r]
    extra_items = [kv for r in extra if r is not None for kv in r]
    parser, start, end, text = zip(*span_items) if span_items else [()] * 4
    key, value = zip(*extra_items) if extra_items else [()] * 2
    return pa.StructArray.from_arrays(
        [*map(_strings, columns[:5]),
         _lists(_SPANS_TYPE, spans, list(_SPANS_TYPE.value_type),
                [_strings(parser), _int32s(start), _int32s(end), _strings(text)]),
         _lists(_EXTRA_TYPE, extra, [_EXTRA_TYPE.key_field, _EXTRA_TYPE.item_field],
                [_strings(key), _strings(value)])],
        fields=list(PROCESS_TYPE))


# Default instance: the body perfbench/tracing.py replays.
process_udf = _build_process_udf(None, None, None)
