"""Text-analysis column functions (training-data pipeline ops).

JVM-side column expressions where Spark built-ins suffice (token count,
quality ratios, stopword lang-id — all codegen'd, no Python), plus a
vectorized Karp-Rabin rolling-hash document fingerprint (numpy Horner
over UTF-8 bytes — content-defined, order-sensitive, unlike the md5
set-style fingerprint used for exact dedup).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# --- JVM-side helpers (shared by plans/queries.py semantics) -------------------

EN_STOPWORDS = r"\b(the|and|of|to|in|is|for|with|that|this)\b"
ES_STOPWORDS = r"\b(el|la|de|que|y|en|los|del|las|por)\b"


def token_count(col) -> Column:
    trimmed = F.trim(col) if isinstance(col, Column) else F.trim(F.col(col))
    return (
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
    )


def alpha_ratio(col) -> Column:
    c = col if isinstance(col, Column) else F.col(col)
    return F.round(F.length(F.regexp_replace(c, "[^a-zA-Z]", "")) / F.length(c), 6)


def stopword_lang(col) -> Column:
    c = F.lower(col if isinstance(col, Column) else F.col(col))
    en = F.regexp_count(c, F.lit(EN_STOPWORDS))
    es = F.regexp_count(c, F.lit(ES_STOPWORDS))
    return F.when(en >= es, F.lit("en")).otherwise(F.lit("es"))


# --- rolling-hash fingerprint ---------------------------------------------------

_KR_BASE = np.uint64(257)
_KR_MOD = np.uint64((1 << 61) - 1)  # Mersenne prime 2^61-1


_KR_B, _KR_M = 257, (1 << 61) - 1
_KR_CHUNK = 65536
_KR_TABLES: tuple[np.ndarray, np.ndarray] | None = None


def _kr_tables() -> tuple[np.ndarray, np.ndarray]:
    """Descending power table B^(chunk-1-j) mod M, split into 32-bit
    halves so byte×power dot products stay EXACT in uint64:
    byte·lo < 2^40, summed over 2^16 terms < 2^56; byte·hi < 2^37,
    summed < 2^53 — no overflow, no modular loss."""
    global _KR_TABLES
    if _KR_TABLES is None:
        pows = [0] * _KR_CHUNK
        p = 1
        for j in range(_KR_CHUNK - 1, -1, -1):
            pows[j] = p
            p = p * _KR_B % _KR_M
        lo = np.array([x & 0xFFFFFFFF for x in pows], dtype=np.uint64)
        hi = np.array([x >> 32 for x in pows], dtype=np.uint64)
        _KR_TABLES = (lo, hi)
    return _KR_TABLES


def _karp_rabin(data: bytes) -> int:
    """Horner fold h = (h*B + byte) mod (2^61-1), fully vectorized:
    per 64 KB chunk, acc = Σ byte_i · B^(k-1-i) is two exact uint64
    dot products (32-bit-split power table) + O(1) Python big-int
    recombination — no per-byte Python loop."""
    if not data:
        return 0
    lo, hi = _kr_tables()
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    h = 0
    for start in range(0, len(arr), _KR_CHUNK):
        part = arr[start : start + _KR_CHUNK]
        k = len(part)
        tail_lo = lo[_KR_CHUNK - k :]
        tail_hi = hi[_KR_CHUNK - k :]
        s_lo = int((part * tail_lo).sum(dtype=np.uint64))
        s_hi = int((part * tail_hi).sum(dtype=np.uint64))
        acc = ((s_hi << 32) + s_lo) % _KR_M
        h = (h * pow(_KR_B, k, _KR_M) + acc) % _KR_M
    return h


def rolling_fingerprint(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(id, fingerprint LONG): Karp-Rabin rolling hash of the
    whitespace-normalized lowercased UTF-8 text.  Map-only pandas UDF;
    deterministic across runs/platforms (pure integer math)."""

    def fp(texts: pd.Series) -> pd.Series:
        import re

        ws = re.compile(r"\s+")
        out = []
        for t in texts:
            norm = ws.sub(" ", (t or "").lower()).strip().encode("utf-8")
            out.append(_karp_rabin(norm) & 0x7FFFFFFFFFFFFFFF)
        return pd.Series(out, dtype="int64")

    udf = pandas_udf(fp, "long")
    return df.select(F.col(id_col), udf(F.col(text_col)).alias("fingerprint"))


def segment_lines(
    text: str,
    min_chars: int = 1,
    min_alpha_ratio: float = 0.0,
) -> list[str]:
    """OCR-text line segmentation (north-star component; the text-side
    analog of the reference's word-shaped text-element contour filter,
    opencv.js:150-180): split on newlines, strip each line, drop lines
    below ``min_chars`` or whose alphabetic ratio is below
    ``min_alpha_ratio`` (punctuation/noise lines — the aspect-ratio
    test's textual counterpart).

    Defaults are PASS-THROUGH thresholds: the reference pipes tesseract
    output to the parser cascade unfiltered (lib/image_processor.js:48-54
    → lib/processor.js:68-78), so the extraction UDF does not call
    this: its output stays byte-identical to the extractor's text.
    """
    out = []
    for line in text.split("\n"):
        stripped = line.strip()
        if len(stripped) < min_chars:
            continue
        if min_alpha_ratio > 0.0:
            n_alpha = sum(1 for ch in stripped if ch.isalpha())
            if n_alpha / len(stripped) < min_alpha_ratio:
                continue
        out.append(stripped)
    return out
