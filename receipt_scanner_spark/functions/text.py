"""Text-analysis functions (training-data pipeline ops).

A vectorized Karp-Rabin rolling-hash document fingerprint (numpy Horner
over UTF-8 bytes — content-defined, order-sensitive, unlike the md5
set-style fingerprint used for exact dedup).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# --- rolling-hash fingerprint ---------------------------------------------------

_KR_B, _KR_M = 257, (1 << 61) - 1  # Mersenne prime 2^61-1
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
