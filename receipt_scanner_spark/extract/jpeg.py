"""Real JPEG decoder (baseline sequential + progressive), stdlib +
numpy only — the last codec gap (r3).

PNG/GIF/BMP decode became real earlier in r3 (extract/imaging.py);
JPEG was the one format still behind a NotImplementedError because it
needs DCT entropy coding.  This module implements ITU-T T.81 from the
spec: marker parse (SOI / APPn / COM / DQT / DHT / DRI / SOF0-2 /
SOS), canonical Huffman tables compiled to a 16-bit LUT (Annex C),
byte-unstuffed entropy decode with restart intervals (F.2.2), DC
prediction + AC run-length/EOB (F.2.2.1-2), the full progressive
process (G.1.2: spectral selection, successive approximation with
DC/AC refinement scans and EOB runs), dequantization, batched 8×8
inverse DCT (two batched matmuls over all blocks at once), nearest
chroma upsampling, and BT.601 luma output matching the
``decode_pixels`` contract.

The lossless process (SOF3, Annex H — scanner output) also decodes:
per-sample Huffman prediction differences with predictors 1-7,
2-16-bit precision, point transform and restart intervals
(``_lossless_scan``; bit-exact by definition, oracle-tested).  As of
r5 the arithmetic lossless process (SOF11) decodes too: the shared
``_lossless_reconstruct`` driver runs with the H.1.2.2 entropy layer
from extract/jarith.py.

Arithmetic-coded processes (SOF9 sequential, SOF10 progressive)
decode too as of r4 — the T.81 Annex D QM-coder and F.2.2/G.2
statistical models live in extract/jarith.py (differentially tested
against a third-party codec); this module parses the DAC marker and
dispatches the scans.

Multi-scan *sequential* files (per-component scan scripts) decode
via the progressive coefficient store (``_sequential_scan_into``),
and 4-channel Adobe CMYK/YCCK frames compose to luma under the
inverted-ink convention — both differentially tested against a
third-party codec (tests/test_jpeg_arith.py::TestMultiScanAndCmyk).

12-bit DCT precision decodes as of r5 for BOTH Huffman DCT processes
— extended-sequential (SOF1) and progressive (SOF2): Pq=1 16-bit
quantization tables, 12-bit level shift/clip, high-byte output; the
coefficient paths are depth-blind, pinned by sequential-vs-progressive
bit-identity twins (tests/test_jpeg.py::Test12BitPrecision).  Honest
boundaries (NotImplementedError, mapped to error-as-value rows by
every caller): hierarchical/differential processes, 12-bit arithmetic
progressive (sequential 12-bit arithmetic decodes as of r5, pinned by
the coefficient-identical Huffman twin), and the ARITHMETIC lossless
combinations beyond 1x1 full-scan 1-3-component frames.  HUFFMAN
lossless is general as of the r5 continuation: subsampled interleaved
frames (h x v-sample MCUs), non-interleaved component-subset
multi-scan assembled at EOI, and 4-channel Adobe composition
(_lossless_scan_general; restarts with subsampling stay a typed
error — no lossless codec on this host to pin the per-MCU reset).
Multi-scan sequential decodes for BOTH entropy coders (r5 adds the
arithmetic scan-script shape via jarith.sequential_scan_into, pinned
by coefficient-preserving libjpeg transcodes).
Corrupt/truncated payloads raise ValueError.  Baseline covers every
phone-camera default, progressive covers the web-CDN re-encode
population, and arithmetic covers `jpegtran -arithmetic` re-encodes,
so the gate that used to say "JPEG needs a codec library" now only
excludes exotica.

Reference parity: the reference hands JPEG to graphicsmagick/sharp
(lib/image_processor.js); here the decode feeds the same plug points
(feature extraction, resize, OCR, PDF /DCTDecode XObjects via
extract/pdf.extract_pdf_image_arrays) so a library swap stays
config-only.

Scale note: the per-symbol Huffman loop is Python (a few hundred ns
per coefficient); everything after it is batched numpy (preallocated
MCU-order coefficient stores, two batched matmuls for the IDCT, one
reshape/transpose for plane assembly — measured 2-3× over the naive
per-block path, bit-identical).  That bounds single-image decode at
roughly 3-10 megapixels per second per core depending on coefficient
density — fine for the mapInPandas batch shape the multimodal
operators use (one image per row, work ∝ pixels), and the honest
statement is that a 100 TB image corpus would swap in a codec library
at this exact seam anyway.
"""

from __future__ import annotations

import numpy as np

# zigzag position -> natural (row-major) index, T.81 Figure A.6
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

_SOF_DIFFERENTIAL = {
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xCD: "arithmetic differential (SOF13)",
    0xCE: "arithmetic differential progressive (SOF14)",
    0xCF: "arithmetic differential lossless (SOF15)",
}


def _idct_basis() -> np.ndarray:
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    c = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0)
    return (c / 2.0) * np.cos((2 * x + 1) * u * np.pi / 16.0)


_C = _idct_basis()  # C[u, x]; spatial = C.T @ COEF @ C


def _build_huffman(counts: bytes, symbols: bytes) -> list:
    """Canonical Huffman table (T.81 Annex C) compiled to a 16-bit
    lookup: ``lut[window] = (symbol, code_length)`` for every 16-bit
    window whose prefix is a valid code (max JPEG code length is 16,
    so one peek + one list index decodes any symbol).  ``None`` marks
    windows starting with no valid code."""
    lut: list = [None] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if k >= len(symbols):
                raise ValueError("DHT symbol count overflow")
            entry = (symbols[k], length)
            start = code << (16 - length)
            lut[start : start + (1 << (16 - length))] = [entry] * (
                1 << (16 - length)
            )
            code += 1
            k += 1
        if code > (1 << length):
            raise ValueError("over-subscribed DHT")
        code <<= 1
    return lut


class _BitReader:
    """MSB-first reader over one entropy-coded segment (already
    byte-unstuffed).  A bounded accumulator (≤ 23 bits) keeps every
    read O(1) — building one big int over the segment would make each
    shift O(segment) and whole-image decode quadratic (measured: a
    350 KB no-restart scan took 105 s that way, 3 s this way)."""

    __slots__ = ("data", "n", "i", "acc", "nbits")

    def __init__(self, seg: bytes):
        self.data = seg
        self.n = len(seg)
        self.i = 0
        self.acc = 0
        self.nbits = 0

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        acc, nbits, i = self.acc, self.nbits, self.i
        while nbits < n:
            if i >= self.n:
                raise ValueError("truncated JPEG entropy stream")
            acc = (acc << 8) | self.data[i]
            i += 1
            nbits += 8
        nbits -= n
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits
        self.i = i
        return acc >> nbits

    def decode(self, lut: list) -> int:
        # peek 16 bits (1-padded at stream end, matching encoder padding)
        acc, nbits, i = self.acc, self.nbits, self.i
        while nbits < 16 and i < self.n:
            acc = (acc << 8) | self.data[i]
            i += 1
            nbits += 8
        self.acc, self.nbits, self.i = acc, nbits, i
        if nbits >= 16:
            window = acc >> (nbits - 16)
        else:
            pad = 16 - nbits
            window = (acc << pad) | ((1 << pad) - 1)
        entry = lut[window]
        if entry is None:
            raise ValueError("invalid JPEG Huffman code")
        sym, length = entry
        if length > nbits:
            raise ValueError("truncated JPEG entropy stream")
        nbits -= length
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits
        return sym


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: s-bit magnitude -> signed value."""
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def _split_entropy(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from ``start``: unstuff 0xFF00, split at
    RST0-7 markers, stop at any other marker.  Returns (segments,
    index of the terminating marker's 0xFF)."""
    segs: list[bytes] = []
    cur = bytearray()
    i = start
    n = len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= n:
            break
        m = data[i + 1]
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # restart marker
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        elif m == 0xFF:  # fill byte
            i += 1
        else:
            segs.append(bytes(cur))
            return segs, i
    segs.append(bytes(cur))
    return segs, n


def _decode_block(
    r: _BitReader,
    dc_tab: list,
    ac_tab: list,
    pred: int,
    qtab: np.ndarray,
    out: np.ndarray,
) -> int:
    """One 8×8 block: Huffman + dequant into ``out`` (a zeroed flat
    64-float row of the per-component store — writing in place avoids
    a np.zeros + reshape + list-append per block)."""
    s = r.decode(dc_tab)
    diff = _extend(r.bits(s), s) if s else 0
    pred += diff
    out[0] = pred * qtab[0]
    k = 1
    while k < 64:
        rs = r.decode(ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("JPEG AC coefficient index out of range")
        out[ZIGZAG[k]] = _extend(r.bits(size), size) * qtab[k]
        k += 1
    return pred


def _parse_dqt(seg: bytes, qtables: dict) -> None:
    """B.2.4.1 quantization-table segment (8- and 16-bit entries)."""
    p = 0
    while p < len(seg):
        pq, tq = seg[p] >> 4, seg[p] & 0x0F
        p += 1
        if pq == 1:  # 16-bit entries (12-bit sample precision)
            if p + 128 > len(seg):
                raise ValueError("truncated DQT")
            qtables[tq] = np.frombuffer(
                seg[p : p + 128], dtype=">u2"
            ).astype(np.float64)
            p += 128
            continue
        if p + 64 > len(seg):
            raise ValueError("truncated DQT")
        qtables[tq] = np.frombuffer(
            seg[p : p + 64], dtype=np.uint8
        ).astype(np.float64)
        p += 64


def _parse_dht(seg: bytes, dc_tabs: dict, ac_tabs: dict) -> None:
    """B.2.4.2 Huffman-table segment (possibly several tables)."""
    p = 0
    while p + 17 <= len(seg):
        tc, th = seg[p] >> 4, seg[p] & 0x0F
        counts = seg[p + 1 : p + 17]
        total = sum(counts)
        symbols = seg[p + 17 : p + 17 + total]
        if len(symbols) < total:
            raise ValueError("truncated DHT")
        (dc_tabs if tc == 0 else ac_tabs)[th] = _build_huffman(
            counts, symbols
        )
        p += 17 + total


def _parse_dac(seg: bytes, dc_cond: dict, ac_cond: dict) -> None:
    """B.2.4.3 arithmetic-conditioning segment."""
    p = 0
    while p + 2 <= len(seg):
        tc, tb = seg[p] >> 4, seg[p] & 0x0F
        cs = seg[p + 1]
        if tc == 0:
            low, up = cs & 0x0F, cs >> 4
            if low > up:
                raise ValueError("bad DAC DC conditioning (L > U)")
            dc_cond[tb] = (low, up)
        else:
            if not 1 <= cs <= 63:
                raise ValueError("bad DAC AC conditioning Kx")
            ac_cond[tb] = cs
        p += 2


def decode_jpeg(data: bytes, cmyk_natural: bool = False) -> np.ndarray:
    """Baseline JPEG → (h, w) uint8 luma (the decode_pixels contract).

    YCbCr (JFIF default) returns the Y plane directly — Y *is* the
    BT.601 luma the contract asks for; RGB-in-JPEG (Adobe APP14
    transform 0 / 'R','G','B' component ids) converts with the same
    integer BT.601 weights as the other decoders.

    ``cmyk_natural``: 4-channel samples use the TIFF photometric-5 ink
    convention (0 = no ink) instead of Adobe's inverted one (255 = no
    ink) — set by the TIFF container for JPEG-compressed separated
    strips (libtiff writes JCS_UNKNOWN streams with the samples as
    stored, no Adobe APP14)."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("not a JPEG (missing SOI)")

    qtables: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, list] = {}
    ac_tabs: dict[int, list] = {}
    dc_cond: dict[int, tuple[int, int]] = {}  # DAC: table -> (L, U)
    ac_cond: dict[int, int] = {}  # DAC: table -> Kx
    restart_interval = 0
    frame = None  # (H, W, [(cid, h, v, tq)])
    adobe_transform = None
    progressive = False
    lossless = False
    arithmetic = False
    lossless_precision = 8
    pstate: _ProgState | None = None
    lstate: dict | None = None  # general lossless plane accumulator
    i = 2
    n = len(data)

    while True:
        # seek next marker, tolerating fill bytes
        while i < n and data[i] != 0xFF:
            i += 1
        while i < n and data[i] == 0xFF:
            i += 1
        if i >= n:
            if lstate is not None and lstate["planes"]:
                # lossless stream without a trailing EOI — tolerate
                return _lossless_finish(
                    frame, lossless_precision, lstate["planes"],
                    lstate["pts"], adobe_transform,
                )
            if pstate is not None and pstate.n_scans:
                # progressive stream without a trailing EOI — tolerate
                return _finish_progressive(
                    pstate, qtables, adobe_transform, cmyk_natural
                )
            raise ValueError("truncated JPEG (no SOS)")
        marker = data[i]
        i += 1
        if marker == 0xD9:  # EOI
            if lstate is not None and lstate["planes"]:
                return _lossless_finish(
                    frame, lossless_precision, lstate["planes"],
                    lstate["pts"], adobe_transform,
                )
            if pstate is not None and pstate.n_scans:
                return _finish_progressive(
                    pstate, qtables, adobe_transform, cmyk_natural
                )
            raise ValueError("JPEG ends before scan data")
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue  # standalone
        if i + 2 > n:
            raise ValueError("truncated JPEG segment")
        seg_len = (data[i] << 8) | data[i + 1]
        if seg_len < 2 or i + seg_len > n:
            raise ValueError("truncated JPEG segment")
        seg = data[i + 2 : i + seg_len]
        i += seg_len

        if marker == 0xDB:  # DQT
            _parse_dqt(seg, qtables)
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, dc_tabs, ac_tabs)
        elif marker == 0xCC:  # DAC: arithmetic conditioning (B.2.4.3)
            _parse_dac(seg, dc_cond, ac_cond)
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated DRI segment")
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB):
            # sequential / progressive / lossless / arithmetic frames
            if len(seg) < 6:
                raise ValueError("truncated SOF segment")
            precision = seg[0]
            if marker in (0xC3, 0xCB):
                if not 2 <= precision <= 16:
                    raise ValueError("bad lossless JPEG precision")
            elif precision == 12 and marker in (0xC1, 0xC2, 0xC9, 0xCA):
                # extended-sequential + progressive, Huffman AND
                # arithmetic, allow 12-bit: the coefficient paths are
                # depth-blind; level shift/clip happen in _idct_blocks.
                # The arithmetic-progressive gate fell in r5 session 4
                # — the in-test G.1.2 arithmetic progressive encoder
                # (validated under libjpeg at 8 bits) evidences it.
                pass
            elif precision != 8:
                raise NotImplementedError(f"{precision}-bit JPEG precision")
            H, W = (seg[1] << 8) | seg[2], (seg[3] << 8) | seg[4]
            ncomp = seg[5]
            if W == 0:
                raise ValueError("JPEG with zero width")
            from .imaging import check_pixel_budget

            if H != 0:
                check_pixel_budget(W, H)
            # H == 0 is legal: the line count arrives in a DNL segment
            # after the first scan (B.2.5) — resolved at SOS below
            if ncomp not in (1, 3, 4):
                raise ValueError(f"JPEG with {ncomp} components")
            if cmyk_natural and ncomp == 4 and marker in (
                0xC3, 0xC9, 0xCA, 0xCB
            ):
                # natural-ink strips only arrive via the TIFF container,
                # which in practice carries baseline/progressive Huffman
                raise NotImplementedError(
                    "natural-CMYK lossless/arithmetic JPEG"
                )
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF segment")
            comps = []
            for c in range(ncomp):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, seg[8 + 3 * c]))
            frame = (H, W, comps)
            progressive = marker in (0xC2, 0xCA)
            lossless = marker in (0xC3, 0xCB)
            arithmetic = marker in (0xC9, 0xCA, 0xCB)
            lossless_precision = precision
        elif marker in _SOF_DIFFERENTIAL:
            # differential frames are only legal after a DHP (Annex J
            # B.2.1/B.3.2) — _decode_hierarchical owns that walk, so a
            # differential SOF reaching this loop has no DHP before it.
            # Arithmetic differentials stay typed gaps either way.
            if marker in (0xCD, 0xCE, 0xCF):
                raise NotImplementedError(
                    f"{_SOF_DIFFERENTIAL[marker]} JPEG not supported"
                )
            raise ValueError(
                f"{_SOF_DIFFERENTIAL[marker]} frame outside a"
                " hierarchical sequence (no DHP)"
            )
        elif marker == 0xDE:  # DHP: hierarchical sequence (Annex J)
            return _decode_hierarchical(
                data, i, seg, qtables, dc_tabs, ac_tabs, dc_cond,
                ac_cond, restart_interval, adobe_transform, cmyk_natural,
            )
        elif marker == 0xEE and len(seg) >= 12 and seg[:5] == b"Adobe":
            adobe_transform = seg[11]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if len(seg) < 1 or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated SOS segment")
            if not 1 <= seg[0] <= 4:
                raise ValueError("bad SOS component count")
            segs, end = _split_entropy(data, i)
            if frame[0] == 0:
                # zero-height frame: the DNL segment terminating the
                # first scan supplies the number of lines (B.2.5) —
                # found by the entropy split, so the scan decoders run
                # with the real height
                if data[end : end + 4] != b"\xff\xdc\x00\x04":
                    raise ValueError("zero-height JPEG without DNL")
                if end + 6 > n:
                    raise ValueError("truncated DNL segment")
                nl = (data[end + 4] << 8) | data[end + 5]
                if nl == 0:
                    raise ValueError("DNL with zero line count")
                from .imaging import check_pixel_budget

                check_pixel_budget(frame[1], nl)
                frame = (nl, frame[1], frame[2])
            if progressive:
                if pstate is None:
                    pstate = _ProgState(frame, lossless_precision)
                if arithmetic:
                    from . import jarith

                    jarith.progressive_scan(
                        pstate, seg, dc_cond, ac_cond, restart_interval,
                        segs,
                    )
                else:
                    _progressive_scan(
                        pstate, seg, dc_tabs, ac_tabs, restart_interval,
                        segs,
                    )
                i = end  # continue at the terminating marker
                continue
            ns = seg[0]
            if lossless and not arithmetic:
                # Huffman lossless (SOF3): the verified 1x1 full-scan
                # fast path, or the general path (subsampled frames,
                # component-subset multi-scan, 4-channel) accumulating
                # planes to assemble at EOI
                if len(seg) < 1 + 2 * ns + 3:
                    raise ValueError("truncated SOS segment")
                scan = {}
                for c in range(ns):
                    scan[seg[1 + 2 * c]] = (
                        seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 0x0F
                    )
                pred_sel = seg[1 + 2 * ns]
                pt = seg[3 + 2 * ns] & 0x0F
                comps_f = frame[2]
                all11 = all(
                    h == 1 and v == 1 for _c, h, v, _t in comps_f
                )
                if (ns == len(comps_f) and all11 and len(comps_f) <= 3
                        and lstate is None):
                    return _lossless_scan(
                        frame, scan, dc_tabs, lossless_precision,
                        pred_sel, pt, restart_interval, segs,
                        adobe_transform,
                    )
                if lstate is None:
                    lstate = {"planes": {}, "pts": {}}
                _lossless_scan_general(
                    frame, scan, dc_tabs, lossless_precision,
                    pred_sel, pt, restart_interval, segs,
                    lstate["planes"], lstate["pts"],
                )
                i = end
                continue
            if lossless and arithmetic:
                # arithmetic lossless (SOF11): the verified 1x1
                # full-scan fast path, or the general plane
                # accumulator (component-subset multi-scan, 4-channel)
                from . import jarith

                if len(seg) < 1 + 2 * ns + 3:
                    raise ValueError("truncated SOS segment")
                scan = {}
                for c in range(ns):
                    scan[seg[1 + 2 * c]] = (
                        seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 0x0F
                    )
                pred_sel = seg[1 + 2 * ns]  # Ss = predictor selector
                pt = seg[3 + 2 * ns] & 0x0F  # Al = point transform
                comps_f = frame[2]
                all11 = all(
                    h == 1 and v == 1 for _c, h, v, _t in comps_f
                )
                if (ns == len(comps_f) and all11 and len(comps_f) <= 3
                        and lstate is None):
                    return jarith.decode_lossless(
                        frame, scan, dc_cond, lossless_precision,
                        pred_sel, pt, restart_interval, segs,
                        adobe_transform,
                    )
                if lstate is None:
                    lstate = {"planes": {}, "pts": {}}
                jarith.lossless_scan_into(
                    frame, scan, dc_cond, lossless_precision, pred_sel,
                    pt, restart_interval, segs,
                    lstate["planes"], lstate["pts"],
                )
                i = end
                continue
            if ns != len(frame[2]) or pstate is not None:
                # multi-scan sequential (T.81 B.2.3): scans cover
                # component subsets; accumulate full-band blocks into
                # the progressive store and assemble at EOI
                if pstate is None:
                    pstate = _ProgState(frame, lossless_precision)
                if arithmetic:
                    from . import jarith

                    jarith.sequential_scan_into(
                        pstate, seg, dc_cond, ac_cond, restart_interval,
                        segs,
                    )
                else:
                    _sequential_scan_into(
                        pstate, seg, dc_tabs, ac_tabs, restart_interval,
                        segs,
                    )
                i = end
                continue
            scan = {}
            for c in range(ns):
                cs = seg[1 + 2 * c]
                td_ta = seg[2 + 2 * c]
                scan[cs] = (td_ta >> 4, td_ta & 0x0F)
            if arithmetic:
                from . import jarith

                return jarith.decode_sequential(
                    frame, scan, qtables, dc_cond, ac_cond,
                    restart_interval, segs, adobe_transform,
                    precision=lossless_precision,
                )
            if lossless:
                pred_sel = seg[1 + 2 * ns]  # Ss = predictor selector
                pt = seg[3 + 2 * ns] & 0x0F  # Al = point transform
                return _lossless_scan(
                    frame, scan, dc_tabs, lossless_precision,
                    pred_sel, pt, restart_interval, segs,
                    adobe_transform,
                )
            return _decode_scan(
                frame, scan, qtables, dc_tabs, ac_tabs,
                restart_interval, segs, adobe_transform,
                precision=lossless_precision, cmyk_natural=cmyk_natural,
            )
        # else: APPn / COM / DNL etc. — skipped


def _lossless_predict(plane, y, x, pred_sel, default, fresh):
    """One H.1.2.1 prediction on a component plane.  ``fresh`` is the
    first-sample-after-scan-start/restart state (predicts default)."""
    if fresh or (y == 0 and x == 0):
        return default
    if y == 0:
        return int(plane[0, x - 1])
    if x == 0:
        return int(plane[y - 1, 0])
    a = int(plane[y, x - 1])
    b = int(plane[y - 1, x])
    c = int(plane[y - 1, x - 1])
    if pred_sel == 1:
        return a
    if pred_sel == 2:
        return b
    if pred_sel == 3:
        return c
    if pred_sel == 4:
        return a + b - c
    if pred_sel == 5:
        return a + ((b - c) >> 1)
    if pred_sel == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1


def _lossless_scan_general(
    frame, scan, dc_tabs, precision: int, pred_sel: int, pt: int,
    restart_interval: int, segs: list[bytes], planes: dict, pts: dict,
    differential: bool = False,
) -> None:
    """Annex-H Huffman lossless, general form: component-SUBSET scans
    (multi-scan, T.81 B.2.3 — one component per non-interleaved scan)
    and SUBSAMPLED interleaved frames (MCU = h x v samples per
    component, A.2.3 with 1x1 data units).  Decodes into component-
    resolution ``planes[cid]`` padded to the MCU grid; the caller's
    _lossless_finish crops/upsamples at EOI.  Restart intervals count
    MCUs (H.2.2: the prediction re-initializes exactly as at scan
    start — the first sample of every component after the marker
    predicts the default; later samples resume full 2-D prediction
    over already-decoded rows — the same convention the 1x1
    interleaved path has always used, in-test-encoder-pinned since
    libjpeg has no lossless codec to differential against).
    Kept separate from the verified 1x1 full-scan fast path so the
    SOF11 arithmetic driver's contract stays untouched.

    ``differential``: Annex-J differential-lossless (SOF7) scans —
    the predictor select shall be 0 ("no prediction", T.81 H.1/
    Table H.1 note on differential frames) and each decoded value IS
    the mod-2^16 difference signal; _decode_hierarchical adds it to
    the reference component."""
    H, W, comps = frame
    if differential:
        if pred_sel != 0:
            raise ValueError(
                "differential lossless scan with nonzero predictor"
            )
    elif not 1 <= pred_sel <= 7:
        raise ValueError(f"bad lossless predictor {pred_sel}")
    hmax = max(h for _cid, h, _v, _tq in comps)
    vmax = max(v for _cid, _h, v, _tq in comps)
    for _cid, h, v, _tq in comps:
        if h < 1 or v < 1 or hmax % h or vmax % v:
            raise NotImplementedError(
                "non-integral JPEG chroma subsampling ratio"
            )
    scomps = []  # (cid, h, v, table) in SCAN order
    for cid, (td, _ta) in scan.items():
        match = next((c for c in comps if c[0] == cid), None)
        if match is None:
            raise ValueError("scan component not in frame")
        if td not in dc_tabs:
            raise ValueError("lossless scan references missing DC table")
        scomps.append((cid, match[1], match[2], dc_tabs[td]))
    interleaved = len(scomps) > 1
    if restart_interval == 0 and len(segs) > 1:
        raise ValueError("restart markers without DRI")
    default = 1 << (precision - 1 - pt)
    state = {"r": _BitReader(segs[0]), "seg": 0}
    fresh = {cid: True for cid, _h, _v, _t in scomps}

    def next_segment():
        state["seg"] += 1
        if state["seg"] >= len(segs):
            raise ValueError("missing JPEG restart segment")
        state["r"] = _BitReader(segs[state["seg"]])
        for k in fresh:
            fresh[k] = True

    def decode_sample(plane, y, x, tab, cid):
        r = state["r"]
        s = r.decode(tab)
        diff = 32768 if s == 16 else (_extend(r.bits(s), s) if s else 0)
        if differential:  # the decoded value IS the difference signal
            plane[y, x] = diff & 0xFFFF
            return
        px = _lossless_predict(plane, y, x, pred_sel, default, fresh[cid])
        fresh[cid] = False
        plane[y, x] = (px + diff) & 0xFFFF

    if interleaved:
        mx_n, my_n = -(-W // hmax), -(-H // vmax)
        for cid, h, v, _t in scomps:
            planes[cid] = np.zeros((my_n * v, mx_n * h), np.int32)
            pts[cid] = pt
        count = 0
        for my in range(my_n):
            for mx in range(mx_n):
                if restart_interval and count == restart_interval:
                    next_segment()
                    count = 0
                for cid, h, v, tab in scomps:
                    plane = planes[cid]
                    for dy in range(v):
                        for dx in range(h):
                            decode_sample(
                                plane, my * v + dy, mx * h + dx, tab, cid
                            )
                count += 1
    else:
        cid, h, v, tab = scomps[0]
        ph, pw = -(-H * v // vmax), -(-W * h // hmax)
        plane = np.zeros((ph, pw), np.int32)
        planes[cid] = plane
        pts[cid] = pt
        count = 0
        for y in range(ph):
            for x in range(pw):
                if restart_interval and count == restart_interval:
                    next_segment()
                    count = 0
                decode_sample(plane, y, x, tab, cid)
                count += 1


def _lossless_finish(
    frame, precision: int, planes: dict, pts: dict, adobe_transform
) -> np.ndarray:
    """Assemble accumulated lossless component planes at EOI: point
    transform + depth scale, crop the MCU padding, replicate-upsample,
    and compose to luma (same conventions as the sequential path —
    4-channel uses the inverted Adobe CMYK/YCCK semantics)."""
    H, W, comps = frame
    hmax = max(h for _cid, h, _v, _tq in comps)
    vmax = max(v for _cid, _h, v, _tq in comps)
    out = []
    for cid, h, v, _tq in comps:
        if cid not in planes:
            raise ValueError("lossless stream missing a component scan")
        pl = planes[cid].astype(np.int64)
        pt = pts[cid]
        pl = np.clip(
            (pl << pt) >> max(0, precision - 8) << max(0, 8 - precision),
            0, 255,
        ).astype(np.uint8)
        pl = pl[: -(-H * v // vmax), : -(-W * h // hmax)]
        if h != hmax:
            pl = np.repeat(pl, hmax // h, axis=1)
        if v != vmax:
            pl = np.repeat(pl, vmax // v, axis=0)
        out.append(pl[:H, :W])
    if len(out) == 1:
        return out[0]
    if len(out) == 4:
        p0, p1, p2, k = (p.astype(np.float64) for p in out)
        if adobe_transform == 2:
            cb, cr = p1 - 128.0, p2 - 128.0
            r = 255.0 - np.clip(p0 + 1.402 * cr, 0, 255)
            g = 255.0 - np.clip(p0 - 0.344136 * cb - 0.714136 * cr, 0, 255)
            b = 255.0 - np.clip(p0 + 1.772 * cb, 0, 255)
        else:
            r, g, b = p0, p1, p2
        luma = (0.299 * r + 0.587 * g + 0.114 * b) * (k / 255.0)
        return np.clip(np.round(luma), 0, 255).astype(np.uint8)
    if adobe_transform == 1:
        return out[0]  # Y is the luma
    from .imaging import _luma

    return _luma(np.stack(out, axis=2))


def _lossless_scan(
    frame,
    scan,
    dc_tabs,
    precision: int,
    pred_sel: int,
    pt: int,
    restart_interval: int,
    segs: list[bytes],
    adobe_transform,
) -> np.ndarray:
    """T.81 Annex H lossless process: per-sample Huffman-coded
    prediction differences.  Predictors 1-7 over (Ra, Rb, Rc) =
    (left, above, above-left); first sample and restart boundaries
    predict 2^(P-1-Pt), the rest of row 0 predicts Ra, column 0
    predicts Rb (H.1.2.1).  This is the verified 1x1 full-scan fast
    path (scanner output); subsampled/multi-scan/4-channel frames
    route to _lossless_scan_general instead.  The sample loop is
    sequential Python by nature (each prediction needs the previous
    decoded sample) — lossless scans are rare and small; the batch
    decoders stay the hot path."""
    _H, _W, comps = frame
    tabs = []
    for cid, _h, _v, _tq in comps:
        if cid not in scan:
            raise ValueError("scan component not in frame")
        td, _ta = scan[cid]
        if td not in dc_tabs:
            raise ValueError("lossless scan references missing DC table")
        tabs.append(dc_tabs[td])
    state = {}

    def start_segment(idx):
        state["r"] = _BitReader(segs[idx])

    def next_diff(ci):
        r = state["r"]
        s = r.decode(tabs[ci])
        if s == 16:
            return 32768
        if s:
            return _extend(r.bits(s), s)
        return 0

    return _lossless_reconstruct(
        frame, precision, pred_sel, pt, restart_interval, len(segs),
        start_segment, next_diff, adobe_transform,
    )


def _lossless_reconstruct(
    frame,
    precision: int,
    pred_sel: int,
    pt: int,
    restart_interval: int,
    n_segs: int,
    start_segment,
    next_diff,
    adobe_transform,
) -> np.ndarray:
    """Annex-H prediction/reconstruction driver shared by the Huffman
    (SOF3) and arithmetic (SOF11, extract/jarith.py) entropy layers:
    ``next_diff(ci)`` yields the next prediction difference in raster
    component-interleaved order; ``start_segment(idx)`` re-arms the
    entropy state at scan start and at each restart."""
    H, W, comps = frame
    if not 1 <= pred_sel <= 7:
        raise ValueError(f"bad lossless predictor {pred_sel}")
    if any(h != 1 or v != 1 for _cid, h, v, _tq in comps):
        raise NotImplementedError("subsampled lossless JPEG")
    ncomp = len(comps)
    planes = [np.zeros((H, W), dtype=np.int32) for _ in range(ncomp)]
    default = 1 << (precision - 1 - pt)
    mask = 0xFFFF
    if restart_interval == 0 and n_segs > 1:
        raise ValueError("restart markers without DRI")

    seg_idx = 0
    start_segment(0)
    samples_in_seg = 0
    row_start_after_restart = True
    for y in range(H):
        for x in range(W):
            if (
                restart_interval
                and samples_in_seg == restart_interval
            ):
                seg_idx += 1
                if seg_idx >= n_segs:
                    raise ValueError("missing JPEG restart segment")
                start_segment(seg_idx)
                samples_in_seg = 0
                row_start_after_restart = True
            for ci in range(ncomp):
                diff = next_diff(ci)
                p = planes[ci]
                if row_start_after_restart or (y == 0 and x == 0):
                    px = default
                elif y == 0:
                    px = int(p[0, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])
                else:
                    a = int(p[y, x - 1])
                    b = int(p[y - 1, x])
                    c = int(p[y - 1, x - 1])
                    if pred_sel == 1:
                        px = a
                    elif pred_sel == 2:
                        px = b
                    elif pred_sel == 3:
                        px = c
                    elif pred_sel == 4:
                        px = a + b - c
                    elif pred_sel == 5:
                        px = a + ((b - c) >> 1)
                    elif pred_sel == 6:
                        px = b + ((a - c) >> 1)
                    else:
                        px = (a + b) >> 1
                p[y, x] = (px + diff) & mask
            row_start_after_restart = False
            samples_in_seg += 1

    out = [
        np.clip(
            (pl.astype(np.int64) << pt)
            >> max(0, precision - 8)
            << max(0, 8 - precision),
            0,
            255,
        ).astype(np.uint8)
        for pl in planes
    ]
    if ncomp == 1:
        return out[0]
    # 3 components: lossless color is stored RGB unless Adobe says YCbCr
    if adobe_transform == 1:
        return out[0]  # Y is the luma
    from .imaging import _luma

    return _luma(np.stack(out, axis=2))


def _seq_layout(frame):
    """Validated MCU geometry for a sequential scan: returns
    (comps, hmax, vmax, mcus_x, mcus_y), collapsing single-component
    frames to their own block grid (shared by the Huffman and
    arithmetic entropy layers)."""
    H, W, comps = frame
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    if hmax < 1 or vmax < 1 or hmax > 4 or vmax > 4:
        raise ValueError("invalid JPEG sampling factors")
    for _, h, v, _ in comps:
        if h < 1 or v < 1 or hmax % h or vmax % v:
            # e.g. hmax=3,h=2: np.repeat(3//2) would silently mis-size
            raise NotImplementedError(
                "non-integral JPEG chroma subsampling ratio"
            )

    if len(comps) == 1:
        # non-interleaved: MCU is one block over the component's own grid
        cid, h, v, tq = comps[0]
        mcus_x = -(-W // 8)
        mcus_y = -(-H // 8)
        comps = [(cid, 1, 1, tq)]
        hmax = vmax = 1
    else:
        mcus_x = -(-W // (8 * hmax))
        mcus_y = -(-H // (8 * vmax))
    return comps, hmax, vmax, mcus_x, mcus_y


def _assemble_planes(stores, comps, mcus_x, mcus_y, precision: int = 8):
    """Batched IDCT + level shift over the per-component MCU-order
    coefficient stores, reshaped straight into padded planes."""
    planes: list[np.ndarray] = []
    for ci, (cid, h, v, tq) in enumerate(comps):
        spatial = _idct_blocks(stores[ci].reshape(-1, 8, 8), precision)
        planes.append(
            spatial.reshape(mcus_y, mcus_x, v, h, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcus_y * v * 8, mcus_x * h * 8)
        )
    return planes


def _decode_scan(
    frame, scan, qtables, dc_tabs, ac_tabs, restart_interval, segs,
    adobe_transform, precision: int = 8, cmyk_natural: bool = False,
) -> np.ndarray:
    H, W, _ = frame
    comps, hmax, vmax, mcus_x, mcus_y = _seq_layout(frame)

    for cid, h, v, tq in comps:
        if tq not in qtables:
            raise ValueError(f"JPEG references missing quant table {tq}")
        if cid not in scan:
            raise ValueError("scan component not in frame")
        td, ta = scan[cid]
        if td not in dc_tabs or ta not in ac_tabs:
            raise ValueError("JPEG references missing Huffman table")

    # per-component coefficient stores, preallocated in MCU block order
    stores = [
        np.zeros((mcus_x * mcus_y * h * v, 64), dtype=np.float64)
        for _, h, v, _ in comps
    ]
    preds = [0] * len(comps)
    n_mcus = mcus_x * mcus_y
    mcu = 0
    for seg_idx, seg in enumerate(segs):
        reader = _BitReader(seg)
        preds = [0] * len(comps)  # restart resets DC prediction
        end = (
            min(mcu + restart_interval, n_mcus)
            if restart_interval
            else n_mcus
        )
        while mcu < end:
            for ci, (cid, h, v, tq) in enumerate(comps):
                td, ta = scan[cid]
                qt = qtables[tq]
                store = stores[ci]
                base = mcu * h * v
                for b in range(h * v):
                    preds[ci] = _decode_block(
                        reader, dc_tabs[td], ac_tabs[ta], preds[ci], qt,
                        store[base + b],
                    )
            mcu += 1
        if mcu >= n_mcus:
            break
    if mcu < n_mcus:
        raise ValueError("truncated JPEG entropy stream")

    # batched IDCT + level shift, then assemble planes.  Two batched
    # matmuls (C.T @ COEF @ C) beat the einsum/tensordot path ~10× and
    # are bit-identical; the MCU-order block store reshapes straight
    # into the plane (no per-block Python placement loop).
    planes = _assemble_planes(stores, comps, mcus_x, mcus_y, precision)
    return _compose(
        planes, comps, hmax, vmax, H, W, adobe_transform, cmyk_natural
    )


def _idct_blocks(arr: np.ndarray, precision: int = 8) -> np.ndarray:
    """(nblk, 8, 8) dequantized coefficients → uint8 spatial samples.
    12-bit frames level-shift/clip at 12 bits and emit the high byte
    (the decode_pixels contract is 8-bit luma)."""
    spatial = (_C.T @ arr) @ _C
    if precision == 8:
        return np.clip(np.round(spatial) + 128, 0, 255).astype(np.uint8)
    shift = 1 << (precision - 1)
    maxv = (1 << precision) - 1
    out = np.clip(np.round(spatial) + shift, 0, maxv).astype(np.uint16)
    return (out >> (precision - 8)).astype(np.uint8)


def _compose(
    planes_padded, comps, hmax, vmax, H, W, adobe_transform,
    cmyk_natural: bool = False,
) -> np.ndarray:
    """Upsample subsampled planes, crop to H×W, and produce the luma
    output (shared by the sequential and progressive paths)."""
    planes: list[np.ndarray] = []
    for (cid, h, v, tq), plane in zip(comps, planes_padded):
        if h != hmax or v != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1
            )
        planes.append(plane[:H, :W])
    if len(planes) == 1:
        return planes[0]
    if len(planes) == 4:
        if cmyk_natural and adobe_transform != 2:
            # TIFF photometric-5 convention (0 = no ink): the exact
            # integer composite of extract/tiff._cmyk_luma, so the
            # JPEG-compressed and uncompressed separated paths agree
            # bit-for-bit on identical samples
            c, m, ye, k = (p.astype(np.uint32) for p in planes)
            r = (255 - c) * (255 - k) // 255
            g = (255 - m) * (255 - k) // 255
            b = (255 - ye) * (255 - k) // 255
            return ((299 * r + 587 * g + 114 * b) // 1000).astype(
                np.uint8
            )
        # Adobe 4-channel: CMYK (transform 0/absent) or YCCK (2),
        # stored in the inverted convention (255 = no ink, paper
        # white = 255,255,255,255) — Adobe's APP14 semantics.
        p0, p1, p2, k = (p.astype(np.float64) for p in planes)
        if adobe_transform == 2:
            # YCCK: YCbCr -> RGB, then C' = 255 - R (the stored CMYK
            # channels use the inverted convention: 255 = no ink)
            cb, cr = p1 - 128.0, p2 - 128.0
            r = 255.0 - np.clip(p0 + 1.402 * cr, 0, 255)
            g = 255.0 - np.clip(p0 - 0.344136 * cb - 0.714136 * cr, 0, 255)
            b = 255.0 - np.clip(p0 + 1.772 * cb, 0, 255)
        else:
            r, g, b = p0, p1, p2
        luma = (0.299 * r + 0.587 * g + 0.114 * b) * (k / 255.0)
        return np.clip(np.round(luma), 0, 255).astype(np.uint8)
    ids = tuple(cid for cid, _, _, _ in comps)
    is_rgb = adobe_transform == 0 or ids == (0x52, 0x47, 0x42)  # 'R','G','B'
    if is_rgb:
        r, g, b = (p.astype(np.uint32) for p in planes)
        return ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)
    return planes[0]  # YCbCr: Y is the BT.601 luma


# ---------------------------------------------------------------------------
# Progressive (SOF2) — T.81 G.1.2: persistent per-component coefficient
# state refined scan by scan, then the same dequant/IDCT/assembly as the
# sequential path.
# ---------------------------------------------------------------------------


class _ProgState:
    """Per-frame progressive decode state.

    Coefficients live in one Python 64-list per block (natural order),
    indexed block-raster over the padded grid — Python list indexing is
    the fast path for the per-coefficient refinement loops; conversion
    to numpy happens once at finish.  For a single-component frame the
    sampling factors are layout-irrelevant (the scan grid is the
    component's own block grid), mirroring the sequential path."""

    def __init__(self, frame, precision: int = 8):
        self.precision = precision
        H, W, comps = frame
        hmax = max(h for _, h, _, _ in comps)
        vmax = max(v for _, _, v, _ in comps)
        if hmax < 1 or vmax < 1 or hmax > 4 or vmax > 4:
            raise ValueError("invalid JPEG sampling factors")
        for _, h, v, _ in comps:
            if h < 1 or v < 1 or hmax % h or vmax % v:
                raise NotImplementedError(
                    "non-integral JPEG chroma subsampling ratio"
                )
        if len(comps) == 1:
            cid, h, v, tq = comps[0]
            comps = [(cid, 1, 1, tq)]
            hmax = vmax = 1
        self.H, self.W, self.comps = H, W, comps
        self.hmax, self.vmax = hmax, vmax
        self.mcus_x = -(-W // (8 * hmax))
        self.mcus_y = -(-H // (8 * vmax))
        self.grids: list[tuple[int, int]] = []  # padded (rows, cols)
        self.ni_grids: list[tuple[int, int]] = []  # non-interleaved (rows, cols)
        self.blocks: list[list[list[int]]] = []
        for cid, h, v, tq in comps:
            rows, cols = self.mcus_y * v, self.mcus_x * h
            comp_w = (W * h + hmax - 1) // hmax
            comp_h = (H * v + vmax - 1) // vmax
            self.grids.append((rows, cols))
            self.ni_grids.append((-(-comp_h // 8), -(-comp_w // 8)))
            self.blocks.append([[0] * 64 for _ in range(rows * cols)])
        self.eobrun = 0
        self.n_scans = 0


def _decode_block_raw(r, dc_tab, ac_tab, pred, blk):
    """Full-band sequential block into a _ProgState block list
    (natural order, no dequantization) — the multi-scan path."""
    s = r.decode(dc_tab)
    pred += _extend(r.bits(s), s) if s else 0
    blk[0] = pred
    k = 1
    while k < 64:
        rs = r.decode(ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:
                k += 16
                continue
            break
        k += run
        if k > 63:
            raise ValueError("JPEG AC coefficient index out of range")
        blk[ZIGZAG[k]] = _extend(r.bits(size), size)
        k += 1
    return pred


def _sequential_scan_into(
    state: _ProgState, seg: bytes, dc_tabs, ac_tabs, restart_interval, segs
) -> None:
    """One full-band Huffman scan of a multi-scan sequential frame,
    decoded into ``state`` (per-component subsets, interleaved or
    not); _finish_progressive assembles at EOI."""
    ns = seg[0]
    by_id = {cid: ci for ci, (cid, _, _, _) in enumerate(state.comps)}
    scan_comps = []
    for c in range(ns):
        cs = seg[1 + 2 * c]
        if cs not in by_id:
            raise ValueError("scan component not in frame")
        td_ta = seg[2 + 2 * c]
        scan_comps.append((by_id[cs], td_ta >> 4, td_ta & 0x0F))
    for _ci, td, ta in scan_comps:
        if td not in dc_tabs or ta not in ac_tabs:
            raise ValueError("JPEG references missing Huffman table")
    if ns > 1:
        units = _interleaved_units(state, scan_comps)
    else:
        units = _noninterleaved_units(state, scan_comps[0])
    n_units = len(units)
    unit = 0
    for seg_bytes in segs:
        r = _BitReader(seg_bytes)
        preds = [0] * len(state.comps)
        end = (
            min(unit + restart_interval, n_units)
            if restart_interval
            else n_units
        )
        while unit < end:
            for ci, td, ta, blk in units[unit]:
                preds[ci] = _decode_block_raw(
                    r, dc_tabs[td], ac_tabs[ta], preds[ci], blk
                )
            unit += 1
        if unit >= n_units:
            break
    if unit < n_units:
        raise ValueError("truncated JPEG entropy stream")
    state.n_scans += 1


def _dc_first_block(r, dc_tab, blk, pred, al):
    s = r.decode(dc_tab)
    diff = _extend(r.bits(s), s) if s else 0
    pred += diff
    blk[0] = pred << al
    return pred


def _dc_refine_block(r, blk, al):
    if r.bits(1):
        blk[0] |= 1 << al


def _ac_first_block(r, ac_tab, blk, ss, se, al, state):
    if state.eobrun > 0:
        state.eobrun -= 1
        return
    k = ss
    while k <= se:
        rs = r.decode(ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            state.eobrun = (1 << run) - 1
            if run:
                state.eobrun += r.bits(run)
            return
        k += run
        if k > se:
            raise ValueError("JPEG AC coefficient index out of range")
        blk[ZIGZAG[k]] = _extend(r.bits(size), size) << al
        k += 1


def _ac_refine_block(r, ac_tab, blk, ss, se, al, state):
    """T.81 G.1.2.3 successive-approximation AC refinement: correction
    bits for already-nonzero coefficients, ±1<<Al for newly-significant
    ones; zero runs count only zero-history positions."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if state.eobrun == 0:
        while k <= se:
            rs = r.decode(ac_tab)
            run, size = rs >> 4, rs & 0x0F
            newval = 0
            if size == 0:
                if run < 15:
                    state.eobrun = 1 << run
                    if run:
                        state.eobrun += r.bits(run)
                    break  # tail handled by the EOB-run branch below
                # run == 15: skip 16 zero-history coefficients
            else:
                if size != 1:
                    raise ValueError("invalid AC refinement magnitude")
                newval = p1 if r.bits(1) else m1
            while k <= se:
                z = ZIGZAG[k]
                cur = blk[z]
                if cur != 0:
                    if r.bits(1) and (cur & p1) == 0:
                        blk[z] = cur + (p1 if cur >= 0 else m1)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if newval and k <= se:
                blk[ZIGZAG[k]] = newval
            k += 1
    if state.eobrun > 0:
        while k <= se:
            z = ZIGZAG[k]
            cur = blk[z]
            if cur != 0:
                if r.bits(1) and (cur & p1) == 0:
                    blk[z] = cur + (p1 if cur >= 0 else m1)
            k += 1
        state.eobrun -= 1


def _progressive_scan(
    state: _ProgState, seg: bytes, dc_tabs, ac_tabs, restart_interval, segs
) -> None:
    """Decode one SOS of a progressive frame into ``state``."""
    ns = seg[0]
    scan_comps = []  # (comp index, td, ta)
    by_id = {cid: ci for ci, (cid, _, _, _) in enumerate(state.comps)}
    for c in range(ns):
        cs = seg[1 + 2 * c]
        if cs not in by_id:
            raise ValueError("scan component not in frame")
        td_ta = seg[2 + 2 * c]
        scan_comps.append((by_id[cs], td_ta >> 4, td_ta & 0x0F))
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    ah_al = seg[3 + 2 * ns]
    ah, al = ah_al >> 4, ah_al & 0x0F
    state.eobrun = 0

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        if ah == 0:
            for _, td, _ in scan_comps:
                if td not in dc_tabs:
                    raise ValueError("JPEG references missing Huffman table")
        if ns > 1:
            units = _interleaved_units(state, scan_comps)
        else:
            units = _noninterleaved_units(state, scan_comps[0])
    else:  # AC scan: always one component
        if ns != 1 or se > 63 or ss > se:
            raise ValueError("bad progressive AC scan header")
        ci, td, ta = scan_comps[0]
        if ta not in ac_tabs:  # refinement scans Huffman-decode too
            raise ValueError("JPEG references missing Huffman table")
        units = _noninterleaved_units(state, scan_comps[0])

    n_units = len(units)
    preds = [0] * len(state.comps)
    unit = 0
    for seg_bytes in segs:
        r = _BitReader(seg_bytes)
        preds = [0] * len(state.comps)
        state.eobrun = 0
        end = (
            min(unit + restart_interval, n_units)
            if restart_interval
            else n_units
        )
        while unit < end:
            for ci, td, ta, blk in units[unit]:
                if ss == 0:
                    if ah == 0:
                        preds[ci] = _dc_first_block(
                            r, dc_tabs[td], blk, preds[ci], al
                        )
                    else:
                        _dc_refine_block(r, blk, al)
                elif ah == 0:
                    _ac_first_block(r, ac_tabs[ta], blk, ss, se, al, state)
                else:
                    _ac_refine_block(r, ac_tabs[ta], blk, ss, se, al, state)
            unit += 1
        if unit >= n_units:
            break
    if unit < n_units:
        raise ValueError("truncated JPEG entropy stream")
    state.n_scans += 1


def _interleaved_units(state: _ProgState, scan_comps):
    """MCU-order unit list: each unit is the h×v blocks of every scan
    component at that MCU position (padded grid)."""
    units = []
    for my in range(state.mcus_y):
        for mx in range(state.mcus_x):
            unit = []
            for ci, td, ta in scan_comps:
                _, h, v, _ = state.comps[ci]
                _, cols = state.grids[ci]
                store = state.blocks[ci]
                for by in range(v):
                    for bx in range(h):
                        idx = (my * v + by) * cols + (mx * h + bx)
                        unit.append((ci, td, ta, store[idx]))
            units.append(unit)
    return units


def _noninterleaved_units(state: _ProgState, scan_comp):
    """Raster-order unit list over the component's OWN block grid
    (T.81 A.2.2: non-interleaved scans cover ceil(comp dims / 8),
    which can be smaller than the MCU-padded grid)."""
    ci, td, ta = scan_comp
    rows_ni, cols_ni = state.ni_grids[ci]
    _, cols = state.grids[ci]
    store = state.blocks[ci]
    return [
        [(ci, td, ta, store[y * cols + x])]
        for y in range(rows_ni)
        for x in range(cols_ni)
    ]


def _finish_progressive(
    state: _ProgState, qtables, adobe_transform,
    cmyk_natural: bool = False,
):
    """All scans consumed: dequantize, IDCT, assemble — identical math
    to the sequential path from this point on."""
    planes = []
    for ci, (cid, h, v, tq) in enumerate(state.comps):
        if tq not in qtables:
            raise ValueError(f"JPEG references missing quant table {tq}")
        qnat = np.empty(64, dtype=np.float64)
        for k in range(64):
            qnat[ZIGZAG[k]] = qtables[tq][k]
        rows, cols = state.grids[ci]
        arr = np.array(state.blocks[ci], dtype=np.float64) * qnat
        spatial = _idct_blocks(arr.reshape(-1, 8, 8), state.precision)
        planes.append(
            spatial.reshape(rows, cols, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows * 8, cols * 8)
        )
    return _compose(
        planes, state.comps, state.hmax, state.vmax,
        state.H, state.W, adobe_transform, cmyk_natural,
    )


# ---------------------------------------------------------------------------
# Hierarchical (Annex J): a DHP-led sequence of frames — the first frame
# per component non-differential, later frames differential (SOF5/6/7)
# over a reference that an EXP marker may first expand by 2 per axis
# (J.1.1.2).  Differential signals are carried modulo 2^16 (J.1.1.3);
# the final output clamps to [0, 2^P - 1].  No codec on this host (or
# anywhere mainstream — libjpeg never shipped Annex J) can oracle this,
# so the evidence tier is the in-test encoder + structural spec pins
# (tests/test_jpeg_hier.py), the same tier as JBIG2.
# ---------------------------------------------------------------------------


def _exp_upsample(plane: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """J.1.1.2 reference expansion: per expanded axis, out[2n] = R[n]
    and out[2n+1] = (R[n] + R[n+1] + 1) >> 1 with edge replication
    (so the final odd sample equals the last input sample).  Output is
    2N per expanded axis; the caller crops to the new frame's component
    size (2N or 2N-1).  Horizontal expansion is applied first — the
    (a+b+1)>>1 rounding makes the order observable, so it is pinned by
    the in-test encoder sharing this helper plus the structural test."""
    p = plane.astype(np.int32, copy=False)
    if eh:
        right = np.concatenate([p[:, 1:], p[:, -1:]], axis=1)
        out = np.empty((p.shape[0], 2 * p.shape[1]), np.int32)
        out[:, 0::2] = p
        out[:, 1::2] = (p + right + 1) >> 1
        p = out
    if ev:
        down = np.concatenate([p[1:, :], p[-1:, :]], axis=0)
        out = np.empty((2 * p.shape[0], p.shape[1]), np.int32)
        out[0::2, :] = p
        out[1::2, :] = (p + down + 1) >> 1
        p = out
    return p


def _hier_dct_planes(
    state: _ProgState, qtables, differential: bool
) -> list[np.ndarray]:
    """Dequantize + raw IDCT the frame's coefficient store into FULL-
    precision int32 planes (padded to the block grid).  Non-differential
    frames level-shift and clamp to [0, 2^P - 1]; differential frames
    emit the signed difference signal unshifted (A.3.1: the level shift
    applies to non-differential frames only)."""
    planes = []
    for ci, (cid, h, v, tq) in enumerate(state.comps):
        if tq not in qtables:
            raise ValueError(f"JPEG references missing quant table {tq}")
        qnat = np.empty(64, dtype=np.float64)
        for k in range(64):
            qnat[ZIGZAG[k]] = qtables[tq][k]
        rows, cols = state.grids[ci]
        arr = np.array(state.blocks[ci], dtype=np.float64) * qnat
        spatial = (_C.T @ arr.reshape(-1, 8, 8)) @ _C
        if differential:
            vals = np.round(spatial).astype(np.int32)
        else:
            shift = 1 << (state.precision - 1)
            maxv = (1 << state.precision) - 1
            vals = np.clip(
                np.round(spatial) + shift, 0, maxv
            ).astype(np.int32)
        planes.append(
            vals.reshape(rows, cols, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows * 8, cols * 8)
        )
    return planes


def _decode_hierarchical(
    data: bytes,
    i: int,
    dhp_seg: bytes,
    qtables: dict,
    dc_tabs: dict,
    ac_tabs: dict,
    dc_cond: dict,
    ac_cond: dict,
    restart_interval: int,
    adobe_transform,
    cmyk_natural: bool,
) -> np.ndarray:
    """Annex-J hierarchical sequence: DHP (B.3.2, SOF syntax) then
    frames.  Every Annex-J frame process decodes: SOF0/1/2/3 +
    arithmetic SOF9/10/11 non-differential; SOF5/6/7 + arithmetic
    SOF13/14/15 differential (the arithmetic-progressive evidence is
    the in-test G.1.2 encoder of tests/test_jpeg_arith.py, validated
    under libjpeg at 8 bits).  References are kept per component at
    full precision in the mod-2^16 domain; EXP expansion applies
    lazily to the components of the differential frame it precedes.
    Point transforms inside the hierarchy are a typed gap (the
    reference-shift interaction has no oracle anywhere)."""
    if len(dhp_seg) < 6:
        raise ValueError("truncated DHP segment")
    precision = dhp_seg[0]
    if precision not in (8, 12, 16):
        raise ValueError(f"bad DHP precision {precision}")
    Y = (dhp_seg[1] << 8) | dhp_seg[2]
    X = (dhp_seg[3] << 8) | dhp_seg[4]
    ncomp = dhp_seg[5]
    if Y == 0 or X == 0:
        raise ValueError("hierarchical JPEG with zero dimension")
    from .imaging import check_pixel_budget

    check_pixel_budget(X, Y)
    if ncomp < 1 or ncomp > 4 or len(dhp_seg) < 6 + 3 * ncomp:
        raise ValueError("bad DHP component count")
    dhp_comps = []
    for c in range(ncomp):
        cid = dhp_seg[6 + 3 * c]
        hv = dhp_seg[7 + 3 * c]
        dhp_comps.append((cid, hv >> 4, hv & 0x0F))
    refs: dict[int, np.ndarray] = {}
    exp_pending: tuple[int, int] | None = None
    cur: dict | None = None
    n = len(data)

    def comp_dims(frame, h, v):
        H, W, comps = frame
        hmax = max(ch for _c, ch, _cv, _t in comps)
        vmax = max(cv for _c, _ch, cv, _t in comps)
        return -(-H * v // vmax), -(-W * h // hmax)

    def finish_frame():
        nonlocal cur
        if cur is None:
            return
        frame = cur["frame"]
        H, W, comps = frame
        diffmode = cur["differential"]
        if cur["lossless"]:
            if not cur["lplanes"]:
                raise ValueError("hierarchical frame without scan data")
            raw = []
            for cid, h, v, _tq in comps:
                if cid not in cur["lplanes"]:
                    raise ValueError(
                        "hierarchical frame missing a component scan"
                    )
                yi, xi = comp_dims(frame, h, v)
                raw.append((cid, cur["lplanes"][cid][:yi, :xi]))
        else:
            state = cur["pstate"]
            if state is None or not state.n_scans:
                raise ValueError("hierarchical frame without scan data")
            planes = _hier_dct_planes(
                state, {**qtables, **cur["qt"]}, diffmode
            )
            raw = []
            for (cid, h, v, _tq), pl in zip(state.comps, planes):
                yi = -(-state.H * v // state.vmax)
                xi = -(-state.W * h // state.hmax)
                raw.append((cid, pl[:yi, :xi]))
        for cid, pl in raw:
            if diffmode:
                ref = refs.get(cid)
                if ref is None:
                    raise ValueError(
                        "differential frame for a component without a"
                        " reference"
                    )
                if cur["exp"] is not None:
                    eh, ev = cur["exp"]
                    ry, rx = ref.shape
                    ty, tx = pl.shape
                    if eh and not 2 * rx - 1 <= tx <= 2 * rx:
                        raise ValueError("EXP does not reach frame width")
                    if ev and not 2 * ry - 1 <= ty <= 2 * ry:
                        raise ValueError("EXP does not reach frame height")
                    ref = _exp_upsample(ref, eh, ev)
                if ref.shape[0] < pl.shape[0] or ref.shape[1] < pl.shape[1]:
                    raise ValueError(
                        "differential frame larger than its reference"
                    )
                ref = ref[: pl.shape[0], : pl.shape[1]]
                if ref.shape != pl.shape:
                    raise ValueError(
                        "differential frame does not match its reference"
                    )
                refs[cid] = (ref + pl) & 0xFFFF
            else:
                if cid in refs:
                    raise ValueError(
                        "second non-differential frame for a component"
                    )
                refs[cid] = pl & 0xFFFF
        cur = None

    while True:
        while i < n and data[i] != 0xFF:
            i += 1
        while i < n and data[i] == 0xFF:
            i += 1
        if i >= n:
            raise ValueError("truncated hierarchical JPEG")
        marker = data[i]
        i += 1
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue  # stray standalone marker between segments
        if marker == 0xD9:  # EOI
            finish_frame()
            if exp_pending is not None:
                raise ValueError("EXP not followed by a differential frame")
            break
        if i + 2 > n:
            raise ValueError("truncated JPEG segment")
        seg_len = (data[i] << 8) | data[i + 1]
        if seg_len < 2 or i + seg_len > n:
            raise ValueError("truncated JPEG segment")
        seg = data[i + 2 : i + seg_len]
        i += seg_len

        if marker == 0xDB:
            _parse_dqt(seg, qtables)
        elif marker == 0xC4:
            _parse_dht(seg, dc_tabs, ac_tabs)
        elif marker == 0xCC:
            _parse_dac(seg, dc_cond, ac_cond)
        elif marker == 0xDD:
            if len(seg) < 2:
                raise ValueError("truncated DRI segment")
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker == 0xDE:
            raise ValueError("nested DHP in hierarchical JPEG")
        elif marker == 0xDF:  # EXP (B.3.3)
            finish_frame()
            if len(seg) < 1:
                raise ValueError("truncated EXP segment")
            if exp_pending is not None:
                raise ValueError("EXP not followed by a differential frame")
            eh, ev = seg[0] >> 4, seg[0] & 0x0F
            if eh > 1 or ev > 1:
                raise ValueError("EXP expansion is binary per axis (J.1)")
            exp_pending = (eh, ev)
        elif marker == 0xEE and len(seg) >= 12 and seg[:5] == b"Adobe":
            adobe_transform = seg[11]
        elif marker in (
            0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
        ):
            finish_frame()
            if len(seg) < 6:
                raise ValueError("truncated SOF segment")
            if seg[0] != precision:
                raise ValueError(
                    "hierarchical frame precision differs from DHP"
                )
            lossless_m = marker in (0xC3, 0xC7, 0xCB, 0xCF)
            if precision == 16 and not lossless_m:
                raise ValueError("16-bit precision is lossless-only")
            H = (seg[1] << 8) | seg[2]
            W = (seg[3] << 8) | seg[4]
            nc = seg[5]
            if H == 0 or W == 0 or nc < 1 or len(seg) < 6 + 3 * nc:
                raise ValueError("bad hierarchical SOF segment")
            if H > Y or W > X:
                # frames ascend toward the DHP size and never pass it
                # (J.1.1) — also the decompression-bomb guard for the
                # per-frame allocations, since DHP is budget-checked
                raise ValueError("hierarchical frame exceeds DHP size")
            comps = []
            dhp_ids = {c for c, _h, _v in dhp_comps}
            for c in range(nc):
                cid = seg[6 + 3 * c]
                if cid not in dhp_ids:
                    raise ValueError("frame component not declared in DHP")
                hv = seg[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, seg[8 + 3 * c]))
            differential = marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF)
            if not differential and exp_pending is not None:
                raise ValueError("EXP before a non-differential frame")
            cur = {
                "frame": (H, W, comps),
                "differential": differential,
                "progressive": marker in (0xC2, 0xC6, 0xCA, 0xCE),
                "lossless": lossless_m,
                "arithmetic": marker in (0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF),
                "pstate": None,
                "lplanes": {},
                "lpts": {},
                "exp": exp_pending if differential else None,
                # quant tables as of each component's first scan
                "qt": {},
            }
            exp_pending = None
        elif marker == 0xC8:
            raise NotImplementedError(
                "JPG segment inside a hierarchical JPEG"
            )
        elif marker == 0xDA:  # SOS
            if cur is None:
                raise ValueError("hierarchical SOS before a frame SOF")
            if len(seg) < 1 or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated SOS segment")
            if not 1 <= seg[0] <= 4:
                raise ValueError("bad SOS component count")
            segs, end = _split_entropy(data, i)
            if cur["lossless"]:
                ns = seg[0]
                scan = {}
                for c in range(ns):
                    scan[seg[1 + 2 * c]] = (
                        seg[2 + 2 * c] >> 4,
                        seg[2 + 2 * c] & 0x0F,
                    )
                pred_sel = seg[1 + 2 * ns]
                pt = seg[3 + 2 * ns] & 0x0F
                if pt:
                    raise NotImplementedError(
                        "point transform in hierarchical JPEG"
                    )
                if cur["arithmetic"]:
                    from . import jarith

                    jarith.lossless_scan_into(
                        cur["frame"], scan, dc_cond, precision,
                        pred_sel, pt, restart_interval, segs,
                        cur["lplanes"], cur["lpts"],
                        differential=cur["differential"],
                    )
                else:
                    _lossless_scan_general(
                        cur["frame"], scan, dc_tabs, precision,
                        pred_sel, pt, restart_interval, segs,
                        cur["lplanes"], cur["lpts"],
                        differential=cur["differential"],
                    )
            else:
                if cur["pstate"] is None:
                    cur["pstate"] = _ProgState(cur["frame"], precision)
                # the frame dequantizes at finish_frame(), which runs only
                # at the next SOF/EXP/EOI: snapshot the tables now so a
                # DQT between frames redefining a table id (B.2.4.1)
                # applies to the next frame, not to this one
                tq_of = {c: tq for c, _h, _v, tq in cur["frame"][2]}
                for c in range(seg[0]):
                    tq = tq_of.get(seg[1 + 2 * c])
                    if tq in qtables:
                        cur["qt"].setdefault(tq, qtables[tq])
                if cur["progressive"] and cur["arithmetic"]:
                    from . import jarith

                    jarith.progressive_scan(
                        cur["pstate"], seg, dc_cond, ac_cond,
                        restart_interval, segs,
                    )
                elif cur["progressive"]:
                    _progressive_scan(
                        cur["pstate"], seg, dc_tabs, ac_tabs,
                        restart_interval, segs,
                    )
                elif cur["arithmetic"]:
                    from . import jarith

                    jarith.sequential_scan_into(
                        cur["pstate"], seg, dc_cond, ac_cond,
                        restart_interval, segs,
                    )
                else:
                    _sequential_scan_into(
                        cur["pstate"], seg, dc_tabs, ac_tabs,
                        restart_interval, segs,
                    )
            i = end
        # other markers (APPn, COM, DNL) are skipped whole

    hmax = max(h for _c, h, _v in dhp_comps)
    vmax = max(v for _c, _h, v in dhp_comps)
    if hmax < 1 or vmax < 1:
        raise ValueError("bad DHP sampling factors")
    maxv = (1 << precision) - 1
    planes8 = []
    comps_out = []
    for cid, h, v in dhp_comps:
        if cid not in refs:
            raise ValueError("hierarchical stream missing a component")
        yi = -(-Y * v // vmax)
        xi = -(-X * h // hmax)
        pl = refs[cid]
        if pl.shape != (yi, xi):
            raise ValueError(
                "hierarchical component never reached its DHP size"
            )
        pl = np.clip(pl, 0, maxv)
        if precision > 8:
            pl = (pl >> (precision - 8)).astype(np.uint8)
        else:
            pl = pl.astype(np.uint8)
        planes8.append(pl)
        comps_out.append((cid, h, v, 0))
    return _compose(
        planes8, comps_out, hmax, vmax, Y, X, adobe_transform,
        cmyk_natural,
    )
