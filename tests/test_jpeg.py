"""extract/jpeg.py — real baseline JPEG decoder (r3).

Self-oracle strategy (same idea as the PNG/GIF/BMP suites): an
INDEPENDENT encoder lives in this file — forward DCT written from the
T.81 definition with explicit loops, its own canonical-Huffman builder,
its own bit writer with byte stuffing — so encode → decode round trips
check the decoder against the spec, not against itself.  With a
flat quantization table of 1 the pipeline is near-lossless (DCT
orthonormality: coefficient rounding of ±0.5 maps to ≤1 gray level),
so tolerances are pinned at ≤1, and DC-only images are pinned EXACT.

Cross-encoder oracle: the reference ships the same photograph twice,
encoded by two different real-world encoders (test_files/benchmark/
1.jpg and test_files/readable.jpg — identical dimensions).  Decoding
both and requiring near-identical pixels validates against encoders
this repo did not write.

The OCR round trip (render → JPEG-encode → decode → OCR) is the
end-to-end check that decoded pixels are faithful enough to drive the
template matcher — the actual production consumer
(lib/image_processor.js:49 hands JPEGs to tesseract; here the whole
chain is executable).
"""

import os
import struct

import numpy as np
import pytest

from receipt_scanner_spark.extract.jpeg import ZIGZAG, decode_jpeg

# ---------------------------------------------------------------------------
# Independent encoder (forward direction only; test-local on purpose)
# ---------------------------------------------------------------------------


def _fdct(block: np.ndarray) -> np.ndarray:
    """T.81 A.3.3 FDCT, written as the literal quadruple loop."""
    out = np.zeros((8, 8))
    sh = block.astype(np.float64) - 128.0
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        sh[x, y]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[u, v] = 0.25 * cu * cv * s
    return out


class _BitWriter:
    """MSB-first with 0xFF00 byte stuffing; flush pads with 1s."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.put(1, 1)


def _canon(counts, syms):
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[syms[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


# deliberately NOT the Annex K tables: fixed-width canonical codes, so
# the decoder is exercised with tables it has never seen in the wild

# DC categories 0..16 (T.81 Table F.6 range — 12-bit frames need
# categories beyond the 8-bit 0..11), all at 5 bits (Kraft 17/32)
_DC_COUNTS = [0, 0, 0, 0, 17] + [0] * 11
_DC_SYMS = list(range(17))
_AC_COUNTS = [0] * 7 + [255, 1] + [0] * 7
_AC_SYMS = list(range(255)) + [255]
_DC_CODES = _canon(_DC_COUNTS, _DC_SYMS)
_AC_CODES = _canon(_AC_COUNTS, _AC_SYMS)


def _cat(v: int) -> int:
    a = abs(v)
    s = 0
    while a:
        s += 1
        a >>= 1
    return s


def _dht(tc, th, counts, syms):
    body = bytes([tc << 4 | th]) + bytes(counts) + bytes(syms)
    return b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body


def _encode_block(bw: _BitWriter, blk: np.ndarray, q: int, pred: int) -> int:
    coef = np.round(_fdct(blk) / q).astype(int)
    zz = [int(coef.flat[ZIGZAG[i]]) for i in range(64)]
    diff = zz[0] - pred
    s = _cat(diff)
    length, code = _DC_CODES[s]
    bw.put(code, length)
    if s:
        bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = _AC_CODES[0xF0]
            bw.put(code, length)
            run -= 16
        s = _cat(v)
        length, code = _AC_CODES[run << 4 | s]
        bw.put(code, length)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        length, code = _AC_CODES[0x00]
        bw.put(code, length)
    return zz[0]


def _pad_to(px: np.ndarray, bh: int, bw_: int) -> np.ndarray:
    h, w = px.shape
    return np.pad(px, ((0, bh - h), (0, bw_ - w)), mode="edge")


def encode_jpeg(
    planes,
    comp_ids=(1,),
    sampling=((1, 1),),
    q: int = 1,
    restart: int = 0,
    sof: int = 0xC0,
) -> bytes:
    """Baseline interleaved encoder.  ``planes[0]`` fixes the frame
    dimensions; plane i must already be at its subsampled size
    (ceil-scaled by sampling[i]/max)."""
    h, w = planes[0].shape
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * hmax)) if len(planes) > 1 else -(-w // 8)
    mcus_y = -(-h // (8 * vmax)) if len(planes) > 1 else -(-h // 8)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00" + bytes([q] * 64)
    sof_body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof_body += bytes([len(planes)])
    for cid, (sh, sv) in zip(comp_ids, sampling):
        sof_body += bytes([cid, sh << 4 | sv, 0])
    out += bytes([0xFF, sof]) + (2 + len(sof_body)).to_bytes(2, "big") + sof_body
    out += _dht(0, 0, _DC_COUNTS, _DC_SYMS) + _dht(1, 0, _AC_COUNTS, _AC_SYMS)
    if restart:
        out += b"\xff\xdd" + (4).to_bytes(2, "big") + restart.to_bytes(2, "big")
    sos_body = bytes([len(planes)])
    for cid in comp_ids:
        sos_body += bytes([cid, 0x00])
    sos_body += bytes([0, 63, 0])
    out += b"\xff\xda" + (2 + len(sos_body)).to_bytes(2, "big") + sos_body

    if len(planes) == 1:
        padded = [_pad_to(planes[0], mcus_y * 8, mcus_x * 8)]
        sampling = ((1, 1),)
    else:
        padded = []
        for pl, (sh, sv) in zip(planes, sampling):
            padded.append(_pad_to(pl, mcus_y * sv * 8, mcus_x * sh * 8))

    bw = _BitWriter()
    preds = [0] * len(planes)
    mcu = 0
    rstn = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart and mcu and mcu % restart == 0:
                bw.flush()
                out += bw.buf
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + rstn % 8])
                rstn += 1
                preds = [0] * len(planes)
            for ci, (sh, sv) in enumerate(sampling):
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        blk = padded[ci][y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = _encode_block(bw, blk, q, preds[ci])
            mcu += 1
    bw.flush()
    out += bw.buf + b"\xff\xd9"
    return bytes(out)


def _maxdiff(a: np.ndarray, b: np.ndarray) -> int:
    assert a.shape == b.shape
    return int(np.abs(a.astype(np.int64) - b.astype(np.int64)).max())


# ---------------------------------------------------------------------------
# Independent PROGRESSIVE encoder (T.81 G.1.2: spectral selection +
# successive approximation).  Correction-bit interleaving follows the
# decoder's consumption order position-for-position, so round trips pin
# the refinement walk exactly; real third-party progressive files pin
# the decoder against external encoders.
# ---------------------------------------------------------------------------


def _tz_shift(v: int, al: int) -> int:
    """AC point transform: shift toward zero (T.81 G.1.2.2)."""
    return v >> al if v >= 0 else -((-v) >> al)


def _block_coefs(blk: np.ndarray, q: int) -> list:
    coef = np.round(_fdct(blk) / q).astype(int)
    return [int(coef.flat[ZIGZAG[i]]) for i in range(64)]


def _emit_dc_first(bw, zz, pred, al):
    val = zz[0] >> al  # DC point transform is an arithmetic shift
    diff = val - pred
    s = _cat(diff)
    length, code = _DC_CODES[s]
    bw.put(code, length)
    if s:
        bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    return val


def _emit_ac_first(bw, zz, ss, se, al, pending):
    """One block of an AC first scan; ``pending`` is the cross-block
    EOB-run counter (list of one int).  Returns nothing; flushing
    happens via _flush_eobrun."""
    vals = [_tz_shift(zz[k], al) for k in range(ss, se + 1)]
    if not any(vals):
        pending[0] += 1
        if pending[0] == 0x7FFF:
            _flush_eobrun(bw, pending)
        return
    _flush_eobrun(bw, pending)
    run = 0
    last_nz = max(i for i, v in enumerate(vals) if v)
    for i, v in enumerate(vals):
        if i > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = _AC_CODES[0xF0]
            bw.put(code, length)
            run -= 16
        s = _cat(v)
        length, code = _AC_CODES[run << 4 | s]
        bw.put(code, length)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < len(vals) - 1:
        pending[0] += 1


def _flush_eobrun(bw, pending, bits=None):
    """Emit a pending EOB run (and, for refinement scans, the buffered
    correction bits that ride with it)."""
    n = pending[0]
    if n > 0:
        r = n.bit_length() - 1
        length, code = _AC_CODES[r << 4]
        bw.put(code, length)
        if r:
            bw.put(n - (1 << r), r)
        pending[0] = 0
    if bits:
        for b in bits:
            bw.put(b, 1)
        bits.clear()


def _emit_ac_refine(bw, zz, ss, se, al, pending, pending_bits):
    """One block of an AC refinement scan (history precision al+1).

    Mirrors the decoder walk exactly: after each ZRL / newly-significant
    code, correction bits are interleaved in position order up to the
    decoder's break position; blocks with no new coefficients join the
    EOB run with their correction bits buffered behind it."""
    hist = [_tz_shift(zz[k], al + 1) for k in range(ss, se + 1)]
    cur = [abs(zz[k]) >> al for k in range(ss, se + 1)]
    sign = [1 if zz[k] >= 0 else 0 for k in range(ss, se + 1)]
    new = [i for i, (h, c) in enumerate(zip(hist, cur)) if h == 0 and c == 1]
    if not new:
        pending[0] += 1
        pending_bits.extend(c & 1 for h, c in zip(hist, cur) if h != 0)
        if pending[0] == 0x7FFF:
            _flush_eobrun(bw, pending, pending_bits)
        return
    _flush_eobrun(bw, pending, pending_bits)
    i = 0
    for nk in new:
        # the run counts zero-HISTORY positions in [i, nk)
        run = sum(1 for j in range(i, nk) if hist[j] == 0)
        while run > 15:
            length, code = _AC_CODES[0xF0]
            bw.put(code, length)
            # interleave: corrections at nonzero-history positions up
            # to (and including those before) the 16th zero-history
            zeros = 0
            while i < nk:
                if hist[i] != 0:
                    bw.put(cur[i] & 1, 1)
                else:
                    zeros += 1
                    if zeros == 16:
                        i += 1
                        break
                i += 1
            run -= 16
        length, code = _AC_CODES[run << 4 | 1]
        bw.put(code, length)
        bw.put(sign[nk], 1)
        for j in range(i, nk):
            if hist[j] != 0:
                bw.put(cur[j] & 1, 1)
        i = nk + 1
    # tail: EOB run for the rest of the band (if any history bits or
    # zeros remain) with this block's remaining corrections buffered
    if i <= se - ss:
        pending[0] += 1
        pending_bits.extend(
            cur[j] & 1 for j in range(i, se - ss + 1) if hist[j] != 0
        )


def encode_jpeg_progressive(
    planes,
    comp_ids=(1,),
    sampling=((1, 1),),
    q: int = 1,
    restart: int = 0,
    precision: int = 8,
) -> bytes:
    """Progressive encoder with the canonical scan script: DC first
    (Al=1, interleaved) → DC refine → per-component AC first in two
    spectral bands (Al=1) → per-component AC refine (Al=0).
    ``precision=12`` emits Pq=1 16-bit quant tables and shifts the
    level by 2048 (the scan emission itself is depth-blind)."""
    h, w = planes[0].shape
    ncomp = len(planes)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    if ncomp == 1:
        sampling = ((1, 1),)
        hmax = vmax = 1
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # quantized zigzag coefficients for every padded-grid block, plus
    # each component's own (non-interleaved) block grid dims
    all_coefs, grids, ni_grids = [], [], []
    for pl, (sh, sv) in zip(planes, sampling):
        rows, cols = mcus_y * sv, mcus_x * sh
        padded = _pad_to(pl, rows * 8, cols * 8)
        if precision == 12:
            # _fdct subtracts 128; the 12-bit level shift is 2048
            padded = padded.astype(np.float64) - 1920.0
        coefs = [
            _block_coefs(padded[y * 8 : y * 8 + 8, x * 8 : x * 8 + 8], q)
            for y in range(rows)
            for x in range(cols)
        ]
        all_coefs.append(coefs)
        grids.append((rows, cols))
        comp_w = (w * sh + hmax - 1) // hmax
        comp_h = (h * sv + vmax - 1) // vmax
        ni_grids.append((-(-comp_h // 8), -(-comp_w // 8)))

    out = bytearray(b"\xff\xd8")
    if precision == 12:
        out += b"\xff\xdb" + (2 + 1 + 128).to_bytes(2, "big") + b"\x10"
        out += struct.pack(">64H", *([q] * 64))
    else:
        out += (b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00"
                + bytes([q] * 64))
    sof_body = bytes([precision]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof_body += bytes([ncomp])
    for cid, (sh, sv) in zip(comp_ids, sampling):
        sof_body += bytes([cid, sh << 4 | sv, 0])
    out += b"\xff\xc2" + (2 + len(sof_body)).to_bytes(2, "big") + sof_body
    out += _dht(0, 0, _DC_COUNTS, _DC_SYMS) + _dht(1, 0, _AC_COUNTS, _AC_SYMS)
    if restart:
        out += b"\xff\xdd" + (4).to_bytes(2, "big") + restart.to_bytes(2, "big")

    def sos(scan_ids, ss, se, ah, al, emit_units, pre_restart=None):
        nonlocal out
        body = bytes([len(scan_ids)])
        for cid in scan_ids:
            body += bytes([cid, 0x00])
        body += bytes([ss, se, ah << 4 | al])
        out += b"\xff\xda" + (2 + len(body)).to_bytes(2, "big") + body
        bw = _BitWriter()
        rstn = 0
        for n_done, emit in enumerate(emit_units):
            if restart and n_done and n_done % restart == 0:
                if pre_restart is not None:
                    pre_restart(bw)  # EOB runs must not cross a restart
                bw.flush()
                out += bw.buf
                out += bytes([0xFF, 0xD0 + rstn % 8])
                rstn += 1
                bw = _BitWriter()
                emit(reset=True)
            emit(bw)
        bw.flush()
        out += bw.buf

    # --- scan 1: DC first, interleaved, Al=1 -------------------------------
    preds = [0] * ncomp

    def dc_units(ah, al):
        units = []
        for my in range(mcus_y):
            for mx in range(mcus_x):

                def emit(bw=None, reset=False, my=my, mx=mx):
                    if reset:
                        for ci in range(ncomp):
                            preds[ci] = 0
                        return
                    for ci in range(ncomp):
                        sh, sv = sampling[ci]
                        _, cols = grids[ci]
                        for by in range(sv):
                            for bx in range(sh):
                                zz = all_coefs[ci][
                                    (my * sv + by) * cols + (mx * sh + bx)
                                ]
                                if ah == 0:
                                    preds[ci] = _emit_dc_first(
                                        bw, zz, preds[ci], al
                                    )
                                else:
                                    bw.put((zz[0] >> al) & 1, 1)

                units.append(emit)
        return units

    for ci in range(ncomp):
        preds[ci] = 0
    sos(comp_ids, 0, 0, 0, 1, dc_units(0, 1))
    sos(comp_ids, 0, 0, 1, 0, dc_units(1, 0))

    # --- AC scans: two first-pass bands at Al=1, then refine to Al=0 -------
    def ac_units(ci, ss, se, ah, al):
        rows_ni, cols_ni = ni_grids[ci]
        _, cols = grids[ci]
        units = []
        eobrun = [0]
        bits: list = []

        def flush_tail(bw):
            _flush_eobrun(bw, eobrun, bits)

        for y in range(rows_ni):
            for x in range(cols_ni):

                def emit(bw=None, reset=False, y=y, x=x):
                    if reset:
                        eobrun[0] = 0
                        bits.clear()
                        return
                    zz = all_coefs[ci][y * cols + x]
                    if ah == 0:
                        _emit_ac_first(bw, zz, ss, se, al, eobrun)
                    else:
                        _emit_ac_refine(bw, zz, ss, se, al, eobrun, bits)

                units.append(emit)
        return units, flush_tail

    for ci in range(ncomp):
        for ss, se, ah, al in ((1, 5, 0, 1), (6, 63, 0, 1), (1, 63, 1, 0)):
            units, flush_tail = ac_units(ci, ss, se, ah, al)

            def with_tail(units=units, flush_tail=flush_tail):
                for idx, u in enumerate(units):
                    if idx == len(units) - 1:

                        def last(bw=None, reset=False, u=u):
                            if reset:
                                u(reset=True)
                                return
                            u(bw)
                            flush_tail(bw)

                        yield last
                    else:
                        yield u

            sos(
                (comp_ids[ci],), ss, se, ah, al, list(with_tail()),
                pre_restart=flush_tail,
            )

    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Round trips against the independent encoder
# ---------------------------------------------------------------------------


class TestGrayRoundTrip:
    def test_flat_is_exact(self):
        for val, q in ((137, 1), (144, 16), (0, 1), (255, 1)):
            px = np.full((10, 13), val, dtype=np.uint8)
            np.testing.assert_array_equal(decode_jpeg(encode_jpeg([px], q=q)), px)

    def test_gradient_within_one(self):
        g = np.add.outer(np.arange(17) * 3, np.arange(23) * 2).astype(np.uint8)
        assert _maxdiff(decode_jpeg(encode_jpeg([g])), g) <= 1

    def test_noise_within_one(self):
        rng = np.random.default_rng(7)
        nz = rng.integers(0, 256, (24, 16), dtype=np.uint8)
        assert _maxdiff(decode_jpeg(encode_jpeg([nz])), nz) <= 1

    def test_odd_dims_edge_padding_cropped(self):
        # 9×7: one partial MCU in each direction; decode crops to H×W
        rng = np.random.default_rng(8)
        px = rng.integers(0, 256, (9, 7), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg([px]))
        assert out.shape == (9, 7)
        assert _maxdiff(out, px) <= 1

    def test_restart_intervals(self):
        rng = np.random.default_rng(9)
        px = rng.integers(0, 256, (24, 40), dtype=np.uint8)  # 15 MCUs
        for ri in (1, 2, 7):
            assert _maxdiff(decode_jpeg(encode_jpeg([px], restart=ri)), px) <= 1

    def test_extended_sequential_sof1(self):
        px = np.full((8, 8), 99, dtype=np.uint8)
        np.testing.assert_array_equal(decode_jpeg(encode_jpeg([px], sof=0xC1)), px)

    def test_single_pixel(self):
        px = np.array([[201]], dtype=np.uint8)
        np.testing.assert_array_equal(decode_jpeg(encode_jpeg([px])), px)


class TestColorRoundTrip:
    def test_ycbcr_420_flat_chroma_returns_luma(self):
        """2×2-subsampled YCbCr with neutral chroma: the luma output
        must be the Y plane (within coefficient rounding) — exercises
        MCU interleave, per-component block fan-out, and upsampling."""
        rng = np.random.default_rng(10)
        y = rng.integers(0, 256, (19, 21), dtype=np.uint8)
        ch_h, ch_w = -(-19 // 2), -(-21 // 2)
        cb = np.full((ch_h, ch_w), 128, dtype=np.uint8)
        cr = np.full((ch_h, ch_w), 128, dtype=np.uint8)
        data = encode_jpeg(
            [y, cb, cr], comp_ids=(1, 2, 3), sampling=((2, 2), (1, 1), (1, 1))
        )
        out = decode_jpeg(data)
        assert out.shape == (19, 21)
        assert _maxdiff(out, y) <= 1

    def test_ycbcr_422(self):
        rng = np.random.default_rng(11)
        y = rng.integers(0, 256, (16, 18), dtype=np.uint8)
        cb = np.full((16, 9), 128, dtype=np.uint8)
        cr = np.full((16, 9), 128, dtype=np.uint8)
        data = encode_jpeg(
            [y, cb, cr], comp_ids=(1, 2, 3), sampling=((2, 1), (1, 1), (1, 1))
        )
        assert _maxdiff(decode_jpeg(data), y) <= 1

    def test_rgb_component_ids_use_bt601(self):
        rng = np.random.default_rng(12)
        rgb = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        data = encode_jpeg(
            [rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]],
            comp_ids=(0x52, 0x47, 0x42),
            sampling=((1, 1), (1, 1), (1, 1)),
        )
        r, g, b = (rgb[:, :, i].astype(np.uint32) for i in range(3))
        expect = ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)
        # each channel carries ≤1 rounding, luma mixes three of them
        assert _maxdiff(decode_jpeg(data), expect) <= 2


# ---------------------------------------------------------------------------
# Progressive round trips
# ---------------------------------------------------------------------------


class TestProgressiveRoundTrip:
    def test_flat_is_exact(self):
        flat = np.full((10, 13), 137, dtype=np.uint8)
        np.testing.assert_array_equal(
            decode_jpeg(encode_jpeg_progressive([flat])), flat
        )

    def test_gradient_and_noise(self):
        g = np.add.outer(np.arange(17) * 3, np.arange(23) * 2).astype(np.uint8)
        assert _maxdiff(decode_jpeg(encode_jpeg_progressive([g])), g) <= 1
        rng = np.random.default_rng(21)
        nz = rng.integers(0, 256, (24, 40), dtype=np.uint8)
        assert _maxdiff(decode_jpeg(encode_jpeg_progressive([nz])), nz) <= 1

    def test_matches_baseline_decode_exactly(self):
        """Same quantized coefficients through the progressive scan
        script and the sequential scan must decode to IDENTICAL pixels
        — pins the DC/AC successive-approximation reassembly bit-for-
        bit against the (independently validated) sequential path."""
        rng = np.random.default_rng(22)
        for q in (1, 4, 16):
            px = rng.integers(0, 256, (24, 17), dtype=np.uint8)
            prog = decode_jpeg(encode_jpeg_progressive([px], q=q))
            base = decode_jpeg(encode_jpeg([px], q=q))
            np.testing.assert_array_equal(prog, base)

    def test_restart_intervals(self):
        rng = np.random.default_rng(23)
        nz = rng.integers(0, 256, (24, 40), dtype=np.uint8)
        for ri in (1, 3, 7):
            assert _maxdiff(
                decode_jpeg(encode_jpeg_progressive([nz], restart=ri)), nz
            ) <= 1

    def test_ycbcr_420_odd_dims(self):
        """Odd dimensions with 2×2 subsampling: the luma component's
        own block grid (3×3) is smaller than the MCU-padded grid (4×4),
        so non-interleaved AC scans must cover only the former."""
        rng = np.random.default_rng(24)
        y = rng.integers(0, 256, (19, 21), dtype=np.uint8)
        cb = np.full((10, 11), 128, dtype=np.uint8)
        cr = np.full((10, 11), 128, dtype=np.uint8)
        data = encode_jpeg_progressive(
            [y, cb, cr], comp_ids=(1, 2, 3), sampling=((2, 2), (1, 1), (1, 1))
        )
        out = decode_jpeg(data)
        assert out.shape == (19, 21)
        assert _maxdiff(out, y) <= 1

    def test_truncated_progressive_stream(self):
        rng = np.random.default_rng(25)
        px = rng.integers(0, 256, (24, 24), dtype=np.uint8)
        data = encode_jpeg_progressive([px])
        with pytest.raises(ValueError):
            decode_jpeg(data[: len(data) // 2])


_PROG_FIXTURES = [
    "/usr/share/doc/nodejs/thin-white-stripe.jpg",
    "/usr/share/doc/nodejs/full-white-stripe.jpg",
    "/opt/spark/data/mllib/images/origin/multi-channel/grayscale.jpg",
]


@pytest.mark.skipif(
    not all(os.path.isfile(f) for f in _PROG_FIXTURES),
    reason="third-party progressive fixtures absent",
)
class TestProgressiveRealFiles:
    """Real progressive JPEGs from third-party encoders that happen to
    ship in this container (nodejs docs, Spark's mllib test images)."""

    def test_decodes_with_plausible_content(self):
        thin = decode_jpeg(open(_PROG_FIXTURES[0], "rb").read())
        full = decode_jpeg(open(_PROG_FIXTURES[1], "rb").read())
        assert thin.shape == (58, 493) and full.shape == (312, 493)
        # "white stripe" images: mostly bright pixels
        assert (thin > 180).mean() > 0.75
        assert (full > 180).mean() > 0.9

    def test_cross_format_agreement_with_baseline_original(self):
        """mllib ships the same photo twice: chr30.4.184.jpg (baseline,
        color) and grayscale.jpg (progressive, grayscale).  Decoding
        both through the two separate code paths must give near-
        identical pixels (residual = the third-party gray conversion)."""
        g = decode_jpeg(open(_PROG_FIXTURES[2], "rb").read())
        base = os.path.join(os.path.dirname(_PROG_FIXTURES[2]), "chr30.4.184.jpg")
        c = decode_jpeg(open(base, "rb").read())
        assert g.shape == c.shape == (215, 300)
        corr = np.corrcoef(g.astype(float).ravel(), c.astype(float).ravel())[0, 1]
        assert corr > 0.99  # measured 0.9991


# ---------------------------------------------------------------------------
# Error boundaries
# ---------------------------------------------------------------------------


class TestBoundaries:
    def test_not_a_jpeg(self):
        with pytest.raises(ValueError):
            decode_jpeg(b"\x89PNGnope")

    def test_truncated_header(self):
        px = np.full((8, 8), 10, dtype=np.uint8)
        data = encode_jpeg([px])
        with pytest.raises(ValueError):
            decode_jpeg(data[:20])

    def test_truncated_entropy_stream(self):
        rng = np.random.default_rng(13)
        px = rng.integers(0, 256, (32, 32), dtype=np.uint8)
        data = encode_jpeg([px])
        with pytest.raises(ValueError):
            decode_jpeg(data[:-40])

    def test_progressive_with_sequential_scan_header_is_corrupt(self):
        # SOF2 + a full-band Ss=0..Se=63 scan is spec-invalid (a
        # progressive DC scan must have Se=0) — data error, not a gap
        px = np.full((8, 8), 10, dtype=np.uint8)
        with pytest.raises(ValueError):
            decode_jpeg(encode_jpeg([px], sof=0xC2))

    def test_arithmetic_huffman_frame_mismatch_never_crashes(self):
        # SOF9/SOF10 decode for real since r4 (test_jpeg_arith.py).
        # A HUFFMAN-coded scan relabeled as an arithmetic frame is
        # data corruption; the QM-coder is bit-pattern-tolerant (every
        # stream is decodable), so the contract is garbage-or-typed-
        # error, never a crash
        px = np.full((8, 8), 10, dtype=np.uint8)
        try:
            out = decode_jpeg(encode_jpeg([px], sof=0xC9))
            assert out.shape == (8, 8)
        except (ValueError, NotImplementedError):
            pass

    def test_arithmetic_differential_frames_not_implemented(self):
        px = np.full((8, 8), 10, dtype=np.uint8)
        with pytest.raises(NotImplementedError, match="differential"):
            decode_jpeg(encode_jpeg([px], sof=0xCD))

    def test_cmyk_decodes_inverted_ink_luma(self):
        # 4-channel decodes as of r4 (Adobe inverted convention:
        # 255 = no ink); flat planes make the expectation closed-form
        c = np.full((8, 8), 200, dtype=np.uint8)
        k = np.full((8, 8), 128, dtype=np.uint8)
        out = decode_jpeg(
            encode_jpeg(
                [c, c, c, k],
                comp_ids=(1, 2, 3, 4),
                sampling=((1, 1),) * 4,
            )
        )
        # BT601(200,200,200) * 128/255 ~= 100
        assert out.shape == (8, 8)
        assert np.all(np.abs(out.astype(int) - 100) <= 1)

    def test_missing_quant_table(self):
        px = np.full((8, 8), 10, dtype=np.uint8)
        data = bytearray(encode_jpeg([px]))
        # point the frame's Tq at table 3 (never defined)
        sof_at = data.index(b"\xff\xc0")
        data[sof_at + 12] = 3  # comp 0 Tq byte
        with pytest.raises(ValueError, match="quant"):
            decode_jpeg(bytes(data))

    def test_garbage_after_soi(self):
        with pytest.raises(ValueError):
            decode_jpeg(b"\xff\xd8\xffjpegbytes")

    def test_decompression_bomb_guard(self):
        # a hostile SOF claiming 65535x65535 must be rejected BEFORE
        # any pixel/coefficient allocation (web-scale ingest safety)
        px = np.full((8, 8), 10, dtype=np.uint8)
        data = bytearray(encode_jpeg([px]))
        sof_at = data.index(b"\xff\xc0")
        data[sof_at + 5 : sof_at + 9] = b"\xff\xff\xff\xff"  # H, W
        with pytest.raises(ValueError, match="bomb"):
            decode_jpeg(bytes(data))

    def test_corruption_fuzz_never_crashes(self):
        """Random byte corruptions of valid streams (both scan
        structures, with and without restarts) must yield either a
        valid uint8 array or ValueError/NotImplementedError — never an
        IndexError/TypeError/hang.  A 20k-trial sweep ran clean when
        this was pinned; the in-suite pass is bounded."""
        rng = np.random.default_rng(1234)
        px = rng.integers(0, 256, (24, 31), dtype=np.uint8)
        srcs = [
            encode_jpeg([px], restart=3),
            encode_jpeg_progressive([px], restart=3),
            encode_jpeg([px]),
            encode_jpeg_progressive([px]),
        ]
        for trial in range(1200):
            data = bytearray(srcs[trial % 4])
            for _ in range(rng.integers(1, 5)):
                data[rng.integers(0, len(data))] = rng.integers(0, 256)
            try:
                out = decode_jpeg(bytes(data))
                assert isinstance(out, np.ndarray) and out.dtype == np.uint8
            except (ValueError, NotImplementedError):
                pass


# ---------------------------------------------------------------------------
# Real-world files (two independent third-party encoders, same photo)
# ---------------------------------------------------------------------------

_REF = "/root/reference/test/test_files"


@pytest.mark.skipif(not os.path.isdir(_REF), reason="reference corpus absent")
class TestReferenceFiles:
    def test_cross_encoder_agreement(self):
        a = decode_jpeg(open(f"{_REF}/benchmark/1.jpg", "rb").read())
        b = decode_jpeg(open(f"{_REF}/readable.jpg", "rb").read())
        assert a.shape == b.shape == (3508, 2480)
        d = np.abs(a.astype(np.int32) - b.astype(np.int32))
        assert d.mean() < 1.0  # measured 0.12
        assert np.percentile(d, 99) <= 8  # measured 3

    def test_receipt_content_signal(self):
        px = decode_jpeg(open(f"{_REF}/readable.jpg", "rb").read())
        # a photographed receipt: mostly paper, some ink
        assert (px > 200).mean() > 0.9
        assert 0.005 < (px < 100).mean() < 0.2

    def test_small_file(self):
        px = decode_jpeg(open(f"{_REF}/empty.jpg", "rb").read())
        assert px.shape == (33, 49)
        assert float(px.mean()) > 250  # near-white


# ---------------------------------------------------------------------------
# Integration: dispatch, PDF DCTDecode, OCR end-to-end
# ---------------------------------------------------------------------------


class TestIntegration:
    def test_decode_pixels_dispatches_jpeg(self):
        from receipt_scanner_spark.extract.imaging import decode_pixels

        px = np.add.outer(np.arange(9) * 11, np.arange(12) * 7).astype(np.uint8)
        assert _maxdiff(decode_pixels(encode_jpeg([px])), px) <= 1

    def test_pdf_dctdecode_xobject_real_pixels(self):
        from receipt_scanner_spark.extract.pdf import extract_pdf_image_arrays

        rng = np.random.default_rng(14)
        px = rng.integers(0, 256, (10, 11), dtype=np.uint8)
        body = encode_jpeg([px])
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image /Width 11"
            b" /Height 10 /BitsPerComponent 8 /ColorSpace /DeviceGray"
            b" /Filter /DCTDecode /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream\nendobj\n"
        )
        out = extract_pdf_image_arrays(pdf)
        assert len(out) == 1
        got, err = out[0]
        assert err is None
        assert _maxdiff(got, px) <= 1

    def test_ocr_reads_jpeg_receipt(self):
        """render → independent JPEG encode → real decode → template
        OCR: the full photographed-receipt chain, no stubs anywhere."""
        from receipt_scanner_spark.extract.imaging import decode_pixels
        from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text

        text = "TOTAL: $12.95\nDATE 2016-03-02"
        px = render_text(text, scale=2, margin=4)
        assert ocr_pixels(decode_pixels(encode_jpeg([px]))) == text


class Test12BitPrecision:
    """12-bit DCT precision (r5): extended-sequential / progressive
    Huffman frames with Pq=1 16-bit quantization tables, 12-bit level
    shift and clip, high-byte 8-bit output contract.  No 12-bit codec
    exists on this host (libjpeg-turbo is an 8-bit build), so the
    evidence tier is the independent in-test encoder, like SOF3."""

    @staticmethod
    def _encode12(plane: np.ndarray, q: int = 16, sof: int = 0xC1) -> bytes:
        h, w = plane.shape
        mcus_x, mcus_y = -(-w // 8), -(-h // 8)
        dc_counts = [0] * 16
        dc_counts[4] = 16  # all 16 DIFF categories, 5-bit codes
        dc_syms = list(range(16))
        dc_codes = _canon(dc_counts, dc_syms)
        ac_syms = [0x00, 0xF0] + [
            (r << 4) | s for r in range(16) for s in range(1, 15)
        ]
        ac_counts = [0] * 16
        ac_counts[7] = len(ac_syms)  # 226 8-bit codes (Kraft 226/256)
        ac_codes = _canon(ac_counts, ac_syms)
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + (2 + 1 + 128).to_bytes(2, "big") + b"\x10"
        out += struct.pack(">64H", *([q] * 64))
        sofb = bytes([12]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        sofb += bytes([1, 1, 0x11, 0])
        out += bytes([0xFF, sof]) + (2 + len(sofb)).to_bytes(2, "big") + sofb
        out += _dht(0, 0, dc_counts, dc_syms)
        out += _dht(1, 0, ac_counts, ac_syms)
        out += b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0x00, 0, 63, 0])
        padded = _pad_to(plane, mcus_y * 8, mcus_x * 8)
        bw = _BitWriter()
        pred = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                blk = padded[
                    my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8
                ].astype(np.float64)
                # 12-bit level shift is 2048; _fdct subtracts 128
                coef = np.round(_fdct(blk - 1920.0) / q).astype(int)
                zz = [int(coef.flat[ZIGZAG[i]]) for i in range(64)]
                diff = zz[0] - pred
                pred = zz[0]
                s = _cat(diff)
                ln, code = dc_codes[s]
                bw.put(code, ln)
                if s:
                    bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
                run = 0
                for k in range(1, 64):
                    v = zz[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        ln, code = ac_codes[0xF0]
                        bw.put(code, ln)
                        run -= 16
                    s = _cat(v)
                    ln, code = ac_codes[run << 4 | s]
                    bw.put(code, ln)
                    bw.put(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                if run:
                    ln, code = ac_codes[0x00]
                    bw.put(code, ln)
        bw.flush()
        out += bytes(bw.buf) + b"\xff\xd9"
        return bytes(out)

    def test_flat_is_exact(self):
        px = np.full((16, 16), 3000, np.int32)
        out = decode_jpeg(self._encode12(px))
        np.testing.assert_array_equal(out, np.full((16, 16), 3000 >> 4, np.uint8))

    def test_gradient_high_byte_contract(self):
        yy, xx = np.mgrid[0:24, 0:40]
        px = ((xx * 97 + yy * 53) % 4096).astype(np.int32)
        out = decode_jpeg(self._encode12(px, q=1))
        assert _maxdiff(out, (px >> 4).astype(np.uint8)) <= 1

    def test_noise_fine_quantizer(self):
        rng = np.random.default_rng(12)
        px = rng.integers(0, 4096, (17, 23)).astype(np.int32)
        out = decode_jpeg(self._encode12(px, q=1))
        assert _maxdiff(out, (px >> 4).astype(np.uint8)) <= 1

    def test_12bit_progressive_matches_sequential_bit_identical(self):
        # r5 continuation: the same coefficients through the
        # progressive scan script (DC first/refine, split AC bands,
        # AC refine) must reconstruct BIT-identically to the
        # extended-sequential stream — same pin as the 8-bit pair
        rng = np.random.default_rng(13)
        px = ((np.cumsum(rng.integers(0, 40, (21, 35)), axis=1))
              % 4096).astype(np.int32)
        for q in (1, 16):
            seq = decode_jpeg(self._encode12(px, q=q))
            prog = decode_jpeg(
                encode_jpeg_progressive([px], q=q, precision=12)
            )
            np.testing.assert_array_equal(seq, prog)

    def test_12bit_progressive_with_restarts(self):
        rng = np.random.default_rng(14)
        px = rng.integers(0, 4096, (24, 24)).astype(np.int32)
        seq = decode_jpeg(self._encode12(px, q=1))
        prog = decode_jpeg(
            encode_jpeg_progressive([px], q=1, precision=12, restart=2)
        )
        np.testing.assert_array_equal(seq, prog)

    def test_12bit_progressive_color_flat_exact(self):
        # flat planes -> AC all zero, DC exact at q=1: the decoded
        # luma must equal the high byte of the Y plane exactly
        # (Cb = Cr = 2048 is the neutral chroma point at 12 bits)
        planes = [
            np.full((16, 16), 3000, np.int32),
            np.full((16, 16), 2048, np.int32),
            np.full((16, 16), 2048, np.int32),
        ]
        out = decode_jpeg(
            encode_jpeg_progressive(
                planes, comp_ids=(1, 2, 3),
                sampling=((1, 1), (1, 1), (1, 1)), q=1, precision=12,
            )
        )
        np.testing.assert_array_equal(
            out, np.full((16, 16), 3000 >> 4, np.uint8)
        )

    def test_12bit_arithmetic_sequential(self):
        """r5: 12-bit SOF9 — the arithmetic twin encoder produces the
        same quantized coefficients as the 12-bit Huffman encoder, so
        both must decode identically."""
        from tests.test_jpeg_arith import encode_jpeg_arith

        rng = np.random.default_rng(15)
        px = ((np.cumsum(rng.integers(0, 40, (21, 35)), axis=1))
              % 4096).astype(np.int32)
        for q in (1, 16):
            huff = decode_jpeg(self._encode12(px, q=q))
            arith = decode_jpeg(
                encode_jpeg_arith([px], q=q, precision=12)
            )
            np.testing.assert_array_equal(huff, arith)
        # restarts reset statistics + DC context
        huff = decode_jpeg(self._encode12(px, q=1))
        arith = decode_jpeg(
            encode_jpeg_arith([px], q=1, precision=12, restart=3)
        )
        np.testing.assert_array_equal(huff, arith)

    def test_12bit_arith_progressive_relabel_is_corruption(self):
        # 12-bit arithmetic progressive DECODES as of r5 session 4
        # (tests/test_jpeg_arith.py::TestArithProgressive) — a HUFFMAN
        # 12-bit stream merely relabeled SOF1->SOF10 is data
        # corruption: garbage-or-typed-error, never a crash
        px = np.full((8, 8), 100, np.int32)
        data = bytearray(self._encode12(px))
        data[data.index(b"\xff\xc1") + 1] = 0xCA
        try:
            out = decode_jpeg(bytes(data))
            assert out.shape == (8, 8)
        except (ValueError, NotImplementedError):
            pass


class TestDnlUnknownHeight:
    """B.2.5: a zero-height SOF is legal when a DNL segment after the
    first scan carries the line count — the fax-scanner streaming
    layout.  The encoder twin zeroes the SOF height and appends DNL
    before EOI; decodes must match the known-height stream exactly."""

    @staticmethod
    def _dnl_stream(data: bytes, h: int) -> bytes:
        out = bytearray(data)
        sof = out.find(b"\xff\xc0")
        if sof < 0:
            sof = out.find(b"\xff\xc3")
        out[sof + 5 : sof + 7] = b"\x00\x00"  # Y := 0
        assert out[-2:] == b"\xff\xd9"
        return bytes(
            out[:-2] + b"\xff\xdc\x00\x04" + h.to_bytes(2, "big")
            + b"\xff\xd9"
        )

    def test_sequential_matches_known_height(self):
        rng = np.random.default_rng(61)
        px = rng.integers(0, 256, (21, 30), dtype=np.uint8)
        base = encode_jpeg([px], q=1)
        np.testing.assert_array_equal(
            decode_jpeg(self._dnl_stream(base, 21)), decode_jpeg(base)
        )

    def test_lossless_matches_known_height(self):
        from tests.test_jpeg_lossless import encode_lossless

        rng = np.random.default_rng(62)
        px = rng.integers(0, 256, (9, 14), dtype=np.int32)
        base = encode_lossless([px], predictor=4)
        np.testing.assert_array_equal(
            decode_jpeg(self._dnl_stream(base, 9)), decode_jpeg(base)
        )

    def test_sniff_dims_resolve_through_dnl(self):
        from receipt_scanner_spark.operators.multimodal import (
            sniff_image_dims,
        )

        rng = np.random.default_rng(63)
        px = rng.integers(0, 256, (16, 24), dtype=np.uint8)
        data = self._dnl_stream(encode_jpeg([px], q=1), 16)
        assert sniff_image_dims(data) == ("jpeg", 24, 16, None)

    def test_zero_height_without_dnl_is_value_error(self):
        rng = np.random.default_rng(64)
        px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        out = bytearray(encode_jpeg([px], q=1))
        sof = out.find(b"\xff\xc0")
        out[sof + 5 : sof + 7] = b"\x00\x00"
        with pytest.raises(ValueError, match="DNL"):
            decode_jpeg(bytes(out))

    def test_dnl_zero_line_count_rejected(self):
        rng = np.random.default_rng(65)
        px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        data = self._dnl_stream(encode_jpeg([px], q=1), 8)
        bad = data.replace(
            b"\xff\xdc\x00\x04\x00\x08", b"\xff\xdc\x00\x04\x00\x00"
        )
        with pytest.raises(ValueError, match="zero line"):
            decode_jpeg(bad)

    def test_zero_width_still_rejected(self):
        rng = np.random.default_rng(66)
        px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        out = bytearray(encode_jpeg([px], q=1))
        sof = out.find(b"\xff\xc0")
        out[sof + 7 : sof + 9] = b"\x00\x00"
        with pytest.raises(ValueError, match="zero width"):
            decode_jpeg(bytes(out))


class TestSosComponentCount:
    def test_ns_zero_is_value_error(self):
        # fuzz-found (session 4): an Ns=0 SOS header reached the
        # multi-scan unit builders and indexed an empty list — the
        # count now validates at the SOS parse
        rng = np.random.default_rng(71)
        px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        data = bytearray(encode_jpeg([px], q=1))
        sos = data.find(b"\xff\xda")
        # rewrite the SOS as Ns=0 (length 2+4: ns, ss, se, ahal)
        data[sos:sos + 2 + 2 + 1 + 2 + 3] = (
            b"\xff\xda\x00\x06" + bytes([0, 0, 63, 0])
        )
        with pytest.raises(ValueError, match="component count"):
            decode_jpeg(bytes(data))
