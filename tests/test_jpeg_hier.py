"""Hierarchical JPEG (T.81 Annex J) decoder tests.

No codec on this host — or anywhere mainstream; libjpeg never shipped
Annex J — can oracle hierarchical streams, so the evidence tier is the
same as JBIG2's: an independent in-test ENCODER (DHP/EXP emission,
non-differential base frames, differential SOF5/SOF6/SOF7 frames with
closed-loop reference tracking) plus structural spec pins:

- the J.1.1.2 expansion filter is pinned against hand-computed values
  (out[2n] = R[n], out[2n+1] = (R[n]+R[n+1]+1)>>1, edge replication);
  the horizontal-first order for both-axis expansion is a documented
  convention choice (the rounding makes the order observable — see
  test_exp_axis_order_is_observable) shared by encoder and decoder;
- lossless pyramids round-trip EXACTLY (mod-2^16 differential coding
  leaves no tolerance to hide in);
- DCT pyramids must equal the encoder's closed-loop reconstruction
  bit-for-bit (the encoder reconstructs through the decoder's own
  batched IDCT expression), and a final differential-lossless
  correction frame must recover the original exactly — the hierarchy
  J.1 was designed for;
- a differential frame coded progressively (SOF6) must decode
  bit-identically to the same coefficients coded sequentially (SOF5).
"""

from __future__ import annotations

import numpy as np
import pytest

from receipt_scanner_spark.extract.jpeg import (
    ZIGZAG,
    _C,
    _exp_upsample,
    decode_jpeg,
)
from tests.test_jpeg import (
    _AC_CODES,
    _AC_COUNTS,
    _AC_SYMS,
    _BitWriter,
    _cat,
    _DC_CODES,
    _DC_COUNTS,
    _DC_SYMS,
    _dht,
    _pad_to,
)

_cdiv = lambda a, b: -(-a // b)  # noqa: E731


def _emit_cat(bw: _BitWriter, v: int) -> None:
    """One DC-style category + magnitude-bits emission (±32768 → the
    category-16 escape, T.81 Table F.6 / H.2)."""
    if v in (-32768, 32768):
        ln, code = _DC_CODES[16]
        bw.put(code, ln)
        return
    s = _cat(v)
    ln, code = _DC_CODES[s]
    bw.put(code, ln)
    if s:
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)


def _emit_ac_run(bw: _BitWriter, zz: list[int]) -> None:
    """Sequential-style AC run-length coding of zz[1:] (EOB = 0x00 —
    in a progressive AC-first scan the same symbol means EOBRUN=1, so
    the byte pattern is shared)."""
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = _AC_CODES[0xF0]
            bw.put(code, ln)
            run -= 16
        s = _cat(v)
        ln, code = _AC_CODES[run << 4 | s]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        ln, code = _AC_CODES[0x00]
        bw.put(code, ln)


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(h, w) → (nblk, 8, 8) edge-padded raster block view."""
    by, bx = _cdiv(plane.shape[0], 8), _cdiv(plane.shape[1], 8)
    p = _pad_to(plane, by * 8, bx * 8).astype(np.float64)
    return (
        p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8),
        by,
        bx,
    )


def _quantize(blocks: np.ndarray, q: int, shift: int) -> np.ndarray:
    """FDCT (orthonormal basis — the exact inverse of the decoder's
    _C.T @ X @ _C) + uniform quantization.  ``shift`` is the level
    shift (0 for differential frames, A.3.1)."""
    coef = (_C @ (blocks - shift)) @ _C.T
    return np.round(coef / q).astype(int)


def _reconstruct(coefs: np.ndarray, q: int, shift: int, maxv: int | None):
    """Decoder-identical reconstruction: the same batched IDCT
    expression _hier_dct_planes uses, so closed-loop references match
    the decoder bit-for-bit."""
    spatial = (_C.T @ (coefs.astype(np.float64) * q)) @ _C
    if maxv is None:
        return np.round(spatial).astype(np.int32)
    return np.clip(np.round(spatial) + shift, 0, maxv).astype(np.int32)


class HierEncoder:
    """Minimal Annex-J encoder: one shared 17-category DC table and one
    AC table (ids 0), one uniform quantizer, 1x1-sampled frame
    components (the DHP may still declare subsampling — final assembly
    upsamples).  Frames return their closed-loop reconstruction so
    tests can chain references exactly like the decoder does."""

    def __init__(self, Y, X, comps=((1, 1, 1),), precision=8, q=8):
        self.Y, self.X = Y, X
        self.precision = precision
        self.q = q
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big")
        out += b"\x00" + bytes([q] * 64)
        out += _dht(0, 0, _DC_COUNTS, _DC_SYMS)
        out += _dht(1, 0, _AC_COUNTS, _AC_SYMS)
        body = bytes([precision]) + Y.to_bytes(2, "big") + X.to_bytes(2, "big")
        body += bytes([len(comps)])
        for cid, h, v in comps:
            body += bytes([cid, h << 4 | v, 0])
        out += b"\xff\xde" + (2 + len(body)).to_bytes(2, "big") + body
        # DAC for the arithmetic frame methods: table 0 DC L=0/U=1,
        # table 0 AC Kx=5 (the spec defaults, stated explicitly — and
        # placed AFTER the DHP so the hierarchy walk's own DAC parse
        # is the one exercised)
        out += b"\xff\xcc\x00\x06" + bytes([0x00, 0x10, 0x10, 5])
        self.out = out

    def dqt(self, q):
        """Redefine quant table 0 as uniform ``q`` for later frames."""
        self.q = q
        self.out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big")
        self.out += b"\x00" + bytes([q] * 64)

    def exp(self, eh=1, ev=1):
        self.out += b"\xff\xdf\x00\x03" + bytes([eh << 4 | ev])

    def _sof(self, marker, H, W, cids):
        body = bytes([self.precision])
        body += H.to_bytes(2, "big") + W.to_bytes(2, "big")
        body += bytes([len(cids)])
        for cid in cids:
            body += bytes([cid, 0x11, 0])
        self.out += bytes([0xFF, marker])
        self.out += (2 + len(body)).to_bytes(2, "big") + body

    def _sos(self, cids, ss, se, ahal):
        body = bytes([len(cids)])
        for cid in cids:
            body += bytes([cid, 0x00])
        body += bytes([ss, se, ahal])
        self.out += b"\xff\xda" + (2 + len(body)).to_bytes(2, "big") + body

    def lossless_frame(self, planes, differential):
        """planes: [(cid, (h, w) int array)] — all at the frame size.
        Non-differential uses predictor 1; differential uses predictor
        0 with the values coded directly as mod-2^16 differences.
        Returns the (exact) reconstruction planes."""
        H, W = planes[0][1].shape
        self._sof(0xC7 if differential else 0xC3, H, W, [c for c, _ in planes])
        self._sos([c for c, _ in planes], 0 if differential else 1, 0, 0)
        default = 1 << (self.precision - 1)
        bw = _BitWriter()
        for y in range(H):
            for x in range(W):
                for _cid, p in planes:
                    if differential:
                        v = int(p[y, x]) & 0xFFFF
                        _emit_cat(bw, v - 0x10000 if v >= 0x8000 else v)
                        continue
                    if y == 0 and x == 0:
                        px = default
                    elif y == 0:
                        px = int(p[0, x - 1])
                    elif x == 0:
                        px = int(p[y - 1, 0])
                    else:
                        px = int(p[y, x - 1])
                    d = (int(p[y, x]) - px) & 0xFFFF
                    _emit_cat(bw, d - 0x10000 if d >= 0x8000 else d)
        bw.flush()
        self.out += bytes(bw.buf)
        return [p.astype(np.int32) & 0xFFFF for _c, p in planes]

    def dct_frame(self, planes, differential, progressive=False):
        """planes: [(cid, (h, w) int array)] — samples for a
        non-differential frame, signed differences for a differential
        one.  Returns the closed-loop reconstruction (what the decoder
        will emit for this frame), cropped to the frame size."""
        H, W = planes[0][1].shape
        shift = 0 if differential else (1 << (self.precision - 1))
        maxv = None if differential else (1 << self.precision) - 1
        marker = (0xC6 if differential else 0xC2) if progressive else (
            0xC5 if differential else 0xC0
        )
        if self.precision != 8 and marker == 0xC0:
            marker = 0xC1
        self._sof(marker, H, W, [c for c, _ in planes])
        per_comp = []
        for cid, p in planes:
            blocks, by, bx = _blocks_of(p)
            coefs = _quantize(blocks, self.q, shift)
            per_comp.append((cid, coefs, by, bx))
        if progressive:
            # DC scan (Ss=0, Se=0, Ah=Al=0) over all components,
            # interleaved block-raster like the sequential MCU walk
            self._sos([c for c, *_ in per_comp], 0, 0, 0)
            bw = _BitWriter()
            nb = per_comp[0][1].shape[0]
            preds = {cid: 0 for cid, *_ in per_comp}
            for b in range(nb):
                for cid, coefs, _by, _bx in per_comp:
                    dc = int(coefs[b, 0, 0])
                    _emit_cat(bw, dc - preds[cid])
                    preds[cid] = dc
            bw.flush()
            self.out += bytes(bw.buf)
            # one AC scan per component (Ss=1, Se=63, Ah=Al=0)
            for cid, coefs, _by, _bx in per_comp:
                self._sos([cid], 1, 63, 0)
                bw = _BitWriter()
                for b in range(coefs.shape[0]):
                    zz = [int(coefs[b].flat[ZIGZAG[k]]) for k in range(64)]
                    _emit_ac_run(bw, zz)
                bw.flush()
                self.out += bytes(bw.buf)
        else:
            self._sos([c for c, *_ in per_comp], 0, 63, 0)
            bw = _BitWriter()
            nb = per_comp[0][1].shape[0]
            preds = {cid: 0 for cid, *_ in per_comp}
            for b in range(nb):
                for cid, coefs, _by, _bx in per_comp:
                    zz = [int(coefs[b].flat[ZIGZAG[k]]) for k in range(64)]
                    _emit_cat(bw, zz[0] - preds[cid])
                    preds[cid] = zz[0]
                    _emit_ac_run(bw, zz)
            bw.flush()
            self.out += bytes(bw.buf)
        recons = []
        for cid, coefs, by, bx in per_comp:
            rec = _reconstruct(coefs, self.q, shift, maxv)
            plane = (
                rec.reshape(by, bx, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(by * 8, bx * 8)[:H, :W]
            )
            recons.append(plane)
        return recons

    def arith_lossless_frame(self, planes, differential):
        """SOF11/SOF15 twin of lossless_frame: the H.1.2.2 arithmetic
        entropy layer (25-way (Da, Db) conditioning, Db-selected
        magnitude chains) over the same predictions — non-differential
        uses predictor 1, differential predictor 0."""
        from tests.test_jpeg_arith import _QMEncoder, _enc_lossless_diff

        H, W = planes[0][1].shape
        self._sof(
            0xCF if differential else 0xCB, H, W, [c for c, _ in planes]
        )
        self._sos([c for c, _ in planes], 0 if differential else 1, 0, 0)
        default = 1 << (self.precision - 1)
        enc = _QMEncoder()
        stats = bytearray(158)
        prev_cls = {c: np.zeros(W, np.uint8) for c, _ in planes}
        cur_cls = {c: np.zeros(W, np.uint8) for c, _ in planes}
        for y in range(H):
            for x in range(W):
                for cid, p in planes:
                    if differential:
                        v = int(p[y, x]) & 0xFFFF
                        d = v - 0x10000 if v >= 0x8000 else v
                    else:
                        if y == 0 and x == 0:
                            px = default
                        elif y == 0:
                            px = int(p[0, x - 1])
                        elif x == 0:
                            px = int(p[y - 1, 0])
                        else:
                            px = int(p[y, x - 1])
                        d = (int(p[y, x]) - px) & 0xFFFF
                        d = d - 0x10000 if d >= 0x8000 else d
                    ca = int(cur_cls[cid][x - 1]) if x else 0
                    cb = int(prev_cls[cid][x])
                    cur_cls[cid][x] = _enc_lossless_diff(
                        enc, stats, (0, 1), 4 * (ca * 5 + cb), cb >= 3, d
                    )
            for cid, _p in planes:
                prev_cls[cid][:] = cur_cls[cid]
                cur_cls[cid][:] = 0
        self.out += enc.flush()
        return [p.astype(np.int32) & 0xFFFF for _c, p in planes]

    def arith_dct_frame(self, planes, differential, progressive=False):
        """SOF9/SOF13 twin of dct_frame; ``progressive`` emits the
        SOF10/SOF14 scan script (interleaved DC scan + one full-band
        AC scan per component, each an independent QM stream) — the
        successive-approximation refinement models are pinned by the
        standalone libjpeg-validated encoder in test_jpeg_arith."""
        from receipt_scanner_spark.extract import jarith
        from tests.test_jpeg_arith import (
            _QMEncoder,
            _enc_ac_coefs,
            _enc_dc_diff,
        )

        H, W = planes[0][1].shape
        shift = 0 if differential else (1 << (self.precision - 1))
        maxv = None if differential else (1 << self.precision) - 1
        marker = (0xCE if differential else 0xCA) if progressive else (
            0xCD if differential else 0xC9
        )
        self._sof(marker, H, W, [c for c, _ in planes])
        per_comp = []
        for cid, p in planes:
            blocks, by, bx = _blocks_of(p)
            per_comp.append((cid, _quantize(blocks, self.q, shift), by, bx))
        nb = per_comp[0][1].shape[0]
        if progressive:
            self._sos([c for c, *_ in per_comp], 0, 0, 0)
            enc = _QMEncoder()
            dcs = bytearray(64)
            preds = {cid: 0 for cid, *_ in per_comp}
            ctxs = {cid: 0 for cid, *_ in per_comp}
            for b in range(nb):
                for cid, coefs, _by, _bx in per_comp:
                    dc = int(coefs[b, 0, 0])
                    ctxs[cid] = _enc_dc_diff(
                        enc, dcs, (0, 1), ctxs[cid], dc - preds[cid]
                    )
                    preds[cid] = dc
            self.out += enc.flush()
            for cid, coefs, _by, _bx in per_comp:
                self._sos([cid], 1, 63, 0)
                enc = _QMEncoder()
                acs = bytearray(256)
                fixed = bytearray((jarith.FIXED_STATE,))
                for b in range(coefs.shape[0]):
                    zz = [int(coefs[b].flat[ZIGZAG[k]]) for k in range(64)]
                    _enc_ac_coefs(enc, acs, fixed, 5, zz)
                self.out += enc.flush()
        else:
            self._sos([c for c, *_ in per_comp], 0, 63, 0)
            enc = _QMEncoder()
            dcs, acs = bytearray(64), bytearray(256)
            fixed = bytearray((jarith.FIXED_STATE,))
            preds = {cid: 0 for cid, *_ in per_comp}
            ctxs = {cid: 0 for cid, *_ in per_comp}
            for b in range(nb):
                for cid, coefs, _by, _bx in per_comp:
                    zz = [int(coefs[b].flat[ZIGZAG[k]]) for k in range(64)]
                    diff = zz[0] - preds[cid]
                    preds[cid] = zz[0]
                    ctxs[cid] = _enc_dc_diff(
                        enc, dcs, (0, 1), ctxs[cid], diff
                    )
                    _enc_ac_coefs(enc, acs, fixed, 5, zz)
            self.out += enc.flush()
        recons = []
        for cid, coefs, by, bx in per_comp:
            rec = _reconstruct(coefs, self.q, shift, maxv)
            recons.append(
                rec.reshape(by, bx, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(by * 8, bx * 8)[:H, :W]
            )
        return recons

    def bytes(self) -> bytes:
        return bytes(self.out + b"\xff\xd9")


def _decimate(p: np.ndarray) -> np.ndarray:
    return p[::2, ::2]


class TestExpUpsample:
    def test_horizontal_formula(self):
        # J.1.1.2: out[2n] = R[n]; out[2n+1] = (R[n]+R[n+1]+1)>>1;
        # the edge replicates, so the final odd sample equals R[-1]
        out = _exp_upsample(np.array([[10, 20, 30]]), 1, 0)
        assert out.tolist() == [[10, 15, 20, 25, 30, 30]]

    def test_vertical_formula(self):
        out = _exp_upsample(np.array([[10], [21]]), 0, 1)
        assert out.tolist() == [[10], [16], [21], [21]]

    def test_both_axes_horizontal_first(self):
        # 0,0 / 1,3 is an order-observable cell: H-then-V gives 1 at
        # the both-odd corner, V-then-H would give 2 — the documented
        # convention is horizontal first
        out = _exp_upsample(np.array([[0, 0], [1, 3]]), 1, 1)
        assert out[1, 1] == 1

    def test_exp_axis_order_is_observable(self):
        # the rounding really does make the axis order observable —
        # this is why the convention must be documented, not assumed
        f = lambda x, y: (x + y + 1) >> 1  # noqa: E731
        a, b, c, d = 0, 0, 1, 3
        assert f(f(a, b), f(c, d)) != f(f(a, c), f(b, d))


class TestLosslessPyramid:
    def test_two_level_exact(self):
        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (24, 17), dtype=np.int32)
        enc = HierEncoder(24, 17)
        base = _decimate(img)  # (12, 9)
        ref = enc.lossless_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:24, :17]
        diff = (img - up) & 0xFFFF
        enc.lossless_frame([(1, diff)], differential=True)
        out = decode_jpeg(enc.bytes())
        assert np.array_equal(out, img.astype(np.uint8))

    def test_three_level_odd_dims_exact(self):
        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, (37, 29), dtype=np.int32)
        levels = [img]
        while levels[-1].shape[0] > 8:
            levels.append(_decimate(levels[-1]))
        enc = HierEncoder(37, 29)
        ref = enc.lossless_frame([(1, levels[-1])], differential=False)[0]
        for lv in reversed(levels[:-1]):
            enc.exp(1, 1)
            up = _exp_upsample(ref, 1, 1)[: lv.shape[0], : lv.shape[1]]
            diff = (lv - up) & 0xFFFF
            enc.lossless_frame([(1, diff)], differential=True)
            ref = lv.copy()
        out = decode_jpeg(enc.bytes())
        assert np.array_equal(out, img.astype(np.uint8))

    def test_single_axis_expansion(self):
        rng = np.random.default_rng(13)
        img = rng.integers(0, 256, (16, 16), dtype=np.int32)
        enc = HierEncoder(16, 16)
        base = img[:, ::2]  # horizontal decimation only
        ref = enc.lossless_frame([(1, base)], differential=False)[0]
        enc.exp(1, 0)
        up = _exp_upsample(ref, 1, 0)[:16, :16]
        diff = (img - up) & 0xFFFF
        enc.lossless_frame([(1, diff)], differential=True)
        assert np.array_equal(decode_jpeg(enc.bytes()), img.astype(np.uint8))

    def test_12bit_high_byte_contract(self):
        rng = np.random.default_rng(17)
        img = rng.integers(0, 4096, (12, 10), dtype=np.int32)
        enc = HierEncoder(12, 10, precision=12)
        ref = enc.lossless_frame([(1, _decimate(img))], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:12, :10]
        enc.lossless_frame([(1, (img - up) & 0xFFFF)], differential=True)
        out = decode_jpeg(enc.bytes())
        assert np.array_equal(out, (img >> 4).astype(np.uint8))

    def test_three_components_returns_luma(self):
        rng = np.random.default_rng(19)
        planes = [
            rng.integers(0, 256, (14, 14), dtype=np.int32) for _ in range(3)
        ]
        enc = HierEncoder(14, 14, comps=((1, 1, 1), (2, 1, 1), (3, 1, 1)))
        refs = enc.lossless_frame(
            [(c + 1, _decimate(planes[c])) for c in range(3)],
            differential=False,
        )
        enc.exp(1, 1)
        diffs = []
        for c in range(3):
            up = _exp_upsample(refs[c], 1, 1)[:14, :14]
            diffs.append((c + 1, (planes[c] - up) & 0xFFFF))
        enc.lossless_frame(diffs, differential=True)
        # YCbCr-style ids without APP14: the luma contract returns Y
        assert np.array_equal(decode_jpeg(enc.bytes()), planes[0].astype(np.uint8))

    def test_component_subset_refinement(self):
        # chroma stays at the base resolution (DHP declares luma 2x2);
        # only the luma component gets the EXP + differential frame
        rng = np.random.default_rng(23)
        luma = rng.integers(0, 256, (16, 16), dtype=np.int32)
        cb = rng.integers(0, 256, (8, 8), dtype=np.int32)
        cr = rng.integers(0, 256, (8, 8), dtype=np.int32)
        enc = HierEncoder(16, 16, comps=((1, 2, 2), (2, 1, 1), (3, 1, 1)))
        refs = enc.lossless_frame(
            [(1, _decimate(luma)), (2, cb), (3, cr)], differential=False
        )
        enc.exp(1, 1)
        up = _exp_upsample(refs[0], 1, 1)[:16, :16]
        enc.lossless_frame([(1, (luma - up) & 0xFFFF)], differential=True)
        assert np.array_equal(decode_jpeg(enc.bytes()), luma.astype(np.uint8))

    def test_same_size_refinement_without_exp(self):
        rng = np.random.default_rng(29)
        img = rng.integers(0, 256, (11, 13), dtype=np.int32)
        coarse = (img >> 2) << 2
        enc = HierEncoder(11, 13)
        enc.lossless_frame([(1, coarse)], differential=False)
        enc.lossless_frame([(1, (img - coarse) & 0xFFFF)], differential=True)
        assert np.array_equal(decode_jpeg(enc.bytes()), img.astype(np.uint8))


class TestDctPyramid:
    def test_matches_closed_loop_exactly(self):
        rng = np.random.default_rng(31)
        img = rng.integers(0, 256, (24, 24), dtype=np.int32)
        enc = HierEncoder(24, 24, q=4)
        base = _decimate(img)
        ref = enc.dct_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:24, :24]
        diff = img - up  # signed spatial difference, no level shift
        rec = enc.dct_frame([(1, diff)], differential=True)[0]
        expect = np.clip((up + rec) & 0xFFFF, 0, 255).astype(np.uint8)
        out = decode_jpeg(enc.bytes())
        assert np.array_equal(out, expect)

    def test_per_frame_dqt_redefining_table_id(self):
        # per-frame encoder output: each frame's DQT precedes it and
        # reuses table id 0; the base frame must still dequantize with
        # the table in force when it was scanned
        rng = np.random.default_rng(33)
        img = rng.integers(0, 256, (24, 24), dtype=np.int32)
        enc = HierEncoder(24, 24, q=16)
        ref = enc.dct_frame([(1, _decimate(img))], differential=False)[0]
        enc.dqt(2)
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:24, :24]
        rec = enc.dct_frame([(1, img - up)], differential=True)[0]
        expect = np.clip((up + rec) & 0xFFFF, 0, 255).astype(np.uint8)
        assert np.array_equal(decode_jpeg(enc.bytes()), expect)

    def test_dct_base_lossless_correction_is_exact(self):
        # the J.1 design goal: lossy DCT pyramid + one differential-
        # lossless frame = bit-exact original
        rng = np.random.default_rng(37)
        img = rng.integers(0, 256, (20, 18), dtype=np.int32)
        enc = HierEncoder(20, 18, q=16)
        base = _decimate(img)
        ref = enc.dct_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:20, :18]
        rec = enc.dct_frame([(1, img - up)], differential=True)[0]
        ref2 = (up + rec) & 0xFFFF
        enc.lossless_frame([(1, (img - ref2) & 0xFFFF)], differential=True)
        assert np.array_equal(decode_jpeg(enc.bytes()), img.astype(np.uint8))

    def test_progressive_differential_matches_sequential(self):
        rng = np.random.default_rng(41)
        img = rng.integers(0, 256, (16, 16), dtype=np.int32)
        outs = []
        for progressive in (False, True):
            enc = HierEncoder(16, 16, q=8)
            base = _decimate(img)
            ref = enc.lossless_frame([(1, base)], differential=False)[0]
            enc.exp(1, 1)
            up = _exp_upsample(ref, 1, 1)[:16, :16]
            enc.dct_frame(
                [(1, img - up)], differential=True, progressive=progressive
            )
            outs.append(decode_jpeg(enc.bytes()))
        assert np.array_equal(outs[0], outs[1])

    def test_progressive_base_frame(self):
        rng = np.random.default_rng(43)
        img = rng.integers(0, 256, (16, 16), dtype=np.int32)
        enc = HierEncoder(16, 16, q=8)
        base = _decimate(img)
        ref = enc.dct_frame([(1, base)], differential=False, progressive=True)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:16, :16]
        enc.lossless_frame([(1, (img - up) & 0xFFFF)], differential=True)
        assert np.array_equal(decode_jpeg(enc.bytes()), img.astype(np.uint8))


class TestBoundaries:
    def _base(self, **kw):
        enc = HierEncoder(8, 8, **kw)
        enc.lossless_frame(
            [(1, np.full((8, 8), 50, dtype=np.int32))], differential=False
        )
        return enc

    def test_differential_frame_without_dhp_is_value_error(self):
        from tests.test_jpeg import encode_jpeg

        px = np.full((8, 8), 10, dtype=np.uint8)
        with pytest.raises(ValueError, match="hierarchical"):
            decode_jpeg(encode_jpeg([px], sof=0xC5))

    def test_differential_without_reference(self):
        enc = HierEncoder(8, 8)
        enc.lossless_frame(
            [(1, np.zeros((8, 8), dtype=np.int32))], differential=True
        )
        with pytest.raises(ValueError, match="reference"):
            decode_jpeg(enc.bytes())

    def test_second_nondifferential_frame_rejected(self):
        enc = self._base()
        enc.lossless_frame(
            [(1, np.full((8, 8), 51, dtype=np.int32))], differential=False
        )
        with pytest.raises(ValueError, match="non-differential"):
            decode_jpeg(enc.bytes())

    def test_exp_before_nondifferential_frame_rejected(self):
        enc = HierEncoder(8, 8)
        enc.exp(1, 1)
        enc.lossless_frame(
            [(1, np.full((8, 8), 50, dtype=np.int32))], differential=False
        )
        with pytest.raises(ValueError, match="EXP"):
            decode_jpeg(enc.bytes())

    def test_dangling_exp_rejected(self):
        enc = self._base()
        enc.exp(1, 1)
        with pytest.raises(ValueError, match="EXP"):
            decode_jpeg(enc.bytes())

    def test_exp_dims_mismatch_rejected(self):
        enc = HierEncoder(24, 24)
        enc.lossless_frame(
            [(1, np.full((8, 8), 50, dtype=np.int32))], differential=False
        )
        enc.exp(1, 1)  # one expansion reaches 16; a 24x24 frame cannot
        enc.lossless_frame(
            [(1, np.zeros((24, 24), dtype=np.int32))], differential=True
        )
        with pytest.raises(ValueError, match="EXP does not reach"):
            decode_jpeg(enc.bytes())

    def test_missing_component_at_eoi(self):
        enc = HierEncoder(8, 8, comps=((1, 1, 1), (2, 1, 1)))
        enc.lossless_frame(
            [(1, np.full((8, 8), 9, dtype=np.int32))], differential=False
        )
        with pytest.raises(ValueError, match="missing"):
            decode_jpeg(enc.bytes())

    def test_component_never_reaches_dhp_size(self):
        enc = HierEncoder(16, 16)
        enc.lossless_frame(
            [(1, np.full((8, 8), 9, dtype=np.int32))], differential=False
        )
        with pytest.raises(ValueError, match="DHP size"):
            decode_jpeg(enc.bytes())

    def test_point_transform_in_hierarchy_typed_error(self):
        enc = HierEncoder(8, 8)
        enc._sof(0xC3, 8, 8, [1])
        enc._sos([1], 1, 0, 1)  # Pt = 1
        enc.out += b"\x00" * 8
        with pytest.raises(NotImplementedError, match="point transform"):
            decode_jpeg(enc.bytes())

    def test_arith_frame_without_scan_data_is_value_error(self):
        enc = HierEncoder(8, 8)
        enc._sof(0xCA, 8, 8, [1])
        with pytest.raises(ValueError, match="scan data"):
            decode_jpeg(enc.bytes())

    def test_nested_dhp_rejected(self):
        enc = self._base()
        body = bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0])
        enc.out += b"\xff\xde" + (2 + len(body)).to_bytes(2, "big") + body
        with pytest.raises(ValueError, match="nested"):
            decode_jpeg(enc.bytes())

    def test_precision_mismatch_rejected(self):
        enc = HierEncoder(8, 8, precision=12)
        body = bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0])  # 8-bit frame
        enc.out += b"\xff\xc3" + (2 + len(body)).to_bytes(2, "big") + body
        with pytest.raises(ValueError, match="precision"):
            decode_jpeg(enc.bytes())

    def test_frame_exceeding_dhp_rejected(self):
        enc = HierEncoder(8, 8)
        enc.lossless_frame(
            [(1, np.zeros((16, 16), dtype=np.int32))], differential=False
        )
        with pytest.raises(ValueError, match="exceeds"):
            decode_jpeg(enc.bytes())

    def test_frame_component_not_in_dhp(self):
        enc = HierEncoder(8, 8)
        enc.lossless_frame(
            [(5, np.zeros((8, 8), dtype=np.int32))], differential=False
        )
        with pytest.raises(ValueError, match="DHP"):
            decode_jpeg(enc.bytes())

    def test_truncated_after_dhp(self):
        enc = HierEncoder(8, 8)
        with pytest.raises(ValueError):
            decode_jpeg(bytes(enc.out))

    def test_corruption_fuzz_never_crashes(self):
        rng = np.random.default_rng(47)
        img = rng.integers(0, 256, (16, 16), dtype=np.int32)
        enc = HierEncoder(16, 16, q=8)
        base = _decimate(img)
        ref = enc.lossless_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:16, :16]
        enc.lossless_frame([(1, (img - up) & 0xFFFF)], differential=True)
        good = enc.bytes()
        for trial in range(200):
            buf = bytearray(good)
            for _ in range(rng.integers(1, 4)):
                buf[rng.integers(2, len(buf))] = rng.integers(0, 256)
            try:
                decode_jpeg(bytes(buf))
            except (ValueError, NotImplementedError):
                pass


class TestIntegration:
    def test_sniff_dims_come_from_dhp(self):
        from receipt_scanner_spark.operators.multimodal import (
            sniff_image_dims,
        )

        enc = HierEncoder(48, 32)
        enc.lossless_frame(
            [(1, np.zeros((12, 8), dtype=np.int32))], differential=False
        )
        kind, w, h, err = sniff_image_dims(enc.bytes())
        assert (kind, w, h, err) == ("jpeg", 32, 48, None)

    def test_decode_pixels_dispatches_hierarchical(self):
        from receipt_scanner_spark.extract.imaging import decode_pixels

        rng = np.random.default_rng(53)
        img = rng.integers(0, 256, (16, 16), dtype=np.int32)
        enc = HierEncoder(16, 16)
        base = _decimate(img)
        ref = enc.lossless_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:16, :16]
        enc.lossless_frame([(1, (img - up) & 0xFFFF)], differential=True)
        out = decode_pixels(enc.bytes())
        assert np.array_equal(out, img.astype(np.uint8))


class TestArithmeticHierarchy:
    """Arithmetic frames inside Annex-J hierarchies (r5 session 4):
    SOF9/SOF11 non-differential, SOF13/SOF15 differential.  Where a
    Huffman twin exists the two entropy layers must decode
    bit-identically; arithmetic-progressive frames stay typed gaps."""

    def test_arith_lossless_pyramid_exact(self):
        rng = np.random.default_rng(61)
        img = rng.integers(0, 256, (20, 15), dtype=np.int32)
        enc = HierEncoder(20, 15)
        base = _decimate(img)
        ref = enc.arith_lossless_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:20, :15]
        enc.arith_lossless_frame(
            [(1, (img - up) & 0xFFFF)], differential=True
        )
        assert np.array_equal(decode_jpeg(enc.bytes()), img.astype(np.uint8))

    def test_arith_matches_huffman_twin_bit_for_bit(self):
        rng = np.random.default_rng(67)
        img = rng.integers(0, 256, (16, 13), dtype=np.int32)
        outs = []
        for arith in (False, True):
            enc = HierEncoder(16, 13)
            base = _decimate(img)
            fr = enc.arith_lossless_frame if arith else enc.lossless_frame
            ref = fr([(1, base)], differential=False)[0]
            enc.exp(1, 1)
            up = _exp_upsample(ref, 1, 1)[:16, :13]
            fr([(1, (img - up) & 0xFFFF)], differential=True)
            outs.append(decode_jpeg(enc.bytes()))
        assert np.array_equal(outs[0], outs[1])

    def test_arith_dct_base_matches_closed_loop(self):
        rng = np.random.default_rng(71)
        img = rng.integers(0, 256, (24, 16), dtype=np.int32)
        enc = HierEncoder(24, 16, q=4)
        base = _decimate(img)
        ref = enc.arith_dct_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:24, :16]
        rec = enc.arith_dct_frame([(1, img - up)], differential=True)[0]
        expect = np.clip((up + rec) & 0xFFFF, 0, 255).astype(np.uint8)
        assert np.array_equal(decode_jpeg(enc.bytes()), expect)

    def test_arith_dct_plus_arith_lossless_correction_exact(self):
        rng = np.random.default_rng(73)
        img = rng.integers(0, 256, (18, 18), dtype=np.int32)
        enc = HierEncoder(18, 18, q=16)
        base = _decimate(img)
        ref = enc.arith_dct_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:18, :18]
        rec = enc.arith_dct_frame([(1, img - up)], differential=True)[0]
        ref2 = (up + rec) & 0xFFFF
        enc.arith_lossless_frame(
            [(1, (img - ref2) & 0xFFFF)], differential=True
        )
        assert np.array_equal(decode_jpeg(enc.bytes()), img.astype(np.uint8))

    def test_mixed_entropy_layers_across_frames(self):
        # each frame chooses its own coding process: Huffman DCT base,
        # arithmetic differential-lossless correction
        rng = np.random.default_rng(79)
        img = rng.integers(0, 256, (16, 16), dtype=np.int32)
        enc = HierEncoder(16, 16, q=8)
        base = _decimate(img)
        ref = enc.dct_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:16, :16]
        enc.arith_lossless_frame(
            [(1, (img - up) & 0xFFFF)], differential=True
        )
        assert np.array_equal(decode_jpeg(enc.bytes()), img.astype(np.uint8))

    def test_arith_progressive_base_frame(self):
        # SOF10 pyramid base + differential-lossless correction: exact
        rng = np.random.default_rng(87)
        img = rng.integers(0, 256, (16, 16), dtype=np.int32)
        enc = HierEncoder(16, 16, q=8)
        base = _decimate(img)
        ref = enc.arith_dct_frame(
            [(1, base)], differential=False, progressive=True
        )[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:16, :16]
        enc.arith_lossless_frame(
            [(1, (img - up) & 0xFFFF)], differential=True
        )
        assert np.array_equal(decode_jpeg(enc.bytes()), img.astype(np.uint8))

    def test_arith_differential_progressive_matches_sequential(self):
        # SOF14-coded differences must decode bit-identically to the
        # same coefficients coded as SOF13
        rng = np.random.default_rng(89)
        img = rng.integers(0, 256, (16, 16), dtype=np.int32)
        outs = []
        for progressive in (False, True):
            enc = HierEncoder(16, 16, q=8)
            base = _decimate(img)
            ref = enc.lossless_frame([(1, base)], differential=False)[0]
            enc.exp(1, 1)
            up = _exp_upsample(ref, 1, 1)[:16, :16]
            enc.arith_dct_frame(
                [(1, img - up)], differential=True,
                progressive=progressive,
            )
            outs.append(decode_jpeg(enc.bytes()))
        assert np.array_equal(outs[0], outs[1])

    def test_multi_component_arith_lossless(self):
        rng = np.random.default_rng(83)
        planes = [
            rng.integers(0, 256, (10, 12), dtype=np.int32)
            for _ in range(3)
        ]
        enc = HierEncoder(10, 12, comps=((1, 1, 1), (2, 1, 1), (3, 1, 1)))
        refs = enc.arith_lossless_frame(
            [(c + 1, _decimate(planes[c])) for c in range(3)],
            differential=False,
        )
        enc.exp(1, 1)
        diffs = [
            (c + 1,
             (planes[c] - _exp_upsample(refs[c], 1, 1)[:10, :12]) & 0xFFFF)
            for c in range(3)
        ]
        enc.arith_lossless_frame(diffs, differential=True)
        assert np.array_equal(
            decode_jpeg(enc.bytes()), planes[0].astype(np.uint8)
        )


class TestPdfIntegration:
    def test_pdf_dctdecode_hierarchical_xobject(self):
        # a hierarchical stream inside a PDF DCTDecode XObject decodes
        # through the same extract_pdf_image_arrays chain — exact,
        # since the pyramid ends with a lossless correction frame
        from receipt_scanner_spark.extract.pdf import (
            extract_pdf_image_arrays,
        )

        rng = np.random.default_rng(97)
        img = rng.integers(0, 256, (12, 16), dtype=np.int32)
        enc = HierEncoder(12, 16, q=16)
        base = _decimate(img)
        ref = enc.dct_frame([(1, base)], differential=False)[0]
        enc.exp(1, 1)
        up = _exp_upsample(ref, 1, 1)[:12, :16]
        rec = enc.dct_frame([(1, img - up)], differential=True)[0]
        ref2 = (up + rec) & 0xFFFF
        enc.lossless_frame([(1, (img - ref2) & 0xFFFF)], differential=True)
        body = enc.bytes()
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image"
            b" /Width 16 /Height 12 /BitsPerComponent 8"
            b" /ColorSpace /DeviceGray /Filter /DCTDecode /Length "
            + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream\nendobj\n"
        )
        out = extract_pdf_image_arrays(pdf)
        assert len(out) == 1
        got, err = out[0]
        assert err is None
        assert np.array_equal(got, img.astype(np.uint8))
