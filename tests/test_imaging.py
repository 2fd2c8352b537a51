"""extract/imaging.py — the stdlib PNG/BMP decoder.

The PNG tests are self-oracled: pixels are FORWARD-filtered per the PNG
spec (all five filter types, chosen per row) by an independent
straight-from-spec encoder below, compressed, wrapped in chunks, and
the decoder must invert back to the original pixels exactly.  That
exercises every unfilter path (incl. Paeth) without needing Pillow.
"""

import struct
import zlib

import numpy as np
import pytest

from receipt_scanner_spark.extract.imaging import (
    decode_bmp,
    decode_gif,
    decode_pixels,
    decode_png,
    demux_apng_frames,
)


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body)))


def _forward_filter(row: np.ndarray, prev: np.ndarray, ft: int, bpp: int) -> bytes:
    """PNG spec §6 forward filtering (the encoder side, written
    independently of the decoder's unfilter)."""
    stride = len(row)
    out = np.zeros(stride, dtype=np.int32)
    for i in range(stride):
        x = int(row[i])
        a = int(row[i - bpp]) if i >= bpp else 0          # left (RECON)
        b = int(prev[i])                                   # up
        c = int(prev[i - bpp]) if i >= bpp else 0          # up-left
        if ft == 0:
            out[i] = x
        elif ft == 1:
            out[i] = (x - a) % 256
        elif ft == 2:
            out[i] = (x - b) % 256
        elif ft == 3:
            out[i] = (x - ((a + b) >> 1)) % 256
        elif ft == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (x - pred) % 256
    return out.astype(np.uint8).tobytes()


def _encode_png(px: np.ndarray, color_type: int, filters) -> bytes:
    """Minimal spec encoder: px is (h, w, ch) uint8; filters is one
    filter type per row."""
    h, w, ch = px.shape
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.uint8)
    for y in range(h):
        row = px[y].reshape(-1)
        raw.append(filters[y])
        raw += _forward_filter(row, prev, filters[y], bpp)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


def _luma(px: np.ndarray) -> np.ndarray:
    # independent mirror of the decoder contract incl. alpha-over-white
    if px.shape[2] == 1:
        return px[:, :, 0]
    if px.shape[2] == 2:
        v, a = (px[:, :, i].astype(np.uint32) for i in range(2))
        return ((v * a + 255 * (255 - a)) // 255).astype(np.uint8)
    r, g, b = (px[:, :, i].astype(np.uint32) for i in range(3))
    y = (299 * r + 587 * g + 114 * b) // 1000
    if px.shape[2] >= 4:
        a = px[:, :, 3].astype(np.uint32)
        y = (y * a + 255 * (255 - a)) // 255
    return y.astype(np.uint8)


CH_OF = {0: 1, 2: 3, 4: 2, 6: 4}


class TestAlphaCompositing:
    def test_transparent_is_white_opaque_is_value(self):
        # RGBA: fully transparent black -> page white; opaque black
        # stays black; half-alpha mid-gray lands between (exact ints)
        px = np.zeros((1, 3, 4), dtype=np.uint8)
        px[0, 0] = (0, 0, 0, 0)      # transparent black
        px[0, 1] = (0, 0, 0, 255)    # opaque black
        px[0, 2] = (100, 100, 100, 128)
        data = _encode_png(px, 6, [0])
        out = decode_png(data)
        expect_mid = (100 * 128 + 255 * 127) // 255
        np.testing.assert_array_equal(out[0], [255, 0, expect_mid])

    def test_gray_alpha_transparent_white(self):
        px = np.zeros((1, 2, 2), dtype=np.uint8)
        px[0, 0] = (0, 0)     # transparent -> white
        px[0, 1] = (40, 255)  # opaque gray stays
        data = _encode_png(px, 4, [0])
        np.testing.assert_array_equal(decode_png(data)[0], [255, 40])

    def test_transparent_logo_ocr(self):
        # receipt text rendered as OPAQUE ink on a TRANSPARENT page:
        # compositing must restore dark-on-white for the OCR engine
        from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text

        glyphs = render_text("TOTAL $6.50", scale=2)
        h, w = glyphs.shape
        rgba = np.zeros((h, w, 4), dtype=np.uint8)
        ink = glyphs < 128
        rgba[:, :, 3] = np.where(ink, 255, 0)  # page fully transparent
        data = _encode_png(rgba, 6, [0] * h)
        assert ocr_pixels(decode_png(data)) == "TOTAL $6.50"


class TestPngRoundTrip:
    @pytest.mark.parametrize("color_type", [0, 2, 4, 6])
    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_random_pixels_all_filters(self, color_type, seed):
        rng = np.random.default_rng(seed * 100 + color_type)
        h, w = int(rng.integers(1, 24)), int(rng.integers(1, 24))
        ch = CH_OF[color_type]
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        filters = [int(rng.integers(0, 5)) for _ in range(h)]
        data = _encode_png(px, color_type, filters)
        got = decode_png(data)
        assert got.shape == (h, w)
        np.testing.assert_array_equal(got, _luma(px))

    def test_each_filter_type_alone(self):
        rng = np.random.default_rng(7)
        px = rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8)
        for ft in range(5):
            data = _encode_png(px, 2, [ft] * 6)
            np.testing.assert_array_equal(decode_png(data), _luma(px))

    def test_palette(self):
        rng = np.random.default_rng(9)
        pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
        idx = rng.integers(0, 256, size=(5, 7, 1), dtype=np.uint8)
        ihdr = struct.pack(">IIBBBBB", 7, 5, 8, 3, 0, 0, 0)
        raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(5))
        data = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
                + _chunk(b"PLTE", pal.tobytes())
                + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
        expected = _luma(pal[idx[:, :, 0]])
        np.testing.assert_array_equal(decode_png(data), expected)

    def test_unsupported_and_corrupt(self):
        px = np.zeros((2, 2, 3), dtype=np.uint8)
        good = _encode_png(px, 2, [0, 0])
        with pytest.raises(ValueError):
            decode_png(b"not a png at all")
        # flipping the interlace flag on sequential pixel data makes
        # the Adam7 pass layout disagree with the IDAT payload — a
        # typed error (real Adam7 round-trips live in TestPngAdam7)
        interlaced = bytearray(good)
        ihdr_body_off = 8 + 8  # sig + len/tag
        interlaced[ihdr_body_off + 12] = 1  # interlace byte
        # (crc now wrong, but IHDR parse precedes any crc use)
        with pytest.raises(ValueError):
            decode_png(bytes(interlaced))
        with pytest.raises(ValueError):
            decode_png(good[:40])  # truncated mid-chunk


_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _pack_subbyte_rows(vals: np.ndarray, depth: int) -> bytes:
    """(ph, pw) sample values → MSB-first packed rows, byte-padded."""
    ph, pw = vals.shape
    bits = (
        (vals[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).reshape(ph, pw * depth).astype(np.uint8)
    return np.packbits(bits, axis=1).tobytes()


def _encode_png_ext(
    px: np.ndarray,
    color_type: int,
    depth: int = 8,
    interlace: int = 0,
    plte: np.ndarray | None = None,
) -> bytes:
    """Independent encoder covering depth 1/2/4/8/16 and Adam7
    (filter type 0 rows).  ``px``: (h, w) raw samples for gray/palette,
    (h, w, ch) for color."""
    if px.ndim == 2:
        h, w = px.shape
        ch = 1
        px3 = px[:, :, None]
    else:
        h, w, ch = px.shape
        px3 = px
    raw = bytearray()
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    for x0, y0, dx, dy in passes:
        sub = px3[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        for y in range(ph):
            row = sub[y]
            if depth == 8:
                raw += b"\x00" + row.astype(np.uint8).tobytes()
            elif depth == 16:
                raw += b"\x00" + row.astype(">u2").tobytes()
            else:
                raw += b"\x00" + _pack_subbyte_rows(
                    row.reshape(1, pw * ch), depth
                )
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    return out + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")


class TestPngAdam7:
    def test_pass_geometry_tiles_exactly_once(self):
        # structural: the 7 passes must cover every cell of the 8x8
        # base block exactly once (PNG spec §8.2 figure)
        from receipt_scanner_spark.extract.imaging import _ADAM7 as dec7

        assert dec7 == _ADAM7
        cover = np.zeros((8, 8), dtype=int)
        for x0, y0, dx, dy in _ADAM7:
            cover[y0::dy, x0::dx] += 1
        assert (cover == 1).all()

    @pytest.mark.parametrize("hw", [(1, 1), (3, 2), (8, 8), (13, 21), (40, 17)])
    def test_gray8_interlaced_matches_sequential(self, hw):
        h, w = hw
        rng = np.random.default_rng(h * 100 + w)
        px = rng.integers(0, 256, (h, w), dtype=np.uint8)
        seq = decode_png(_encode_png_ext(px, 0, interlace=0))
        inter = decode_png(_encode_png_ext(px, 0, interlace=1))
        np.testing.assert_array_equal(seq, px)
        np.testing.assert_array_equal(inter, px)

    def test_real_libpng_interlaced_fixture(self):
        # libpng's canonical pngtest.png: 91x69 RGBA, Adam7 (a real
        # third-party encoder's interlaced output)
        import os

        p = "/usr/share/doc/libpng-dev/examples/pngtest.png"
        if not os.path.exists(p):
            pytest.skip("fixture not present on this host")
        out = decode_png(open(p, "rb").read())
        assert out.shape == (69, 91) and out.dtype == np.uint8
        assert len(np.unique(out)) > 50  # photographic content survived

    def test_rgb_interlaced(self):
        rng = np.random.default_rng(9)
        px = rng.integers(0, 256, (11, 7, 3), dtype=np.uint8)
        out = decode_png(_encode_png_ext(px, 2, interlace=1))
        np.testing.assert_array_equal(out, _luma(px))

    def test_palette_interlaced_1bit(self):
        rng = np.random.default_rng(10)
        idx = rng.integers(0, 2, (9, 14), dtype=np.uint8)
        pal = np.array([[255, 0, 0], [0, 0, 255]], dtype=np.uint8)
        out = decode_png(
            _encode_png_ext(idx, 3, depth=1, interlace=1, plte=pal)
        )
        np.testing.assert_array_equal(out, _luma(pal[idx]))


class TestPngDepths:
    @pytest.mark.parametrize("depth", [1, 2, 4])
    def test_gray_subbyte(self, depth):
        rng = np.random.default_rng(depth)
        maxv = (1 << depth) - 1
        vals = rng.integers(0, maxv + 1, (6, 11), dtype=np.uint8)
        out = decode_png(_encode_png_ext(vals, 0, depth=depth))
        np.testing.assert_array_equal(out, vals * (255 // maxv))

    def test_gray16_high_byte(self):
        rng = np.random.default_rng(16)
        vals16 = rng.integers(0, 65536, (5, 9), dtype=np.uint16)
        out = decode_png(_encode_png_ext(vals16, 0, depth=16))
        np.testing.assert_array_equal(out, (vals16 >> 8).astype(np.uint8))

    def test_palette_4bit(self):
        rng = np.random.default_rng(44)
        idx = rng.integers(0, 5, (7, 13), dtype=np.uint8)
        pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
        out = decode_png(_encode_png_ext(idx, 3, depth=4, plte=pal))
        np.testing.assert_array_equal(out, _luma(pal[idx]))

    def test_rgb16(self):
        rng = np.random.default_rng(61)
        px16 = rng.integers(0, 65536, (4, 6, 3), dtype=np.uint16)
        out = decode_png(_encode_png_ext(px16, 2, depth=16))
        np.testing.assert_array_equal(out, _luma((px16 >> 8).astype(np.uint8)))


def _bmp_shell(w: int, h: int, bpp: int, compression: int,
               palette_rgb: np.ndarray, body: bytes,
               top_down: bool = False) -> bytes:
    """Assemble a paletted BMP around pre-encoded pixel data."""
    n_pal = len(palette_rgb)
    pal = np.zeros((n_pal, 4), np.uint8)
    pal[:, [2, 1, 0]] = palette_rgb
    pixel_off = 14 + 40 + 4 * n_pal
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, bpp,
        compression, len(body), 2835, 2835, n_pal, 0,
    )
    return (
        b"BM" + struct.pack("<IHHI", pixel_off + len(body), 0, 0, pixel_off)
        + info + pal.tobytes() + body
    )


def _rle8_encode(idx: np.ndarray) -> bytes:
    """Independent RLE8 encoder: runs + end-of-line/bitmap escapes."""
    out = bytearray()
    h, w = idx.shape
    for y in range(h - 1, -1, -1):  # bottom-up
        x = 0
        row = idx[y]
        while x < w:
            run = 1
            while x + run < w and run < 255 and row[x + run] == row[x]:
                run += 1
            out += bytes([run, int(row[x])])
            x += run
        out += b"\x00\x00"  # end of line
    out += b"\x00\x01"  # end of bitmap
    return bytes(out)


class TestBmpEmbeddedStreams:
    """BI_PNG / BI_JPEG (compression 5 / 4): the pixel data is a
    complete interchange stream — GDI printer-passthrough BMPs."""

    _NO_PAL = np.zeros((0, 3), np.uint8)

    def test_bi_png_round_trip(self):
        from receipt_scanner_spark.extract.imaging import encode_png_gray
        rng = np.random.default_rng(61)
        px = rng.integers(0, 256, (11, 17), dtype=np.uint8)
        bmp = _bmp_shell(17, 11, 0, 5, self._NO_PAL, encode_png_gray(px))
        np.testing.assert_array_equal(decode_bmp(bmp), px)

    def test_bi_jpeg_matches_jpeg_decode(self):
        from receipt_scanner_spark.extract.jpeg import decode_jpeg
        from tests.test_jpeg import encode_jpeg
        rng = np.random.default_rng(62)
        px = rng.integers(0, 256, (16, 24), dtype=np.uint8)
        stream = encode_jpeg([px.astype(np.float64) - 128.0], q=2)
        bmp = _bmp_shell(24, 16, 0, 4, self._NO_PAL, stream)
        np.testing.assert_array_equal(decode_bmp(bmp), decode_jpeg(stream))

    def test_size_image_zero_reads_to_end(self):
        from receipt_scanner_spark.extract.imaging import encode_png_gray
        px = np.full((5, 7), 99, np.uint8)
        bmp = bytearray(_bmp_shell(7, 5, 0, 5, self._NO_PAL,
                                   encode_png_gray(px)))
        struct.pack_into("<I", bmp, 34, 0)  # biSizeImage = 0
        np.testing.assert_array_equal(decode_bmp(bytes(bmp)), px)

    def test_header_dims_crop_mcu_padding(self):
        # header says 10x6 but the JPEG pads to full MCUs (16x8)
        from tests.test_jpeg import encode_jpeg
        from receipt_scanner_spark.extract.jpeg import decode_jpeg
        rng = np.random.default_rng(63)
        px = rng.integers(0, 256, (6, 10), dtype=np.uint8)
        stream = encode_jpeg([px.astype(np.float64) - 128.0], q=2)
        bmp = _bmp_shell(10, 6, 0, 4, self._NO_PAL, stream)
        np.testing.assert_array_equal(
            decode_bmp(bmp), decode_jpeg(stream)[:6, :10]
        )

    def test_stream_smaller_than_header_raises(self):
        from receipt_scanner_spark.extract.imaging import encode_png_gray
        px = np.full((4, 4), 1, np.uint8)
        bmp = _bmp_shell(32, 32, 0, 5, self._NO_PAL, encode_png_gray(px))
        with pytest.raises(ValueError, match="smaller than header"):
            decode_bmp(bmp)


class TestBmpRle:
    def test_rle8_round_trip(self):
        rng = np.random.default_rng(2)
        idx = rng.integers(0, 4, (9, 14), dtype=np.uint8)
        pal = np.array(
            [(0, 0, 0), (255, 0, 0), (0, 255, 0), (255, 255, 255)],
            np.uint8,
        )
        bmp = _bmp_shell(14, 9, 8, 1, pal, _rle8_encode(idx))
        lut = pal.astype(np.uint32)
        rgb = lut[idx]
        expect = (
            (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2])
            // 1000
        ).astype(np.uint8)
        np.testing.assert_array_equal(decode_bmp(bmp), expect)

    def test_rle8_absolute_and_delta(self):
        # hand-built: row0 (bottom): absolute run [1,2,3], then EOL;
        # row1: delta skips 2 px (stay index 0), run of 4x index 1
        body = bytes(
            [0, 3, 1, 2, 3, 0,  # absolute 3 px + pad byte
             0, 0,              # end of line
             0, 2, 2, 0,        # delta +2 x
             4, 1,              # run: 4 x palette 1
             0, 1]              # end of bitmap
        )
        pal = np.array(
            [(0, 0, 0), (255, 255, 255), (100, 100, 100), (200, 200, 200)],
            np.uint8,
        )
        bmp = _bmp_shell(6, 2, 8, 1, pal, body)
        out = decode_bmp(bmp)
        # bottom row (output row 1): 1,2,3 then zeros
        expect_bottom = np.array([255, 100, 200, 0, 0, 0])
        np.testing.assert_array_equal(out[1], expect_bottom)
        # top row: 2 skipped (0), then 4x white
        np.testing.assert_array_equal(out[0], [0, 0, 255, 255, 255, 255])

    def test_rle4_runs(self):
        # run of 5 pixels alternating nibbles 1,2 then EOL/EOB
        body = bytes([5, 0x12, 0, 0, 0, 1])
        pal = np.array(
            [(0, 0, 0), (255, 255, 255), (0, 0, 255)], np.uint8
        )
        bmp = _bmp_shell(5, 1, 4, 2, pal, body)
        out = decode_bmp(bmp)
        # luma: idx pattern 1,2,1,2,1 -> 255, 29, 255, 29, 255
        np.testing.assert_array_equal(out[0], [255, 29, 255, 29, 255])

    def test_rle_truncation_raises(self):
        pal = np.array([(0, 0, 0)], np.uint8)
        bmp = _bmp_shell(4, 2, 8, 1, pal, bytes([0, 3, 1]))
        with pytest.raises(ValueError):
            decode_bmp(bmp)

    def test_bitfields_565(self):
        # 16-bit 565: build one row with pure R, G, B, white
        pix = [(0xF800), (0x07E0), (0x001F), (0xFFFF)]
        row = b"".join(struct.pack("<H", v) for v in pix)
        row += b"\x00" * ((-len(row)) % 4)
        masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
        pixel_off = 14 + 40 + 12
        info = struct.pack(
            "<IiiHHIIiiII", 40, 4, 1, 1, 16, 3, len(row), 2835, 2835, 0, 0
        )
        bmp = (
            b"BM" + struct.pack("<IHHI", pixel_off + len(row), 0, 0, pixel_off)
            + info + masks + row
        )
        out = decode_bmp(bmp)
        # BT.601 luma of pure R/G/B/white
        np.testing.assert_array_equal(out[0], [76, 149, 29, 255])

    def test_real_bitfields_fixture(self):
        import os

        p = (
            "/mnt/sandboxing/model_tools_env/v1/python/install/"
            "lib/python3.11/test/imghdrdata/python.bmp"
        )
        if not os.path.exists(p):
            pytest.skip("fixture not present on this host")
        out = decode_bmp(open(p, "rb").read())
        assert out.shape == (16, 16)
        assert len(np.unique(out)) > 20

    def test_uncompressed_4bit(self):
        idx = np.array([[0, 1, 2, 1, 0]], dtype=np.uint8)
        nib = bytearray()
        row = bytearray()
        for i in range(0, 5, 2):
            hi = idx[0, i]
            lo = idx[0, i + 1] if i + 1 < 5 else 0
            row.append((hi << 4) | lo)
        row += b"\x00" * ((-len(row)) % 4)
        nib += row
        pal = np.array(
            [(0, 0, 0), (255, 255, 255), (0, 0, 255)], np.uint8
        )
        bmp = _bmp_shell(5, 1, 4, 0, pal, bytes(nib))
        np.testing.assert_array_equal(
            decode_bmp(bmp)[0], [0, 255, 29, 255, 0]
        )

    def test_uncompressed_1bit(self):
        bits = np.array([[1, 0, 1, 1, 0, 0, 1, 0, 1, 1]], dtype=np.uint8)
        row = np.packbits(bits, axis=1).tobytes()
        row += b"\x00" * ((-len(row)) % 4)
        pal = np.array([(0, 0, 0), (255, 255, 255)], np.uint8)
        bmp = _bmp_shell(10, 1, 1, 0, pal, row)
        np.testing.assert_array_equal(
            decode_bmp(bmp)[0], bits[0] * 255
        )


class TestBmp:
    def _bmp(self, px_rgb: np.ndarray, top_down: bool = False) -> bytes:
        h, w, _ = px_rgb.shape
        stride = ((w * 3 + 3) // 4) * 4
        body = bytearray()
        rows = px_rgb if top_down else px_rgb[::-1]
        for y in range(h):
            row = rows[y][:, [2, 1, 0]].tobytes()  # RGB -> BGR
            body += row + b"\x00" * (stride - len(row))
        info = struct.pack("<IiiHHIIiiII", 40, w, (-h if top_down else h),
                           1, 24, 0, len(body), 2835, 2835, 0, 0)
        off = 14 + 40
        hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        return hdr + info + bytes(body)

    def test_bottom_up_and_top_down(self):
        rng = np.random.default_rng(11)
        px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
        expected = _luma(px)
        np.testing.assert_array_equal(decode_bmp(self._bmp(px)), expected)
        np.testing.assert_array_equal(
            decode_bmp(self._bmp(px, top_down=True)), expected
        )

    def test_truncated(self):
        rng = np.random.default_rng(12)
        px = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
        data = self._bmp(px)
        with pytest.raises(ValueError):
            decode_bmp(data[:-8])


class TestBombGuard:
    """Hostile dimension fields must be rejected before allocation —
    every decoder shares imaging.check_pixel_budget (MAX_PIXELS)."""

    def test_png_bomb_header(self):
        import struct as _s
        import zlib as _z

        def chunk(tag, body):
            return (_s.pack(">I", len(body)) + tag + body
                    + _s.pack(">I", _z.crc32(tag + body)))

        ihdr = _s.pack(">IIBBBBB", 65000, 65000, 8, 0, 0, 0, 0)
        data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", _z.compress(b"\x00")) + chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="bomb"):
            decode_png(data)

    def test_bmp_bomb_header(self):
        import struct as _s

        info = _s.pack("<IiiHHIIiiII", 40, 60000, 60000, 1, 24, 0, 0,
                       2835, 2835, 0, 0)
        data = b"BM" + _s.pack("<IHHI", 54, 0, 0, 54) + info
        with pytest.raises(ValueError, match="bomb"):
            decode_bmp(data)

    def test_gif_bomb_descriptor(self):
        import struct as _s

        data = (b"GIF89a" + _s.pack("<HHBBB", 65535, 65535, 0x80, 0, 0)
                + b"\x00" * 6  # 2-entry global color table
                + b"\x2c" + _s.pack("<HHHHB", 0, 0, 65535, 65535, 0))
        with pytest.raises(ValueError, match="bomb"):
            decode_gif(data)

    def test_png_bounded_inflate(self):
        """A 5-byte-dims PNG whose IDAT inflates to 100 MB must not
        materialize the inflation past the dimension budget."""
        import struct as _s
        import zlib as _z

        def chunk(tag, body):
            return (_s.pack(">I", len(body)) + tag + body
                    + _s.pack(">I", _z.crc32(tag + body)))

        ihdr = _s.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
        bomb = _z.compress(b"\x00" * 100_000_000, 9)  # ~97 KB compressed
        data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
        out = decode_png(data)  # first 4x4 of the zero stream
        np.testing.assert_array_equal(out, np.zeros((4, 4), np.uint8))


class TestDispatch:
    def test_corrupt_payloads_and_unknown_formats(self):
        # JPEG and GIF are REAL decode paths now — corrupt payloads are
        # data errors (ValueError), not a missing-codec boundary
        with pytest.raises(ValueError):
            decode_pixels(b"\xff\xd8\xff\xe0rest")
        with pytest.raises(ValueError):
            decode_pixels(b"GIF89a" + b"\x00" * 16)
        with pytest.raises(NotImplementedError):
            decode_pixels(b"\x00mystery")

    def test_real_pixels_reach_spark_features(self, spark):
        """A constant-color PNG must produce a ONE-HOT histogram
        embedding — only possible with real decoded pixels (the old
        CRC-seeded fake spread mass across all bins)."""
        import pandas as pd

        from receipt_scanner_spark.operators.multimodal import (
            extract_features,
            resize_images,
        )

        px = np.full((8, 6, 3), 200, dtype=np.uint8)
        data = _encode_png(px, 2, [0] * 8)
        media = spark.createDataFrame(
            pd.DataFrame([dict(media_id=1, media=data)])
        )
        feat = extract_features(media).collect()[0]
        assert feat.error is None
        emb = np.array(feat.embedding)
        # luma(200,200,200) = 200 -> bin 12 of 16 (range 0..256)
        assert emb[12] == pytest.approx(1.0)
        assert emb.sum() == pytest.approx(1.0)
        rs = resize_images(media, 3, 3).collect()[0]
        assert bytes(rs.pixels) == bytes([200] * 9)


# --- GIF: self-oracled via an independent spec LZW encoder ----------------------

def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF-spec LZW encoder (appendix F, non-early-change): variable
    width starting mcs+1, width grows when next_code == (1<<width)+1,
    table freezes at 4096.  Written independently of the decoder."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    width = mcs + 1

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    cur = b""
    for b in indices:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        cur = bytes([b])
    if cur:
        emit(table[cur])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif(idx: np.ndarray, pal: np.ndarray, mcs: int, interlaced=False,
         local_ct=False, with_gce=False, transparent=None) -> bytes:
    h, w = idx.shape
    n = len(pal)
    size_field = max(0, (n - 1).bit_length() - 1)  # table size = 2 << field
    ct = np.zeros((2 << size_field, 3), dtype=np.uint8)
    ct[:n] = pal
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h,
                       (0x80 | size_field) if not local_ct else 0, 0, 0)
    if not local_ct:
        out += ct.tobytes()
    if with_gce or transparent is not None:  # GCE + a comment block
        flags = 0x01 if transparent is not None else 0x00
        out += bytes([0x21, 0xF9, 0x04, flags, 0, 0, transparent or 0, 0])
        out += b"\x21\xfe\x05hello\x00"
    rows = idx
    if interlaced:
        order = []
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order += list(range(start, h, step))
        rows = idx[order]
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                 (0x40 if interlaced else 0)
                                 | ((0x80 | size_field) if local_ct else 0))
    if local_ct:
        out += ct.tobytes()
    out += bytes([mcs])
    payload = _lzw_encode(rows.tobytes(), mcs)
    for i in range(0, len(payload), 255):
        blk = payload[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


class TestGif:
    def test_transparent_index_reads_as_white(self):
        from receipt_scanner_spark.extract.imaging import decode_gif

        # index 0 is BLACK but marked transparent; index 1 is dark ink
        idx = np.zeros((3, 5), dtype=np.uint8)
        idx[1, 1:4] = 1
        pal = np.array([(0, 0, 0), (10, 10, 10)], dtype=np.uint8)
        with_t = decode_gif(_gif(idx, pal, 2, transparent=0))
        without = decode_gif(_gif(idx, pal, 2, with_gce=True))
        np.testing.assert_array_equal(
            with_t, np.where(idx == 0, 255, 10).astype(np.uint8)
        )
        # untransparent twin keeps the black background
        np.testing.assert_array_equal(
            without, np.where(idx == 0, 0, 10).astype(np.uint8)
        )

    @pytest.mark.parametrize("seed", [1, 2, 3, 4])
    def test_round_trip_random(self, seed):
        from receipt_scanner_spark.extract.imaging import decode_gif

        rng = np.random.default_rng(seed)
        n_colors = int(rng.integers(2, 256))
        mcs = max(2, (n_colors - 1).bit_length())
        pal = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        idx = rng.integers(0, n_colors, size=(h, w), dtype=np.uint8)
        data = _gif(idx, pal, mcs, with_gce=bool(seed % 2))
        np.testing.assert_array_equal(decode_gif(data), _luma(pal[idx]))

    def test_large_image_grows_code_width(self):
        """200x200 over 128 colors forces the LZW code width through
        multiple growth steps and past table freeze."""
        from receipt_scanner_spark.extract.imaging import decode_gif

        rng = np.random.default_rng(42)
        pal = rng.integers(0, 256, size=(128, 3), dtype=np.uint8)
        idx = rng.integers(0, 128, size=(200, 200), dtype=np.uint8)
        data = _gif(idx, pal, 7)
        np.testing.assert_array_equal(decode_gif(data), _luma(pal[idx]))

    def test_interlaced_and_local_table(self):
        from receipt_scanner_spark.extract.imaging import decode_gif

        rng = np.random.default_rng(5)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, size=(13, 9), dtype=np.uint8)
        expected = _luma(pal[idx])
        np.testing.assert_array_equal(
            decode_gif(_gif(idx, pal, 4, interlaced=True)), expected)
        np.testing.assert_array_equal(
            decode_gif(_gif(idx, pal, 4, local_ct=True)), expected)
        np.testing.assert_array_equal(
            decode_gif(_gif(idx, pal, 4, interlaced=True, local_ct=True)),
            expected)

    def test_corrupt(self):
        from receipt_scanner_spark.extract.imaging import decode_gif

        with pytest.raises(ValueError):
            decode_gif(b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0) + b"\x3b")
        rng = np.random.default_rng(6)
        pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
        idx = rng.integers(0, 4, size=(6, 6), dtype=np.uint8)
        good = _gif(idx, pal, 2)
        with pytest.raises(ValueError):
            decode_gif(good[:20])

    def test_dispatch_now_decodes_gif(self):
        rng = np.random.default_rng(7)
        pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
        idx = rng.integers(0, 8, size=(4, 4), dtype=np.uint8)
        np.testing.assert_array_equal(
            decode_pixels(_gif(idx, pal, 3)), _luma(pal[idx]))


class TestAnimatedGif:
    """demux_gif_frames: multi-frame composition (GIF89a disposal
    methods, transparency, sub-rectangles).  Frames are assembled by
    hand around the in-test LZW encoder; expectations composed
    independently with numpy."""

    def _frame(self, x, y, idx, mcs=2, delay=5, transparent=None,
               disposal=0):
        h, w = idx.shape
        gce = bytes([
            0x21, 0xF9, 0x04,
            (disposal << 2) | (0x01 if transparent is not None else 0),
            delay & 0xFF, delay >> 8, transparent or 0, 0,
        ])
        out = bytearray(gce)
        out += b"\x2c" + struct.pack("<HHHHB", x, y, w, h, 0)
        out += bytes([mcs])
        payload = _lzw_encode(idx.tobytes(), mcs)
        for i in range(0, len(payload), 255):
            blk = payload[i : i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
        return bytes(out)

    def _animation(self, sw, sh, pal, frames):
        n = len(pal)
        size_field = max(0, (n - 1).bit_length() - 1)
        ct = np.zeros((2 << size_field, 3), dtype=np.uint8)
        ct[:n] = pal
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", sw, sh, 0x80 | size_field, 0, 0)
        out += ct.tobytes()
        for f in frames:
            out += f
        out += b"\x3b"
        return bytes(out)

    def test_compose_disposal_and_transparency(self):
        from receipt_scanner_spark.extract.imaging import demux_gif_frames

        pal = np.array([(0, 0, 0), (100, 100, 100), (250, 250, 250)],
                       dtype=np.uint8)
        f1 = np.full((6, 8), 1, np.uint8)          # full gray canvas
        f2 = np.full((3, 4), 2, np.uint8)          # bright patch at (2,1)
        f2[0, 0] = 0                                # transparent pixel
        f3 = np.full((2, 2), 0, np.uint8)          # black patch at (0,0)
        data = self._animation(8, 6, pal, [
            self._frame(0, 0, f1, delay=10),
            self._frame(2, 1, f2, transparent=0, disposal=3),
            self._frame(0, 0, f3, disposal=2),
        ])
        frames = demux_gif_frames(data)
        assert len(frames) == 3
        assert frames[0][1] == 10
        assert np.all(frames[0][0] == 100)
        want2 = np.full((6, 8), 100, np.uint8)
        want2[1:4, 2:6] = 250
        want2[1, 2] = 100  # transparent keeps the canvas
        np.testing.assert_array_equal(frames[1][0], want2)
        # disposal=3 restored frame-1 canvas before frame 3
        want3 = np.full((6, 8), 100, np.uint8)
        want3[0:2, 0:2] = 0
        np.testing.assert_array_equal(frames[2][0], want3)

    def test_restore_to_background_reads_white(self):
        from receipt_scanner_spark.extract.imaging import demux_gif_frames

        pal = np.array([(0, 0, 0), (40, 40, 40)], dtype=np.uint8)
        f1 = np.full((4, 4), 1, np.uint8)
        f2 = np.full((4, 4), 0, np.uint8)
        data = self._animation(4, 4, pal, [
            self._frame(0, 0, f1, disposal=2),
            self._frame(0, 0, f2, transparent=0),
        ])
        frames = demux_gif_frames(data)
        assert np.all(frames[0][0] == 40)
        # frame 1 disposed to background (white); frame 2 fully
        # transparent -> white canvas shows through
        assert np.all(frames[1][0] == 255)

    def test_single_frame_matches_decode_gif(self):
        from receipt_scanner_spark.extract.imaging import (
            decode_gif,
            demux_gif_frames,
        )

        rng = np.random.default_rng(5)
        pal = rng.integers(0, 256, (4, 3)).astype(np.uint8)
        idx = rng.integers(0, 4, (9, 11)).astype(np.uint8)
        data = _gif(idx, pal, 2)
        frames = demux_gif_frames(data)
        assert len(frames) == 1
        np.testing.assert_array_equal(frames[0][0], decode_gif(data))

    def test_sample_frames_real_gif(self, spark):
        from receipt_scanner_spark.extract.imaging import decode_pixels
        from receipt_scanner_spark.operators.multimodal import sample_frames

        pal = np.array([(k * 30, k * 30, k * 30) for k in range(8)],
                       dtype=np.uint8)
        frames = [
            self._frame(0, 0, np.full((5, 7), k, np.uint8), mcs=3)
            for k in range(6)
        ]
        data = self._animation(7, 5, pal, frames)
        df = spark.createDataFrame([(3, bytearray(data))],
                                   "media_id long, media binary")
        out = sample_frames(df, n_frames=3).orderBy("frame_idx").collect()
        assert [r.frame_idx for r in out] == [0, 2, 4]
        for r in out:
            assert np.all(decode_pixels(bytes(r.frame)) == r.frame_idx * 30)


# ---------------------------------------------------------------------------
# APNG (r5)
# ---------------------------------------------------------------------------


def _apng_idat_body(px: np.ndarray, ch: int) -> bytes:
    fh, fw = px.shape[:2]
    flat = px.reshape(fh, fw * ch)
    raw = bytearray()
    for y in range(fh):
        raw.append(0)
        raw += flat[y].astype(np.uint8).tobytes()
    return zlib.compress(bytes(raw))


def _encode_apng(frames, w, h, color_type=0, default_px=None):
    """frames: [(px, fx, fy, dnum, dden, dispose, blend)].  When
    ``default_px`` is given it becomes a NON-animated default image
    (IDAT before any fcTL); otherwise frame 0 is the default image."""
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
    out += _chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0
    if default_px is not None:
        out += _chunk(b"IDAT", _apng_idat_body(default_px, ch))
    for i, (px, fx, fy, dnum, dden, dispose, blend) in enumerate(frames):
        fh, fw = px.shape[:2]
        out += _chunk(b"fcTL", struct.pack(
            ">IIIIIHHBB", seq, fw, fh, fx, fy, dnum, dden, dispose, blend
        ))
        seq += 1
        body = _apng_idat_body(px, ch)
        if i == 0 and default_px is None:
            out += _chunk(b"IDAT", body)
        else:
            out += _chunk(b"fdAT", struct.pack(">I", seq) + body)
            seq += 1
    out += _chunk(b"IEND", b"")
    return bytes(out)


class TestApng:
    """Animated PNG demux (r5): acTL/fcTL/fdAT, sub-rect placement,
    SOURCE/OVER blending, all three dispose ops."""

    def test_three_full_frames(self):
        rng = np.random.default_rng(1)
        fr = [rng.integers(0, 256, (6, 8)).astype(np.uint8) for _ in range(3)]
        data = _encode_apng(
            [(f, 0, 0, 1, 10, 0, 0) for f in fr], 8, 6
        )
        out = demux_apng_frames(data)
        assert len(out) == 3
        for (luma, delay), f in zip(out, fr):
            assert delay == 100
            np.testing.assert_array_equal(luma, f)
        # the default image is frame 0: the static decoder sees it
        np.testing.assert_array_equal(decode_png(data), fr[0])

    def test_subrect_dispose_background_and_none(self):
        base = np.full((8, 10), 100, np.uint8)
        patch = np.full((3, 4), 30, np.uint8)
        patch2 = np.full((2, 2), 220, np.uint8)
        data = _encode_apng(
            [
                (base, 0, 0, 1, 100, 0, 0),
                (patch, 3, 2, 1, 100, 1, 0),   # dispose background
                (patch2, 7, 5, 1, 100, 0, 0),  # dispose none
            ],
            10, 8,
        )
        f1, f2, f3 = (luma for luma, _d in demux_apng_frames(data))
        np.testing.assert_array_equal(f1, base)
        want2 = base.copy()
        want2[2:5, 3:7] = 30
        np.testing.assert_array_equal(f2, want2)
        want3 = base.copy()
        # patch region disposed to transparent -> page white
        want3[2:5, 3:7] = 255
        want3[5:7, 7:9] = 220
        np.testing.assert_array_equal(f3, want3)

    def test_dispose_previous_restores(self):
        base = np.full((6, 6), 80, np.uint8)
        pulse = np.full((2, 2), 10, np.uint8)
        dot = np.full((1, 1), 250, np.uint8)
        data = _encode_apng(
            [
                (base, 0, 0, 1, 100, 0, 0),
                (pulse, 2, 2, 1, 100, 2, 0),  # dispose previous
                (dot, 0, 0, 1, 100, 0, 0),
            ],
            6, 6,
        )
        f1, f2, f3 = (luma for luma, _d in demux_apng_frames(data))
        want2 = base.copy()
        want2[2:4, 2:4] = 10
        np.testing.assert_array_equal(f2, want2)
        want3 = base.copy()  # pulse reverted
        want3[0, 0] = 250
        np.testing.assert_array_equal(f3, want3)

    def test_over_blend_rgba(self):
        h, w = 5, 7
        bg = np.zeros((h, w, 4), np.uint8)
        bg[..., :3] = 200
        bg[..., 3] = 255
        fg = np.zeros((2, 3, 4), np.uint8)
        fg[..., 0] = 100  # dark red, half alpha
        fg[..., 3] = 128
        data = _encode_apng(
            [(bg, 0, 0, 1, 100, 0, 0), (fg, 2, 1, 1, 100, 0, 1)],
            w, h, color_type=6,
        )
        f1, f2 = (luma for luma, _d in demux_apng_frames(data))
        assert int(f1[0, 0]) == 200
        # OVER: 0.502*luma(100,0,0) + 0.498*200
        want = 0.50196 * (0.299 * 100) + (1 - 0.50196) * 200.0
        assert abs(float(f2[1, 2]) - want) <= 1.5
        assert int(f2[0, 0]) == 200  # outside the rect untouched

    def test_default_image_not_in_animation(self):
        default = np.full((4, 4), 7, np.uint8)
        fr = [np.full((4, 4), v, np.uint8) for v in (60, 180)]
        data = _encode_apng(
            [(f, 0, 0, 1, 100, 0, 0) for f in fr], 4, 4,
            default_px=default,
        )
        out = demux_apng_frames(data)
        assert len(out) == 2
        np.testing.assert_array_equal(out[0][0], fr[0])
        np.testing.assert_array_equal(out[1][0], fr[1])
        # the static decoder still shows the default image
        np.testing.assert_array_equal(decode_png(data), default)

    def test_multimodal_demux_routes_apng(self):
        from receipt_scanner_spark.operators.multimodal import _demux_frames

        fr = [np.full((4, 6), v, np.uint8) for v in (0, 128, 255)]
        data = _encode_apng([(f, 0, 0, 1, 50, 0, 0) for f in fr], 6, 4)
        frames = _demux_frames(bytearray(data))
        assert len(frames) == 3
        for fb, f in zip(frames, fr):
            np.testing.assert_array_equal(decode_png(fb), f)
        # static PNG keeps the deterministic stub path
        static = _encode_png(
            np.full((4, 6, 1), 9, np.uint8), 0, [0, 0, 0, 0]
        )
        assert _demux_frames(bytearray(static)) and b"acTL" not in static

    def test_corruption_fuzz_never_crashes(self):
        rng = np.random.default_rng(99)
        fr = [rng.integers(0, 256, (6, 8)).astype(np.uint8) for _ in range(3)]
        base = _encode_apng([(f, 0, 0, 1, 10, 0, 0) for f in fr], 8, 6)
        for _ in range(150):
            buf = bytearray(base)
            for _ in range(int(rng.integers(1, 5))):
                buf[int(rng.integers(8, len(buf)))] = int(rng.integers(0, 256))
            try:
                demux_apng_frames(bytes(buf))
            except (ValueError, NotImplementedError, zlib.error, struct.error):
                pass

    def test_errors(self):
        base = np.full((4, 4), 1, np.uint8)
        good = _encode_apng([(base, 0, 0, 1, 100, 0, 0)], 4, 4)
        with pytest.raises(ValueError, match="acTL"):
            demux_apng_frames(_encode_png(
                np.full((2, 2, 1), 0, np.uint8), 0, [0, 0]
            ))
        # out-of-bounds frame rect
        bad = _encode_apng([(base, 2, 2, 1, 100, 0, 0)], 4, 4)
        with pytest.raises(ValueError, match="out of bounds"):
            demux_apng_frames(bad)
        # sequence number corruption
        buf = bytearray(good)
        i = buf.find(b"fcTL")
        buf[i + 7] = 9  # seq LSB
        with pytest.raises(ValueError, match="sequence"):
            demux_apng_frames(bytes(buf))


class TestBmpCoreAndRgb555:
    """OS/2 BITMAPCOREHEADER (12-byte header, 16-bit dims, 3-byte BGR
    palette, always bottom-up) and bare 16-bit BI_RGB (RGB555 by
    definition — no masks stored) — r5 session 4."""

    @staticmethod
    def _core_bmp(w, h, bpp, palette_rgb, body):
        n_pal = len(palette_rgb)
        pal = np.zeros((n_pal, 3), np.uint8)
        pal[:, [2, 1, 0]] = palette_rgb
        pixel_off = 14 + 12 + 3 * n_pal
        core = struct.pack("<Ihhhh", 12, w, h, 1, bpp)
        return (
            b"BM"
            + struct.pack("<IHHI", pixel_off + len(body), 0, 0, pixel_off)
            + core + pal.tobytes() + body
        )

    def test_core_8bit_palette(self):
        rng = np.random.default_rng(21)
        idx = rng.integers(0, 16, (5, 7), dtype=np.uint8)
        palette = rng.integers(0, 256, (16, 3), dtype=np.uint8)
        stride = ((7 + 3) // 4) * 4
        body = b"".join(
            idx[y].tobytes() + b"\x00" * (stride - 7)
            for y in range(4, -1, -1)  # bottom-up
        )
        out = decode_bmp(self._core_bmp(7, 5, 8, palette, body))
        np.testing.assert_array_equal(out, _luma(palette[idx]))

    def test_core_24bit(self):
        rng = np.random.default_rng(22)
        px = rng.integers(0, 256, (4, 3, 3), dtype=np.uint8)
        stride = ((3 * 3 + 3) // 4) * 4
        body = b"".join(
            px[y][:, [2, 1, 0]].tobytes() + b"\x00" * (stride - 9)
            for y in range(3, -1, -1)
        )
        out = decode_bmp(self._core_bmp(3, 4, 24, np.zeros((0, 3)), body))
        np.testing.assert_array_equal(out, _luma(px))

    def test_core_1bit(self):
        bits = np.array([[1, 0, 1, 0, 1, 1, 0, 0, 1]], dtype=np.uint8)
        palette = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
        row = np.packbits(np.pad(bits[0], (0, 7))).tobytes()
        body = row + b"\x00" * (4 - len(row))
        out = decode_bmp(self._core_bmp(9, 1, 1, palette, body))
        np.testing.assert_array_equal(out, bits * 255)

    def test_rgb555_uncompressed(self):
        rng = np.random.default_rng(23)
        r5 = rng.integers(0, 32, (3, 5), dtype=np.uint32)
        g5 = rng.integers(0, 32, (3, 5), dtype=np.uint32)
        b5 = rng.integers(0, 32, (3, 5), dtype=np.uint32)
        words = (r5 << 10) | (g5 << 5) | b5
        stride = ((5 * 2 + 3) // 4) * 4
        body = b"".join(
            words[y].astype("<u2").tobytes() + b"\x00" * (stride - 10)
            for y in range(2, -1, -1)
        )
        info = struct.pack("<IiiHHIIiiII", 40, 5, 3, 1, 16, 0,
                           len(body), 2835, 2835, 0, 0)
        data = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
                + info + body)
        out = decode_bmp(data)
        exp = np.stack(
            [(c * 255 // 31).astype(np.uint8) for c in (r5, g5, b5)],
            axis=2,
        )
        np.testing.assert_array_equal(out, _luma(exp))

    def test_unknown_header_size_typed_error(self):
        info = struct.pack("<Ihhhh", 16, 4, 4, 1, 8) + b"\x00" * 4
        data = b"BM" + struct.pack("<IHHI", 34, 0, 0, 34) + info
        with pytest.raises(NotImplementedError, match="header size"):
            decode_bmp(data + b"\x00" * 64)


def _ico_container(entries, res_type=1):
    """entries: [(w, h, bpp, payload)] -> ICO/CUR bytes."""
    count = len(entries)
    out = bytearray(struct.pack("<HHH", 0, res_type, count))
    off = 6 + 16 * count
    dirs = bytearray()
    payloads = bytearray()
    for w, h, bpp, payload in entries:
        dirs += bytes([0 if w == 256 else w, 0 if h == 256 else h, 0, 0])
        dirs += struct.pack("<HHII", 1, bpp, len(payload), off)
        payloads += payload
        off += len(payload)
    return bytes(out + dirs + payloads)


def _ico_dib32(px_rgb, alpha, mask=None):
    """32-bit BGRA DIB with doubled height and trailing AND mask."""
    h, w, _ = px_rgb.shape
    hdr = struct.pack("<IiiHHIIiiII", 40, w, 2 * h, 1, 32, 0, 0,
                      0, 0, 0, 0)
    rows = bytearray()
    for y in range(h - 1, -1, -1):
        row = np.zeros((w, 4), np.uint8)
        row[:, 0] = px_rgb[y, :, 2]
        row[:, 1] = px_rgb[y, :, 1]
        row[:, 2] = px_rgb[y, :, 0]
        row[:, 3] = alpha[y]
        rows += row.tobytes()
    and_stride = ((w + 31) // 32) * 4
    m = mask if mask is not None else np.zeros((h, w), np.uint8)
    for y in range(h - 1, -1, -1):
        rows += np.packbits(
            np.pad(m[y], (0, and_stride * 8 - w))
        ).tobytes()
    return hdr + bytes(rows)


from receipt_scanner_spark.extract.imaging import (  # noqa: E402
    decode_ico,
    decode_pcx,
    decode_pnm,
    decode_tga,
    encode_png_gray,
)


class TestIco:
    """ICO/CUR decode (r5 session 4): favicons are routine in
    web-crawl payloads — PNG entries and headerless BMP DIBs with the
    doubled-height AND mask, transparency composited over white."""

    def test_png_entry(self):
        rng = np.random.default_rng(31)
        px = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        payload = encode_png_gray(px)
        ico = _ico_container([(16, 16, 8, payload)])
        np.testing.assert_array_equal(decode_ico(ico), px)
        assert decode_pixels(ico).shape == (16, 16)

    def test_dib32_alpha_composites_over_white(self):
        rng = np.random.default_rng(32)
        px = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        alpha = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        alpha[0, 0] = 255  # ensure non-zero alpha plane
        ico = _ico_container([(8, 8, 32, _ico_dib32(px, alpha))])
        out = decode_ico(ico)
        base = _luma(px).astype(np.uint32)
        want = (base * alpha + 255 * (255 - alpha.astype(np.uint32))) // 255
        np.testing.assert_array_equal(out, want.astype(np.uint8))

    def test_and_mask_punches_white(self):
        px = np.zeros((4, 4, 3), dtype=np.uint8)  # black square
        alpha = np.full((4, 4), 255, dtype=np.uint8)
        mask = np.zeros((4, 4), dtype=np.uint8)
        mask[0, :] = 1  # top row transparent
        ico = _ico_container([(4, 4, 32, _ico_dib32(px, alpha, mask))])
        out = decode_ico(ico)
        assert (out[0] == 255).all() and (out[1:] == 0).all()

    def test_best_entry_wins(self):
        small = encode_png_gray(np.full((4, 4), 10, dtype=np.uint8))
        big = encode_png_gray(np.full((16, 16), 90, dtype=np.uint8))
        ico = _ico_container([(4, 4, 8, small), (16, 16, 8, big)])
        out = decode_ico(ico)
        assert out.shape == (16, 16) and (out == 90).all()

    def test_cursor_type_decodes(self):
        px = np.full((6, 6), 77, dtype=np.uint8)
        ico = _ico_container(
            [(6, 6, 8, encode_png_gray(px))], res_type=2
        )
        np.testing.assert_array_equal(decode_ico(ico), px)

    def test_sniff_format_and_dims(self):
        from receipt_scanner_spark.extract.sniff import sniff_format
        from receipt_scanner_spark.operators.multimodal import (
            sniff_image_dims,
        )

        px = np.full((12, 9), 5, dtype=np.uint8)
        ico = _ico_container([(9, 12, 8, encode_png_gray(px))])
        assert sniff_format(ico) == "image/ico"
        assert sniff_image_dims(ico) == ("ico", 9, 12, None)

    def test_weak_magic_rejected(self):
        junk = b"\x00\x00\x01\x00" + b"\x07" * 40
        from receipt_scanner_spark.extract.sniff import sniff_format

        assert sniff_format(junk) != "image/ico"
        with pytest.raises((ValueError, NotImplementedError)):
            decode_pixels(junk)

    def test_ocr_reads_ico_receipt(self):
        from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text

        text = "ICON $2.50"
        img = render_text(text)
        rgb = np.stack([img] * 3, axis=2)
        alpha = np.full(img.shape, 255, dtype=np.uint8)
        ico = _ico_container(
            [(0, 0, 32, _ico_dib32(rgb, alpha))]  # 0 = 256 in the dir
        )
        # directory says 256 but the DIB carries the real dims — the
        # DIB wins (real-world files disagree routinely)
        out = decode_pixels(ico)
        assert ocr_pixels(out) == text


class TestPnm:
    """netpbm P1-P6 (r5 session 4): trivial but crawled; the system
    python tree ships real PGM/PPM fixtures as a third-party check."""

    def test_p5_binary_gray(self):
        rng = np.random.default_rng(41)
        px = rng.integers(0, 256, (7, 11), dtype=np.uint8)
        data = b"P5\n11 7\n255\n" + px.tobytes()
        np.testing.assert_array_equal(decode_pnm(data), px)
        np.testing.assert_array_equal(decode_pixels(data), px)

    def test_p6_binary_rgb(self):
        rng = np.random.default_rng(42)
        px = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
        data = b"P6 4 5 255\n" + px.tobytes()
        np.testing.assert_array_equal(decode_pnm(data), _luma(px))

    def test_p4_bitmap_one_is_black(self):
        bits = np.array([[1, 0, 1, 0, 0, 1, 1, 0, 1]], dtype=np.uint8)
        data = b"P4\n9 1\n" + np.packbits(np.pad(bits[0], (0, 7))).tobytes()
        out = decode_pnm(data)
        np.testing.assert_array_equal(out, np.where(bits == 1, 0, 255))
        # plain PBM: blanks between pixels are optional
        for plain in (b"P1\n9 1\n1 0 1 0 0 1 1 0 1\n", b"P1\n9 1\n1010\n# c\n01101"):
            np.testing.assert_array_equal(decode_pnm(plain), out)

    def test_ascii_variants_match_binary(self):
        rng = np.random.default_rng(43)
        px = rng.integers(0, 256, (3, 5), dtype=np.uint8)
        ascii_body = " ".join(str(v) for v in px.flatten())
        a = decode_pnm(f"P2\n# cmt\n5 3\n255\n{ascii_body}\n".encode())
        b = decode_pnm(b"P5\n5 3\n255\n" + px.tobytes())
        np.testing.assert_array_equal(a, b)

    def test_16bit_maxval_scales(self):
        px16 = np.array([[0, 32767, 65535]], dtype=">u2")
        data = b"P5\n3 1\n65535\n" + px16.tobytes()
        np.testing.assert_array_equal(
            decode_pnm(data), np.array([[0, 127, 255]], np.uint8)
        )

    def test_nonstandard_maxval_scales(self):
        data = b"P2\n2 1\n15\n0 15\n"
        np.testing.assert_array_equal(
            decode_pnm(data), np.array([[0, 255]], np.uint8)
        )

    def test_comment_in_header(self):
        data = b"P5 # kind\n# width next\n2 1\n255\n\x10\x20"
        np.testing.assert_array_equal(
            decode_pnm(data), np.array([[0x10, 0x20]], np.uint8)
        )

    def test_sample_over_maxval_rejected(self):
        with pytest.raises(ValueError, match="maxval"):
            decode_pnm(b"P2\n1 1\n10\n11\n")

    def test_truncated_rejected(self):
        with pytest.raises(ValueError):
            decode_pnm(b"P5\n4 4\n255\n\x00\x00")

    def test_sniff_and_dims(self):
        from receipt_scanner_spark.extract.sniff import sniff_format
        from receipt_scanner_spark.operators.multimodal import (
            sniff_image_dims,
        )

        data = b"P5\n# c\n11 7\n255\n" + bytes(77)
        assert sniff_format(data) == "image/pnm"
        assert sniff_image_dims(data) == ("pnm", 11, 7, None)

    def test_third_party_fixtures(self):
        # the Python install trees ship the same logo as real PBM/PGM/
        # PPM files — all three variants must decode to coherent
        # pixels of the documented 16x16 size
        import glob

        hits = [
            p
            for pat in (
                "/root/.pyenv/versions/*/lib/python3*/test/"
                "test_email/data/python.p?m",
                "/root/.pyenv/versions/*/lib/python3*/test/"
                "imghdrdata/python.p?m",
            )
            for p in glob.glob(pat)
        ]
        if not hits:
            pytest.skip("no PNM fixtures on this host")
        pgm = ppm = None
        for p in hits:
            out = decode_pnm(open(p, "rb").read())
            assert out.shape == (16, 16)
            if p.endswith("python.pgm"):
                pgm = out
            elif p.endswith("python.ppm"):
                ppm = out
        if pgm is not None and ppm is not None:
            # same logo through gray and color encodings: the gray
            # file is a third-party luma conversion — demand strong
            # agreement, not bit equality (their weights may differ)
            d = np.abs(pgm.astype(int) - ppm.astype(int))
            assert d.mean() < 16

    def test_ocr_reads_pnm_receipt(self):
        from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text

        text = "PNM $1.23"
        img = render_text(text)
        h, w = img.shape
        data = f"P5\n{w} {h}\n255\n".encode() + img.tobytes()
        assert ocr_pixels(decode_pixels(data)) == text


def _tga(px_rgb=None, gray=None, palette=None, idx=None, bpp=24,
         rle=False, top_down=False, alpha=None, cm_bits=24,
         right_left=False):
    """Independent TGA encoder: all six image types, optional RLE
    (alternating run/raw packets), both origins, the v2 footer."""
    if gray is not None:
        h, w = gray.shape
        img_type, pxb = 3, 1
        flat = gray.reshape(-1, 1)
    elif idx is not None:
        h, w = idx.shape
        img_type, pxb = 1, 1
        flat = idx.reshape(-1, 1)
    else:
        h, w, _ = px_rgb.shape
        img_type, pxb = 2, bpp // 8
        flat = np.zeros((h * w, pxb), np.uint8)
        rgb = px_rgb.reshape(-1, 3)
        if bpp in (15, 16):
            v = ((rgb[:, 0].astype(np.uint32) >> 3) << 10) | (
                (rgb[:, 1].astype(np.uint32) >> 3) << 5
            ) | (rgb[:, 2].astype(np.uint32) >> 3)
            pxb = 2
            flat = np.stack([v & 0xFF, v >> 8], axis=1).astype(np.uint8)
        else:
            flat[:, 0] = rgb[:, 2]
            flat[:, 1] = rgb[:, 1]
            flat[:, 2] = rgb[:, 0]
            if bpp == 32:
                flat[:, 3] = alpha.reshape(-1)
    if not top_down:
        flat = flat.reshape(h, w, -1)[::-1].reshape(h * w, -1)
    if right_left:
        flat = flat.reshape(h, w, -1)[:, ::-1].reshape(h * w, -1)
    desc = (0x20 if top_down else 0) | (0x10 if right_left else 0)
    cmap = b""
    cmap_type = 0
    cm_len = 0
    if palette is not None:
        cmap_type = 1
        cm_len = len(palette)
        ents = np.zeros((cm_len, cm_bits // 8), np.uint8)
        ents[:, 0] = palette[:, 2]
        ents[:, 1] = palette[:, 1]
        ents[:, 2] = palette[:, 0]
        cmap = ents.tobytes()
    hdr = bytes([0, cmap_type, img_type + (8 if rle else 0)])
    hdr += struct.pack("<HH", 0, cm_len) + bytes([cm_bits if cmap else 0])
    hdr += struct.pack("<HHHH", 0, 0, w, h)
    hdr += bytes([16 if bpp in (15, 16) and px_rgb is not None
                  and gray is None and idx is None else
                  (8 * flat.shape[1]), desc])
    body = bytearray()
    if rle:
        i = 0
        n = h * w
        toggle = True
        while i < n:
            count = min(int(np.random.default_rng(i).integers(1, 9)), n - i)
            if toggle and count > 1 and (flat[i : i + count] == flat[i]).all():
                body += bytes([0x80 | (count - 1)]) + flat[i].tobytes()
            else:
                body += bytes([count - 1]) + flat[i : i + count].tobytes()
            i += count
            toggle = not toggle
    else:
        body = flat.tobytes()
    footer = b"\x00" * 8 + b"TRUEVISION-XFILE\x2e\x00"
    return hdr + cmap + bytes(body) + footer


class TestTga:
    """Truevision TGA (r5 session 4): footer-validated sniff (the
    format has no leading magic), all six image types, RLE, both
    origins, ARGB1555, 32-bit alpha over white."""

    def test_gray_uncompressed(self):
        rng = np.random.default_rng(51)
        px = rng.integers(0, 256, (7, 9), dtype=np.uint8)
        np.testing.assert_array_equal(decode_tga(_tga(gray=px)), px)

    def test_truecolor_24_both_origins(self):
        rng = np.random.default_rng(52)
        px = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
        for td in (False, True):
            out = decode_tga(_tga(px_rgb=px, top_down=td))
            np.testing.assert_array_equal(out, _luma(px))

    def test_right_to_left_origin(self):
        rng = np.random.default_rng(53)
        px = rng.integers(0, 256, (4, 6), dtype=np.uint8)
        out = decode_tga(_tga(gray=px, right_left=True))
        np.testing.assert_array_equal(out, px)

    def test_rle_matches_uncompressed(self):
        rng = np.random.default_rng(54)
        px = rng.integers(0, 5, (9, 11, 3), dtype=np.uint8) * 50
        a = decode_tga(_tga(px_rgb=px, rle=True))
        b = decode_tga(_tga(px_rgb=px))
        np.testing.assert_array_equal(a, b)

    def test_palette_mapped(self):
        rng = np.random.default_rng(55)
        palette = rng.integers(0, 256, (16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, (5, 8), dtype=np.uint8)
        out = decode_tga(_tga(palette=palette, idx=idx))
        np.testing.assert_array_equal(out, _luma(palette[idx]))

    def test_argb1555(self):
        rng = np.random.default_rng(56)
        px = (rng.integers(0, 32, (4, 4, 3), dtype=np.uint8) * 8)
        out = decode_tga(_tga(px_rgb=px, bpp=16))
        v5 = px.astype(np.uint32) >> 3
        exp = np.stack([(c * 255 // 31) for c in
                        (v5[..., 0], v5[..., 1], v5[..., 2])], axis=2)
        np.testing.assert_array_equal(out, _luma(exp.astype(np.uint8)))

    def test_32bit_alpha_over_white(self):
        px = np.zeros((3, 3, 3), dtype=np.uint8)
        alpha = np.full((3, 3), 128, dtype=np.uint8)
        out = decode_tga(_tga(px_rgb=px, bpp=32, alpha=alpha))
        assert (out == (255 * (255 - 128)) // 255).all()

    def test_sniff_and_dispatch(self):
        from receipt_scanner_spark.extract.sniff import sniff_format
        from receipt_scanner_spark.operators.multimodal import (
            sniff_image_dims,
        )

        px = np.full((5, 7), 9, dtype=np.uint8)
        data = _tga(gray=px)
        assert sniff_format(data) == "image/tga"
        assert sniff_image_dims(data) == ("tga", 7, 5, None)
        np.testing.assert_array_equal(decode_pixels(data), px)

    def test_no_footer_not_recognized(self):
        px = np.full((4, 4), 9, dtype=np.uint8)
        data = _tga(gray=px)[:-26]  # strip the footer
        from receipt_scanner_spark.extract.sniff import sniff_format

        assert sniff_format(data) != "image/tga"
        with pytest.raises((ValueError, NotImplementedError)):
            decode_pixels(data)

    def test_truncated_rle_rejected(self):
        rng = np.random.default_rng(57)
        px = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        data = bytearray(_tga(px_rgb=px, rle=True))
        cut = len(data) // 2
        data = data[:cut] + data[-26:]  # keep the footer
        with pytest.raises(ValueError):
            decode_tga(bytes(data))

    def test_ocr_reads_tga_receipt(self):
        from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text

        text = "TGA $8.88"
        img = render_text(text)
        assert ocr_pixels(decode_pixels(_tga(gray=img))) == text


class TestPnmSniffStrictness:
    def test_text_starting_with_p2_not_tagged(self):
        # 'P2 2016 report...' is plain text: the ASCII forms require a
        # digits/whitespace/comments body, the binary forms an exact
        # payload size — plain prose must never become an image row
        from receipt_scanner_spark.extract.sniff import sniff_format

        doc = b"P2 2016 report\nRevenue was strong this quarter.\n" * 4
        assert sniff_format(doc) == "text"
        doc2 = b"P5 90 2016 totals were higher than projected " * 8
        assert sniff_format(doc2) == "text"


def _pcx_rle(row: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        run = 1
        while i + run < n and run < 63 and row[i + run] == row[i]:
            run += 1
        if run > 1 or (row[i] & 0xC0) == 0xC0:
            out += bytes([0xC0 | run, row[i]])
        else:
            out += bytes([row[i]])
        i += run
    return bytes(out)


def _pcx(w, h, bpp, planes, rows_fn, version=5, encoding=1,
         header_pal=None, trailer_pal=None):
    """rows_fn(y, plane) -> packed plane row bytes (bpl long)."""
    bpl = ((w * bpp + 15) // 16) * 2  # even, >= packed width
    hdr = bytearray(128)
    hdr[0] = 0x0A
    hdr[1] = version
    hdr[2] = encoding
    hdr[3] = bpp
    hdr[4:12] = struct.pack("<HHHH", 0, 0, w - 1, h - 1)
    if header_pal is not None:
        hdr[16:64] = header_pal.astype(np.uint8).tobytes()
    hdr[65] = planes
    hdr[66:68] = struct.pack("<H", bpl)
    body = bytearray()
    for y in range(h):
        for pl in range(planes):
            row = rows_fn(y, pl)
            row = row + b"\x00" * (bpl - len(row))
            body += _pcx_rle(row) if encoding == 1 else row
    out = bytes(hdr) + bytes(body)
    if trailer_pal is not None:
        out += b"\x0c" + trailer_pal.astype(np.uint8).tobytes()
    return out


class TestPcx:
    """ZSoft PCX (r5 session 4): RLE scanlines, plane interleaving,
    header/trailer palettes — structurally sniffed (0x0A alone is a
    newline)."""

    def test_8bit_palette_trailer(self):
        rng = np.random.default_rng(61)
        idx = rng.integers(0, 256, (9, 13), dtype=np.uint8)
        pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
        data = _pcx(13, 9, 8, 1, lambda y, p: idx[y].tobytes(),
                    trailer_pal=pal)
        np.testing.assert_array_equal(decode_pcx(data), _luma(pal[idx]))

    def test_8bit_grayscale_no_trailer(self):
        rng = np.random.default_rng(62)
        px = rng.integers(0, 256, (6, 10), dtype=np.uint8)
        data = _pcx(10, 6, 8, 1, lambda y, p: px[y].tobytes(), version=2)
        np.testing.assert_array_equal(decode_pcx(data), px)

    def test_24bit_three_planes(self):
        rng = np.random.default_rng(63)
        px = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
        data = _pcx(7, 5, 8, 3, lambda y, p: px[y, :, p].tobytes())
        np.testing.assert_array_equal(decode_pcx(data), _luma(px))

    def test_mono_1bit(self):
        bits = np.array([[1, 0, 1, 1, 0, 0, 1, 0, 1]], dtype=np.uint8)
        data = _pcx(
            9, 1, 1, 1,
            lambda y, p: np.packbits(np.pad(bits[y], (0, 7))).tobytes(),
        )
        np.testing.assert_array_equal(decode_pcx(data), bits * 255)

    def test_ega_four_planes(self):
        rng = np.random.default_rng(64)
        idx = rng.integers(0, 16, (4, 8), dtype=np.uint8)
        pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)

        def rows(y, p):
            return np.packbits((idx[y] >> p) & 1).tobytes()

        data = _pcx(8, 4, 1, 4, rows, header_pal=pal)
        np.testing.assert_array_equal(decode_pcx(data), _luma(pal[idx]))

    def test_4bit_single_plane(self):
        rng = np.random.default_rng(65)
        idx = rng.integers(0, 16, (3, 6), dtype=np.uint8)
        pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)

        def rows(y, p):
            nib = idx[y]
            out = bytearray()
            for i in range(0, len(nib), 2):
                hi = nib[i] << 4
                lo = nib[i + 1] if i + 1 < len(nib) else 0
                out.append(hi | lo)
            return bytes(out)

        data = _pcx(6, 3, 4, 1, rows, header_pal=pal)
        np.testing.assert_array_equal(decode_pcx(data), _luma(pal[idx]))

    def test_uncompressed_encoding_zero(self):
        rng = np.random.default_rng(66)
        px = rng.integers(0, 256, (4, 6), dtype=np.uint8)
        data = _pcx(6, 4, 8, 1, lambda y, p: px[y].tobytes(),
                    version=2, encoding=0)
        np.testing.assert_array_equal(decode_pcx(data), px)

    def test_sniff_and_dispatch(self):
        from receipt_scanner_spark.extract.sniff import sniff_format
        from receipt_scanner_spark.operators.multimodal import (
            sniff_image_dims,
        )

        px = np.full((5, 8), 3, dtype=np.uint8)
        data = _pcx(8, 5, 8, 1, lambda y, p: px[y].tobytes(), version=2)
        assert sniff_format(data) == "image/pcx"
        assert sniff_image_dims(data) == ("pcx", 8, 5, None)
        np.testing.assert_array_equal(decode_pixels(data), px)

    def test_newline_text_not_tagged(self):
        from receipt_scanner_spark.extract.sniff import sniff_format

        doc = b"\n" + b"a quarterly report follows. " * 10
        assert sniff_format(doc) == "text"

    def test_truncated_rle_rejected(self):
        rng = np.random.default_rng(67)
        px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        data = _pcx(8, 8, 8, 1, lambda y, p: px[y].tobytes(), version=2)
        with pytest.raises(ValueError):
            decode_pcx(data[: 128 + 8])

    def test_ocr_reads_pcx_receipt(self):
        from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text

        text = "PCX $7.77"
        img = render_text(text)
        data = _pcx(img.shape[1], img.shape[0], 8, 1,
                    lambda y, p: img[y].tobytes(), version=2)
        assert ocr_pixels(decode_pixels(data)) == text
