"""PDF /Filter chain tests (extract/pdf.decode_stream and friends).

Evidence structure: each decode filter is validated against an
independent in-test ENCODER (LZW's crosses the 9→10→11 bit width
boundaries — the classic interop trap), plus spec vectors.  The LZW
width-switch timing is pinned by a chain of public ground truth: the
repo's GIF LZW decoder decodes real third-party GIFs (idlelib icons)
that cross width boundaries with zero desync, fixing the classic
decoder-lags-encoder-by-one rule; the PDF variant shifts both sides
one code early when /EarlyChange 1 (the default), matching pdf.js's
``dictionaryLength + earlyChange < 512`` keep-9-bits rule.

Integration: a hand-assembled PDF whose text layer rides an
ASCII85+Flate chain and whose images are CCITT-G4 and LZW+PNG-predictor
streams must flow through extract_pdf_text / extract_pdf_image_arrays /
process_pdf to parsed amounts — codestream to answer, no shortcut.
"""

from __future__ import annotations

import base64
import zlib

import numpy as np
import pytest

from receipt_scanner_spark.extract.pdf import (
    _apply_predictor,
    _ascii_hex_decode,
    _ascii85_decode,
    _lzw_decode_pdf,
    _runlength_decode,
    decode_stream,
    extract_pdf_image_arrays,
    extract_pdf_text,
    process_pdf,
    stream_filters,
)

# ---------------------------------------------------------------------------
# independent in-test PDF LZW encoder
# ---------------------------------------------------------------------------


def lzw_encode_pdf(data: bytes, early: int = 1) -> bytes:
    """TIFF/PDF-variant LZW encoder: MSB-first codes, clear=256,
    EOD=257, width 9→12.  Width grows after assigning entry
    2^width - early (one code early at the default /EarlyChange 1) —
    the timing that pairs with the decoder's table lagging the
    encoder's by exactly one entry."""
    table = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    out_bits: list[tuple[int, int]] = [(256, 9)]
    wbuf = b""
    for byte in data:
        t = wbuf + bytes([byte])
        if t in table:
            wbuf = t
        else:
            out_bits.append((table[wbuf], width))
            table[t] = nxt
            nxt += 1
            if nxt + early >= 4096:
                # table full: emit CLEAR (at the current width) and
                # reset, as real writers do (libtiff LZWEncode)
                out_bits.append((256, width))
                table = {bytes([i]): i for i in range(256)}
                nxt, width = 258, 9
            elif nxt + early >= (1 << width) + 1 and width < 12:
                width += 1
            wbuf = bytes([byte])
    if wbuf:
        out_bits.append((table[wbuf], width))
    out_bits.append((257, width))
    acc = nb = 0
    ob = bytearray()
    for code, wd in out_bits:
        acc = (acc << wd) | code
        nb += wd
        while nb >= 8:
            ob.append((acc >> (nb - 8)) & 0xFF)
            nb -= 8
    if nb:
        ob.append((acc << (8 - nb)) & 0xFF)
    return bytes(ob)


# ---------------------------------------------------------------------------
# filter name parsing
# ---------------------------------------------------------------------------


class TestStreamFilters:
    def test_single_name(self):
        assert stream_filters(b"<< /Filter /FlateDecode >>") == [
            b"FlateDecode"
        ]

    def test_array_order(self):
        hdr = b"<< /Filter [/ASCII85Decode /FlateDecode] >>"
        assert stream_filters(hdr) == [b"ASCII85Decode", b"FlateDecode"]

    def test_abbreviations_canonicalize(self):
        hdr = b"<< /Filter [/A85 /Fl] >>"
        assert stream_filters(hdr) == [b"ASCII85Decode", b"FlateDecode"]

    def test_no_filter(self):
        assert stream_filters(b"<< /Length 10 >>") == []


# ---------------------------------------------------------------------------
# individual filters
# ---------------------------------------------------------------------------


class TestAsciiFilters:
    def test_hex_basic(self):
        assert _ascii_hex_decode(b"48 65 6c 6C6F>") == b"Hello"

    def test_hex_odd_digit_implies_zero(self):
        # §7.4.2: odd final digit behaves as if followed by 0
        assert _ascii_hex_decode(b"4865766") == b"Hev`"[:3] + b"\x60"

    def test_hex_bad_digit_raises(self):
        with pytest.raises(ValueError):
            _ascii_hex_decode(b"4z>")

    def test_a85_round_trip(self):
        payload = bytes(range(256)) * 3
        enc = base64.a85encode(payload, adobe=True)
        assert _ascii85_decode(enc + b"garbage after eod") == payload

    def test_a85_missing_eod_raises(self):
        with pytest.raises(ValueError):
            _ascii85_decode(b"9jqo^")


class TestRunLength:
    def test_spec_vector(self):
        # literal 3 bytes "abc", repeat 'z' x4 (257-253), EOD
        body = b"\x02abc" + bytes([253]) + b"z" + b"\x80"
        assert _runlength_decode(body) == b"abczzzz"

    def test_truncated_literal_raises(self):
        with pytest.raises(ValueError):
            _runlength_decode(b"\x05ab")

    def test_truncated_repeat_raises(self):
        with pytest.raises(ValueError):
            _runlength_decode(bytes([200]))

    def test_round_trip_via_independent_encoder(self):
        rng = np.random.default_rng(7)
        data = rng.integers(0, 4, 500, dtype=np.uint8).tobytes()
        # simple independent encoder: runs >=2 as repeats, else literals
        out = bytearray()
        i = 0
        while i < len(data):
            j = i
            while j < len(data) and j - i < 128 and data[j] == data[i]:
                j += 1
            if j - i >= 2:
                out += bytes([257 - (j - i)]) + data[i : i + 1]
                i = j
            else:
                k = min(i + 128, len(data))
                out += bytes([k - i - 1]) + data[i:k]
                i = k
        out.append(128)
        assert _runlength_decode(bytes(out)) == data


class TestLzw:
    @pytest.mark.parametrize(
        "data",
        [
            b"TOBEORNOTTOBEORTOBEORNOT",
            b"\x00" * 1000,
            b"",
        ],
        ids=["classic", "zeros", "empty"],
    )
    def test_small_round_trips(self, data):
        assert _lzw_decode_pdf(lzw_encode_pdf(data)) == data

    @pytest.mark.parametrize("seed", range(4))
    def test_width_boundary_round_trips(self, seed):
        # low-entropy data big enough to push the table through the
        # 9→10→11 bit transitions — the interop trap an off-by-one in
        # either side's switch timing desyncs on
        rng = np.random.default_rng(seed)
        data = rng.integers(0, 8, 20_000, dtype=np.uint8).tobytes()
        assert _lzw_decode_pdf(lzw_encode_pdf(data)) == data

    def test_early_change_zero_round_trips(self):
        rng = np.random.default_rng(11)
        data = rng.integers(0, 8, 20_000, dtype=np.uint8).tobytes()
        enc = lzw_encode_pdf(data, early=0)
        assert _lzw_decode_pdf(enc, early=0) == data
        # and the two timings genuinely differ on this input
        with pytest.raises(ValueError):
            _lzw_decode_pdf(enc, early=1)

    def test_kwkwk_case(self):
        # 'aaaa...' forces code == len(table) (entry used before fully
        # known to the decoder)
        data = b"a" * 100
        assert _lzw_decode_pdf(lzw_encode_pdf(data)) == data

    def test_mid_stream_clear(self):
        # hand-built: clear, 'A', 'B', clear, 'C', EOD — all 9-bit
        bits = "".join(
            format(c, "09b") for c in (256, 65, 66, 256, 67, 257)
        )
        bits += "0" * ((-len(bits)) % 8)
        body = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
        assert _lzw_decode_pdf(body) == b"ABC"

    def test_truncated_raises(self):
        enc = lzw_encode_pdf(b"hello world, hello world")
        with pytest.raises(ValueError):
            _lzw_decode_pdf(enc[: len(enc) // 2 - 1])

    def test_bad_code_raises(self):
        # first data code beyond the table (e.g. 300) is invalid
        bits = format(256, "09b") + format(300, "09b")
        bits += "0" * ((-len(bits)) % 8)
        body = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
        with pytest.raises(ValueError):
            _lzw_decode_pdf(body)


class TestPredictor:
    def test_none_passthrough(self):
        assert _apply_predictor(b"abc", b"<< >>") == b"abc"

    def test_tiff_horizontal(self):
        # rows of deltas; cumsum mod 256 restores
        raw = np.array(
            [[10, 5, 5], [200, 100, 100]], dtype=np.uint8
        )  # 2 rows x 3 cols, 1 color
        hdr = b"<< /Predictor 2 /Columns 3 >>"
        out = _apply_predictor(raw.tobytes(), hdr)
        expect = np.array([[10, 15, 20], [200, 44, 144]], dtype=np.uint8)
        assert out == expect.tobytes()

    def test_png_filters_all_types(self):
        # independent forward-filter each row with types 0-4, decoder
        # must restore the original
        rng = np.random.default_rng(3)
        h, w, colors = 6, 9, 3
        img = rng.integers(0, 256, (h, w * colors), dtype=np.uint8)
        bpp = colors
        rows = bytearray()
        prev = np.zeros(w * colors, dtype=np.uint8)
        for y in range(h):
            ftype = y % 5
            cur = img[y]
            left = np.concatenate([np.zeros(bpp, np.uint8), cur[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.uint8), prev[:-bpp]])
            if ftype == 0:
                enc = cur
            elif ftype == 1:
                enc = cur - left
            elif ftype == 2:
                enc = cur - prev
            elif ftype == 3:
                enc = cur - (
                    (left.astype(np.int32) + prev.astype(np.int32)) // 2
                ).astype(np.uint8)
            else:
                a, b, c = (
                    left.astype(np.int32),
                    prev.astype(np.int32),
                    upleft.astype(np.int32),
                )
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                enc = cur - pred.astype(np.uint8)
            rows += bytes([ftype]) + enc.astype(np.uint8).tobytes()
            prev = cur
        hdr = b"<< /Predictor 15 /Columns 9 /Colors 3 >>"
        assert _apply_predictor(bytes(rows), hdr) == img.tobytes()

    def test_ragged_data_raises(self):
        hdr = b"<< /Predictor 12 /Columns 4 >>"
        with pytest.raises(ValueError):
            _apply_predictor(b"\x00abcd\x00ab", hdr)


# ---------------------------------------------------------------------------
# chains
# ---------------------------------------------------------------------------


class TestDecodeStream:
    def test_a85_flate_chain(self):
        payload = b"the payload " * 20
        body = base64.a85encode(zlib.compress(payload), adobe=True)
        hdr = b"<< /Filter [/ASCII85Decode /FlateDecode] >>"
        assert decode_stream(hdr, body) == (payload, None)

    def test_hex_rl_chain(self):
        payload = b"xxxxyyyyzzzz"
        rl = b"\xfdx\xfdy\xfdz\x80"
        body = rl.hex().upper().encode() + b">"
        hdr = b"<< /Filter [/AHx /RL] >>"
        assert decode_stream(hdr, body) == (payload, None)

    def test_image_codec_terminates_chain(self):
        hdr = b"<< /Filter [/ASCII85Decode /DCTDecode] >>"
        codestream = b"\xff\xd8fakejpeg"
        body = base64.a85encode(codestream, adobe=True)
        data, codec = decode_stream(hdr, body)
        # chain stops AT the codec: bytes are the decoded a85 payload
        assert codec == b"DCTDecode"
        assert data == codestream

    def test_unknown_filter_reported(self):
        data, codec = decode_stream(b"<< /Filter /Crypt >>", b"x")
        assert codec == b"Crypt" and data == b"x"

    def test_corrupt_chain_error_as_value(self):
        hdr = b"<< /Filter /ASCII85Decode >>"
        assert decode_stream(hdr, b"no eod marker") == (None, None)

    def test_flate_predictor_chain(self):
        img = np.arange(64, dtype=np.uint8).reshape(8, 8)
        rows = b"".join(b"\x00" + img[y].tobytes() for y in range(8))
        hdr = b"<< /Filter /FlateDecode /Predictor 12 /Columns 8 >>"
        data, codec = decode_stream(hdr, zlib.compress(rows))
        assert codec is None and data == img.tobytes()


# ---------------------------------------------------------------------------
# inline images (BI/ID/EI)
# ---------------------------------------------------------------------------


class TestInlineImages:
    def _content_pdf(self, content: bytes) -> bytes:
        s = _stream(b"/Length %d" % len(content), content)
        return b"%PDF-1.4\n" + s + b"\n%%EOF"

    def test_uncompressed_gray(self):
        from receipt_scanner_spark.extract.pdf import (
            extract_pdf_image_arrays,
        )

        px = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20
        content = (
            b"q BI /W 4 /H 3 /BPC 8 /CS /G ID " + px.tobytes() + b" EI Q"
        )
        pdf = self._content_pdf(content)
        [(arr, err)] = extract_pdf_image_arrays(pdf)
        assert err is None and np.array_equal(arr, px)

    def test_flate_rgb(self):
        from receipt_scanner_spark.extract.pdf import (
            extract_pdf_image_arrays,
        )

        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, (5, 6, 3), dtype=np.uint8)
        comp = zlib.compress(px.tobytes())
        content = (
            b"BI /W 6 /H 5 /BPC 8 /CS /RGB /F /Fl ID " + comp + b" EI"
        )
        pdf = self._content_pdf(content)
        [(arr, err)] = extract_pdf_image_arrays(pdf)
        assert err is None
        r, g, b = (px[:, :, i].astype(np.uint32) for i in range(3))
        expect = ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)
        np.testing.assert_array_equal(arr, expect)

    def test_binary_data_containing_EI(self):
        # uncompressed data whose BYTES spell ' EI ' must not truncate:
        # the explicit-length path reads exactly W*H bytes
        from receipt_scanner_spark.extract.pdf import (
            extract_pdf_image_arrays,
        )

        px = b"ab EI cd EI "  # 12 bytes = 4x3 gray
        content = b"BI /W 4 /H 3 /BPC 8 /CS /G ID " + px + b" EI"
        pdf = self._content_pdf(content)
        [(arr, err)] = extract_pdf_image_arrays(pdf)
        assert err is None and arr.shape == (3, 4) and arr.tobytes() == px

    def test_decode_array_inverts_1bit(self):
        from receipt_scanner_spark.extract.pdf import (
            extract_pdf_image_arrays,
        )

        bits = np.zeros((2, 8), dtype=np.uint8)
        bits[0, :4] = 1
        packed = np.packbits(bits, axis=1).tobytes()
        base = b"BI-FREE /Subtype /Image /Width 8 /Height 2 " \
               b"/BitsPerComponent 1 /ColorSpace /DeviceGray"
        del base
        s_plain = _stream(
            b"/Subtype /Image /Width 8 /Height 2 /BitsPerComponent 1 "
            b"/ColorSpace /DeviceGray /Length %d" % len(packed), packed,
        )
        s_inv = _stream(
            b"/Subtype /Image /Width 8 /Height 2 /BitsPerComponent 1 "
            b"/ColorSpace /DeviceGray /Decode [1 0] /Length %d"
            % len(packed), packed,
        )
        pdf = b"%PDF-1.4\n" + s_plain + b"\n" + s_inv + b"\n%%EOF"
        (a, e1), (b, e2) = extract_pdf_image_arrays(pdf)
        assert e1 is None and e2 is None
        np.testing.assert_array_equal(a, bits * 255)
        np.testing.assert_array_equal(b, (1 - bits) * 255)

    def test_image_mask_defaults(self):
        from receipt_scanner_spark.extract.pdf import (
            extract_pdf_image_arrays,
        )

        # 1-bit stencil mask, 10 wide → 2-byte rows
        bits = np.zeros((2, 10), dtype=np.uint8)
        bits[0, :5] = 1
        packed = np.packbits(bits, axis=1).tobytes()
        content = b"BI /W 10 /H 2 /IM true ID " + packed + b" EI"
        pdf = self._content_pdf(content)
        [(arr, err)] = extract_pdf_image_arrays(pdf)
        assert err is None and arr.shape == (2, 10)

    def test_inline_inside_flate_content(self):
        # the content stream itself is Flate-compressed; inline parse
        # must run on the DECODED bytes
        from receipt_scanner_spark.extract.pdf import (
            extract_pdf_image_arrays,
        )

        px = bytes(range(16))
        inner = b"BT (x) Tj ET BI /W 4 /H 4 /BPC 8 /CS /G ID " + px + b" EI"
        comp = zlib.compress(inner)
        s = _stream(
            b"/Length %d /Filter /FlateDecode" % len(comp), comp
        )
        pdf = b"%PDF-1.4\n" + s + b"\n%%EOF"
        [(arr, err)] = extract_pdf_image_arrays(pdf)
        assert err is None and arr.shape == (4, 4) and arr.tobytes() == px

    def test_ocr_gate_sees_inline_images(self):
        # blank text layer + ONLY an inline image: the OCR fallback
        # must fan out over it rather than report 'No images found'
        from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text
        from receipt_scanner_spark.parsers.registry import parse_text

        scan = render_text("TOTAL $3.21")
        h, w = scan.shape
        content = b"BI /W %d /H %d /BPC 8 /CS /G ID " % (w, h) + scan.tobytes() + b" EI"
        pdf = self._content_pdf(content)
        res = process_pdf(pdf, ocr_arrays=ocr_pixels)
        assert res.error is None
        assert parse_text(res.text)["amount"] == "3.21"


# ---------------------------------------------------------------------------
# end-to-end PDF integration
# ---------------------------------------------------------------------------


def _stream(header_extra: bytes, body: bytes) -> bytes:
    return b"<< " + header_extra + b" >>\nstream\n" + body + b"\nendstream"


def _build_pdf() -> tuple[bytes, np.ndarray, np.ndarray]:
    """PDF with an ASCII85+Flate text layer, a CCITT-G4 scanned line of
    receipt text, and an LZW+PNG-predictor gray raster."""
    from receipt_scanner_spark.extract.ocr import render_text
    from tests.test_ccitt import encode_g4

    content = (
        b"BT /F1 12 Tf 72 700 Td (TOTAL $42.37) Tj"
        b" 0 -20 Td (Date: 03/15/2024) Tj ET"
    )
    a85 = base64.a85encode(zlib.compress(content), adobe=True)
    s_text = _stream(
        b"/Length %d /Filter [/ASCII85Decode /FlateDecode]" % len(a85), a85
    )

    scan = render_text("TOTAL $9.99")
    g4 = encode_g4(scan < 128)
    h, w = scan.shape
    s_ccitt = _stream(
        b"/Subtype /Image /Width %d /Height %d /BitsPerComponent 1 "
        b"/ColorSpace /DeviceGray /Filter /CCITTFaxDecode "
        b"/DecodeParms << /K -1 /Columns %d /Rows %d >> /Length %d"
        % (w, h, w, h, len(g4)),
        g4,
    )

    gray = np.arange(256, dtype=np.uint8).reshape(16, 16)
    rows = b"".join(b"\x00" + gray[y].tobytes() for y in range(16))
    lzw = lzw_encode_pdf(rows)
    s_lzw = _stream(
        b"/Subtype /Image /Width 16 /Height 16 /BitsPerComponent 8 "
        b"/ColorSpace /DeviceGray /Filter /LZWDecode /Predictor 12 "
        b"/Columns 16 /Length %d" % len(lzw),
        lzw,
    )

    pdf = (
        b"%PDF-1.4\n" + s_text + b"\n" + s_ccitt + b"\n" + s_lzw + b"\n%%EOF"
    )
    return pdf, scan, gray


class TestPdfIntegration:
    def test_text_through_chain(self):
        pdf, _, _ = _build_pdf()
        t = extract_pdf_text(pdf)
        assert "TOTAL $42.37" in t.pages[0]
        assert "03/15/2024" in t.pages[0]

    def test_image_arrays_decode_both_codecs(self):
        pdf, scan, gray = _build_pdf()
        arrs = extract_pdf_image_arrays(pdf)
        assert len(arrs) == 2
        (ccitt_px, e1), (lzw_px, e2) = arrs
        assert e1 is None and np.array_equal(ccitt_px, scan)
        assert e2 is None and np.array_equal(lzw_px, gray)

    def test_ccitt_k_positive_image(self):
        # /K 2 mixed-mode G3 XObject decodes through the same plumbing
        from tests.test_ccitt import encode_g3_mixed

        rng = np.random.default_rng(17)
        ink = rng.random((10, 25)) < 0.25
        g3 = encode_g3_mixed(ink, k=2, rtc=False)
        s = _stream(
            b"/Subtype /Image /Width 25 /Height 10 /BitsPerComponent 1 "
            b"/ColorSpace /DeviceGray /Filter /CCITTFaxDecode "
            b"/DecodeParms << /K 2 /Columns 25 /Rows 10 >> /Length %d"
            % len(g3),
            g3,
        )
        pdf = b"%PDF-1.4\n" + s + b"\n%%EOF"
        [(px, err)] = extract_pdf_image_arrays(pdf)
        assert err is None
        expect = np.where(ink, np.uint8(0), np.uint8(255))
        np.testing.assert_array_equal(px, expect)

    def test_process_pdf_text_layer_to_parsed_totals(self):
        from receipt_scanner_spark.parsers.registry import parse_text

        pdf, _, _ = _build_pdf()
        res = process_pdf(pdf)
        assert res.error is None
        parsed = parse_text(res.text)
        assert parsed["amount"] == "42.37"
        assert parsed["date"] == "2024-03-15"

    def test_scanned_only_pdf_ocr_fallback(self):
        # no text layer → blank-text gate fires → the CCITT codestream
        # decodes to pixels and the real OCR engine reads them (P3+P5)
        from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text
        from receipt_scanner_spark.parsers.registry import parse_text
        from tests.test_ccitt import encode_g4

        scan = render_text("TOTAL $9.99")
        g4 = encode_g4(scan < 128)
        h, w = scan.shape
        s_ccitt = _stream(
            b"/Subtype /Image /Width %d /Height %d /BitsPerComponent 1 "
            b"/ColorSpace /DeviceGray /Filter /CCITTFaxDecode "
            b"/DecodeParms << /K -1 /Columns %d /Rows %d >> /Length %d"
            % (w, h, w, h, len(g4)),
            g4,
        )
        pdf = b"%PDF-1.4\n" + s_ccitt + b"\n%%EOF"
        res = process_pdf(pdf, ocr_arrays=ocr_pixels)
        assert res.error is None
        assert parse_text(res.text)["amount"] == "9.99"
