"""Real image decoding, stdlib-only: PNG (zlib + spec unfiltering,
Adam7, all depths, APNG demux), GIF (spec LZW, interlace, animation
demux), BMP (uncompressed/RLE/BITFIELDS/embedded JPEG+PNG/OS-2 core
header/RGB555), ICO/CUR favicons, netpbm P1-P6, Truevision TGA
(footer-sniffed), and — via the sibling modules — every JPEG process
in T.81 (extract/jpeg.py + jarith.py), TIFF/CCITT (tiff.py/ccitt.py),
JBIG2 (jbig2.py), WebP (webp.py/vp8.py), and JPEG 2000 (jpx.py).  No
Pillow/ffmpeg in this environment, and none of these formats needs
them.

Output contract: ``decode_pixels(data) -> (h, w) uint8`` luma plane
(BT.601 integer luma for color inputs) — the shape the multimodal
feature/resize operators consume.  Raises ``ValueError`` on corrupt
payloads and ``NotImplementedError`` for formats/variants without a
decode path — callers map both to error-as-value rows.

Reference parity note: the reference's image branch hands decoding to
graphicsmagick/sharp/opencv (lib/image_processor.js); here the decode
feeds the SAME plug points (feature extraction, resize, the per-image
OCR hook), so swapping in a full codec library remains config-only.
"""

from __future__ import annotations

import importlib
import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Decompression-bomb guard: a hostile 4-byte dimension field must not
# turn into a multi-GB allocation on a web-scale ingest worker.  Same
# order of magnitude as Pillow's MAX_IMAGE_PIXELS default; callers with
# legitimately huge inputs can raise it module-wide.
MAX_PIXELS = 178_956_970


def check_pixel_budget(w: int, h: int) -> None:
    """Raise ValueError BEFORE any pixel allocation when the declared
    dimensions exceed MAX_PIXELS (shared by all four decoders)."""
    if w * h > MAX_PIXELS:
        raise ValueError(
            f"image {w}x{h} exceeds the {MAX_PIXELS}-pixel decompression"
            " bomb guard (imaging.MAX_PIXELS)"
        )

# channels per PNG color type (8-bit depth)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _luma(px: np.ndarray) -> np.ndarray:
    """(h, w, ch) uint8 -> (h, w) uint8 integer BT.601 luma.  Alpha
    channels (gray+alpha, RGBA) composite over WHITE — what a viewer
    or pdftoppm shows; dropping alpha instead would render transparent
    page background as solid black.  Luma-then-composite equals
    composite-then-luma (both linear); integer order is documented by
    the formula: (v*a + 255*(255-a)) // 255."""
    if px.ndim == 2:
        return px
    ch = px.shape[2]
    if ch == 1:
        return px[:, :, 0]
    if ch == 2:  # gray + alpha
        v = px[:, :, 0].astype(np.uint32)
        a = px[:, :, 1].astype(np.uint32)
        return ((v * a + 255 * (255 - a)) // 255).astype(np.uint8)
    r = px[:, :, 0].astype(np.uint32)
    g = px[:, :, 1].astype(np.uint32)
    b = px[:, :, 2].astype(np.uint32)
    y = (299 * r + 587 * g + 114 * b) // 1000
    if ch >= 4:  # RGBA
        a = px[:, :, 3].astype(np.uint32)
        y = (y * a + 255 * (255 - a)) // 255
    return y.astype(np.uint8)


def _unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Invert PNG scanline filtering (spec §6): each row is one filter
    byte + ``stride`` filtered bytes.  Filters None/Up/Sub are
    vectorized (Sub via a modular cumulative sum over the bpp phase
    lanes); Average and Paeth are inherently sequential in x and run as
    per-byte loops — exactness over speed (images here are test-sized;
    a production swap-in would be a codec library anyway)."""
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    rows = np.frombuffer(raw[: h * (stride + 1)], dtype=np.uint8).reshape(
        h, stride + 1
    )
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.int32)
        if ft == 0:
            pass
        elif ft == 1:  # Sub: cur[i] += recon[i - bpp]
            lanes = cur.reshape(stride // bpp, bpp)
            cur = (np.cumsum(lanes, axis=0, dtype=np.int64) % 256).reshape(
                stride
            ).astype(np.int32)
        elif ft == 2:  # Up
            cur = (cur + prev) % 256
        elif ft == 3:  # Average
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) % 256
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


# Adam7 pass geometry: (x0, y0, dx, dy) — PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unpack_row_samples(
    rows: np.ndarray, pw: int, depth: int, ch: int
) -> np.ndarray:
    """(ph, rowbytes) filtered-out rows → (ph, pw, ch) RAW sample
    values (un-scaled; palette indices must stay indices)."""
    ph = rows.shape[0]
    if depth == 8:
        return rows[:, : pw * ch].reshape(ph, pw, ch)
    if depth == 16:
        # big-endian 16-bit samples → high byte (the standard 16→8)
        return rows[:, : pw * ch * 2].reshape(ph, pw, ch, 2)[:, :, :, 0]
    # sub-byte depths pack MSB-first within each byte
    bits = np.unpackbits(rows, axis=1)
    n_samples = pw * ch
    bits = bits[:, : n_samples * depth].reshape(ph, n_samples, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (bits * weights).sum(axis=2).astype(np.uint8)
    return vals.reshape(ph, pw, ch)


def decode_png(data: bytes) -> np.ndarray:
    """(h, w) uint8 luma from a PNG: color types gray/RGB/palette/
    gray+alpha/RGBA, bit depths 1/2/4/8/16, sequential AND Adam7
    interlaced (each pass an independent filtered sub-image scattered
    onto the grid, PNG spec §8.2)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length  # length + tag + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    samples, color_type, depth = _png_raster(ihdr, bytes(idat))
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        safe = np.minimum(samples[:, :, 0], len(plte) - 1)
        return _luma(plte[safe])
    if depth in (1, 2, 4):
        samples = samples * np.uint8(255 // ((1 << depth) - 1))
    return _luma(samples)


def _png_raster(ihdr, idat: bytes):
    """Decompress + unfilter one PNG image: returns (raw (h, w, ch)
    uint8 samples — sub-byte depths NOT yet scaled, palette NOT yet
    applied — color_type, depth).  Shared by decode_png and the APNG
    per-frame decode."""
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if w == 0 or h == 0:
        raise ValueError("zero-dimension PNG")
    check_pixel_budget(w, h)
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"bad PNG bit depth {depth}")
    if depth < 8 and color_type not in (0, 3):
        raise ValueError("sub-byte depth outside gray/palette")
    if color_type not in _PNG_CHANNELS or comp != 0 or filt != 0:
        raise NotImplementedError(f"PNG color type {color_type} not supported")
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    ch = _PNG_CHANNELS[color_type]
    bpp = max(1, (depth * ch + 7) // 8)

    passes = []
    total = 0
    for x0, y0, dx, dy in _ADAM7 if interlace else ((0, 0, 1, 1),):
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        rowbytes = (pw * depth * ch + 7) // 8
        passes.append((x0, y0, dx, dy, pw, ph, rowbytes))
        total += ph * (rowbytes + 1)
    # bounded inflate: decompress exactly the bytes the declared
    # dimensions need — a tiny hostile IDAT can otherwise inflate far
    # past the dimension-based budget before _unfilter ever looks
    raw = zlib.decompressobj().decompress(bytes(idat), total)
    if len(raw) < total:
        raise ValueError("PNG pixel data short")

    samples = np.zeros((h, w, ch), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy, pw, ph, rowbytes in passes:
        chunk = raw[off : off + ph * (rowbytes + 1)]
        off += ph * (rowbytes + 1)
        sub = _unfilter(chunk, ph, rowbytes, bpp)
        samples[y0::dy, x0::dx] = _unpack_row_samples(sub, pw, depth, ch)
    return samples, color_type, depth


def _bmp_rle_decode(
    body: bytes, w: int, h: int, four_bit: bool
) -> np.ndarray:
    """RLE8/RLE4 (BMP compression 1/2) → (h, w) palette-index raster,
    bottom-up origin (RLE bitmaps are always bottom-up).  Escapes: 0 =
    end of line, 1 = end of bitmap, 2 = delta; absolute runs pad to
    2-byte boundaries.  Unwritten pixels stay index 0 (spec: delta /
    short lines leave gaps)."""
    idx = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i, n = 0, len(body)
    while i + 1 < n:
        c, v = body[i], body[i + 1]
        i += 2
        if c:
            cnt = min(c, w - x) if x < w else 0
            if four_bit:
                pix = [(v >> 4), (v & 0x0F)] * ((c + 1) // 2)
                if y < h and cnt:
                    idx[y, x : x + cnt] = pix[:cnt]
            elif y < h and cnt:
                idx[y, x : x + cnt] = v
            x += c
        elif v == 0:  # end of line
            x = 0
            y += 1
            if y > h:
                raise ValueError("BMP RLE ran past the image")
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta
            if i + 1 >= n:
                raise ValueError("truncated BMP RLE delta")
            x += body[i]
            y += body[i + 1]
            i += 2
            if y > h or x > w:
                raise ValueError("BMP RLE delta out of range")
        else:  # absolute mode: v literal pixels
            nbytes = ((v + 1) // 2 + 1) // 2 * 2 if four_bit else (v + 1) // 2 * 2
            chunk = body[i : i + nbytes]
            if len(chunk) < nbytes:
                raise ValueError("truncated BMP RLE absolute run")
            i += nbytes
            if four_bit:
                pix = []
                for b in chunk:
                    pix += [b >> 4, b & 0x0F]
            else:
                pix = list(chunk)
            cnt = min(v, w - x) if x < w else 0
            if y < h and cnt:
                idx[y, x : x + cnt] = pix[:cnt]
            x += v
    return idx[::-1]  # bottom-up → top-down


# DIB header sizes: OS/2 core (12), BITMAPINFOHEADER (40), the V2/V3
# info headers (52, 56), OS/2 2.x (64), V4 (108) and V5 (124)
_BMP_DIB_SIZES = frozenset((12, 40, 52, 56, 64, 108, 124))


def looks_like_bmp(data: bytes) -> bool:
    """The 2-byte 'BM' magic is weak (text can start 'BMI …'), so
    require a known DIB header size after the BITMAPFILEHEADER and a
    pixel-data offset inside the buffer.  The file header's reserved
    words are application-defined and not checked."""
    if len(data) < 18 or data[:2] != b"BM":
        return False
    pixel_off, dib_size = struct.unpack("<II", data[10:18])
    return dib_size in _BMP_DIB_SIZES and pixel_off <= len(data)


def decode_bmp(data: bytes) -> np.ndarray:
    """(h, w) uint8 luma from a BMP: BITMAPINFOHEADER (and larger)
    uncompressed 1/4/8/16/24/32-bit (bottom-up or top-down), RLE8/RLE4,
    BI_BITFIELDS, BI_JPEG/BI_PNG embedded streams, and the 12-byte
    OS/2 BITMAPCOREHEADER (16-bit dims, 3-byte BGR palette, always
    bottom-up uncompressed)."""
    if data[:2] != b"BM" or len(data) < 26:
        raise ValueError("not a BMP / truncated header")
    (pixel_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    core = hdr_size == 12
    if core:
        w, h_signed = struct.unpack("<hh", data[18:22])
        planes, bpp = struct.unpack("<HH", data[22:26])
        compression = 0
        clr_used = 0
    else:
        if hdr_size < 40:
            raise NotImplementedError(
                f"BMP header size {hdr_size} not supported"
            )
        if len(data) < 54:
            raise ValueError("truncated BMP header")
        w, h_signed = struct.unpack("<ii", data[18:26])
        planes, bpp = struct.unpack("<HH", data[26:30])
        (compression,) = struct.unpack("<I", data[30:34])
        (clr_used,) = struct.unpack("<I", data[46:50])
    if w <= 0 or h_signed == 0:
        raise ValueError("bad BMP dimensions")
    h = abs(h_signed)
    check_pixel_budget(w, h)
    top_down = h_signed < 0

    def palette(bits: int) -> np.ndarray:
        n_entries = clr_used or (1 << bits)
        esz = 3 if core else 4  # RGBTRIPLE vs RGBQUAD entries
        pal_off = 14 + hdr_size
        if core and pixel_off > pal_off:
            # no bcClrUsed field exists: the palette is whatever fits
            # between the header and the pixel data (full 2^n in real
            # OS/2 files, shorter ones occur in the wild)
            n_entries = max(1, min(n_entries, (pixel_off - pal_off) // esz))
        pal = np.frombuffer(
            data[pal_off : pal_off + esz * n_entries], dtype=np.uint8
        )
        if len(pal) < esz * n_entries:
            raise ValueError("truncated BMP palette")
        full = np.zeros((256, 3), dtype=np.uint8)
        full[:n_entries] = pal.reshape(n_entries, esz)[:, [2, 1, 0]]
        return full  # BGR(X) -> RGB, safe-indexed

    if compression in (1, 2):
        if not (
            (compression == 1 and bpp == 8)
            or (compression == 2 and bpp == 4)
        ):
            raise ValueError("BMP RLE type/bpp mismatch")
        if top_down:
            raise ValueError("RLE BMP cannot be top-down")
        idx = _bmp_rle_decode(
            data[pixel_off:], w, h, four_bit=(compression == 2)
        )
        return _luma(palette(bpp)[idx])
    def masked_channels(masks):
        # per-channel masks — BI_BITFIELDS, and the implied RGB555
        # layout of bare 16-bit BI_RGB bitmaps
        nch = bpp // 8
        stride = ((w * nch + 3) // 4) * 4
        if len(data) < pixel_off + stride * h:
            raise ValueError("truncated BMP pixel data")
        raw = np.frombuffer(
            data[pixel_off : pixel_off + stride * h], dtype=np.uint8
        ).reshape(h, stride)[:, : w * nch]
        words = raw.reshape(h, w, nch)
        vals = np.zeros((h, w), dtype=np.uint32)
        for b in range(nch):
            vals |= words[:, :, b].astype(np.uint32) << (8 * b)
        chans = []
        for m in masks:
            shift = (m & -m).bit_length() - 1
            width = int(m >> shift).bit_length()
            c = (vals & np.uint32(m)) >> np.uint32(shift)
            if width < 8:  # scale up (e.g. 565 → 888)
                c = (c * 255) // ((1 << width) - 1)
            chans.append(c.astype(np.uint8))
        px = np.stack(chans, axis=2)  # masks are R, G, B order
        if not top_down:
            px = px[::-1]
        return _luma(px)

    if compression == 3 and bpp in (16, 32):
        if hdr_size >= 56:
            masks = struct.unpack("<III", data[54:66])
        else:
            masks = struct.unpack(
                "<III", data[14 + hdr_size : 14 + hdr_size + 12]
            )
        if any(m == 0 for m in masks):
            raise ValueError("zero BI_BITFIELDS channel mask")
        return masked_channels(masks)
    if compression == 0 and bpp == 16:
        # bare 16-bit BI_RGB is RGB555 by definition (no masks stored)
        return masked_channels((0x7C00, 0x03E0, 0x001F))
    if compression in (4, 5):
        # BI_JPEG / BI_PNG (printer passthrough): the "pixel data" is a
        # complete JPEG / PNG interchange stream, already display-
        # ordered — no bottom-up flip, header dims crop any overshoot
        (size_image,) = struct.unpack("<I", data[34:38])
        end = pixel_off + size_image if size_image else len(data)
        body = bytes(data[pixel_off:end])
        if compression == 4:
            from .jpeg import decode_jpeg

            px = decode_jpeg(body)
        else:
            px = decode_png(body)
        if px.shape[0] < h or px.shape[1] < w:
            raise ValueError("embedded BMP stream smaller than header")
        return px[:h, :w]
    if compression != 0:
        raise NotImplementedError(f"compressed BMP (type {compression})")
    if bpp in (1, 4):
        stride = ((w * bpp + 31) // 32) * 4
        need = pixel_off + stride * h
        if len(data) < need:
            raise ValueError("truncated BMP pixel data")
        rows = np.frombuffer(
            data[pixel_off : pixel_off + stride * h], dtype=np.uint8
        ).reshape(h, stride)
        bits = np.unpackbits(rows, axis=1)
        if bpp == 1:
            idx = bits[:, :w]
        else:
            nib = bits[:, : ((w + 1) // 2) * 8]
            vals = nib.reshape(h, -1, 4)
            weights = np.array([8, 4, 2, 1], dtype=np.uint8)
            idx = (vals * weights).sum(axis=2).astype(np.uint8)[:, :w]
        if not top_down:
            idx = idx[::-1]
        return _luma(palette(bpp)[idx])
    if bpp not in (8, 24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP not supported")
    nch = bpp // 8
    stride = ((w * nch + 3) // 4) * 4  # rows pad to 4 bytes
    need = pixel_off + stride * h
    if len(data) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        data[pixel_off : pixel_off + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, : w * nch]
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        px = palette(8)[rows]
    else:
        px = rows.reshape(h, w, nch)[:, :, [2, 1, 0]]  # BGR(A) -> RGB
    return _luma(px)


def _lzw_decode(codes: bytes, min_code_size: int, max_pixels: int) -> bytearray:
    """GIF-variant LZW (spec appendix F): variable code width starting
    at min_code_size+1, CLEAR resets the table, EOI terminates; the
    KwKwK case emits prev + prev[0]."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # bit reader: GIF packs codes LSB-first
    acc = 0
    nbits = 0
    pos = 0
    n = len(codes)

    def base_table():
        return {i: bytes([i]) for i in range(clear)}

    table = base_table()
    next_code = eoi + 1
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= n:
                return out  # stream ended without EOI — tolerate
            acc |= codes[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = base_table()
            next_code = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("corrupt LZW stream")
        out += entry
        if len(out) > max_pixels:
            raise ValueError("LZW output exceeds image size")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry


# GIF interlace passes: (start row, step)
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(data: bytes) -> np.ndarray:
    """(h, w) uint8 luma of the FIRST frame of a GIF87a/89a (global or
    local color table, optional interlace).  Animation frames beyond
    the first are a video concern (sample_frames territory), not a
    still-image decode."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8)
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n
    n_data = len(data)
    transparent_idx = None
    while pos < n_data:
        block = data[pos]
        if block == 0x21:  # extension: introducer, label, sub-blocks
            # GCE (label 0xF9): transparency flag + index apply to the
            # NEXT image — transparent pixels read as page white, the
            # same convention as the PNG alpha compositing
            if (
                pos + 6 < n_data
                and data[pos + 1] == 0xF9
                and data[pos + 2] >= 4
                and data[pos + 3] & 0x01
            ):
                transparent_idx = data[pos + 6]
            pos += 2
            while pos < n_data and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > n_data:
                raise ValueError("truncated GIF image descriptor")
            _x, _y, w, h, iflags = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
            pos += 10
            ct = gct
            if iflags & 0x80:  # local color table
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8)
                if len(ct) < 3 * n:
                    raise ValueError("truncated GIF local color table")
                ct = ct.reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image without a color table")
            if w == 0 or h == 0:
                raise ValueError("zero-dimension GIF frame")
            check_pixel_budget(w, h)
            min_code_size = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < n_data and data[pos] != 0:
                ln = data[pos]
                lzw += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _lzw_decode(bytes(lzw), min_code_size, w * h)
            if len(idx) < w * h:
                raise ValueError("GIF pixel data short")
            arr = np.frombuffer(bytes(idx[: w * h]), dtype=np.uint8).reshape(h, w)
            if iflags & 0x40:  # interlaced: rows arrive in 4 passes
                deinter = np.zeros_like(arr)
                src = 0
                for start, step in _GIF_INTERLACE:
                    for y in range(start, h, step):
                        deinter[y] = arr[src]
                        src += 1
                arr = deinter
            safe = np.minimum(arr, len(ct) - 1)  # spec: clamp bad indices
            y = _luma(ct[safe])
            if transparent_idx is not None:
                y = np.where(arr == transparent_idx, np.uint8(255), y)
            return y
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image data")


def encode_png_gray(px: np.ndarray) -> bytes:
    """Minimal spec encoder: (h, w) uint8 → 8-bit grayscale PNG
    (filter 0 rows, one IDAT).  The inverse of ``decode_png`` for luma
    planes — used by the synthetic-receipt corpus and tests to carry
    rendered pixels through the binary-column plumbing."""
    px = np.ascontiguousarray(px, dtype=np.uint8)
    if px.ndim != 2 or px.size == 0:
        raise ValueError("encode_png_gray wants a non-empty (h, w) array")
    h, w = px.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def exif_orientation(jpeg_bytes: bytes) -> int | None:
    """The EXIF orientation tag (1-8) from a JPEG's APP1 segment, or
    None.  The APP1 payload after 'Exif\\0\\0' is a TIFF blob — parsed
    by the same IFD reader as standalone TIFFs (extract/tiff.py)."""
    d = jpeg_bytes
    if d[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(d)
    while i + 4 <= n:
        if d[i] != 0xFF:
            i += 1
            continue
        marker = d[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:  # SOS: no EXIF past here
            return None
        seg_len = (d[i + 2] << 8) | d[i + 3]
        if marker == 0xE1 and d[i + 4 : i + 10] == b"Exif\x00\x00":
            tiff_blob = d[i + 10 : i + 2 + seg_len]
            if tiff_blob[:2] in (b"II", b"MM"):
                from .tiff import _read_ifd

                try:
                    tags = _read_ifd(
                        tiff_blob, "<" if tiff_blob[:2] == b"II" else ">"
                    )
                    v = tags.get(274)
                    if v and 1 <= v[0] <= 8:
                        return int(v[0])
                except (ValueError, IndexError, KeyError, struct.error):
                    return None
            return None
        i += 2 + seg_len
    return None


def apply_orientation(px: np.ndarray, orientation: int | None) -> np.ndarray:
    """Transform decoded pixels upright per the EXIF orientation tag
    (the PIL exif_transpose mapping)."""
    if orientation in (None, 0, 1):
        return px
    if orientation == 2:
        return px[:, ::-1]
    if orientation == 3:
        return px[::-1, ::-1]
    if orientation == 4:
        return px[::-1, :]
    if orientation == 5:
        return px.T
    if orientation == 6:
        return np.rot90(px, -1)
    if orientation == 7:
        return np.rot90(px.T, 2)
    if orientation == 8:
        return np.rot90(px, 1)
    return px


def looks_like_pnm(data: bytes) -> bool:
    """The 2-byte netpbm magic is weak ('P2 2016 report...' is plain
    text), so validate structure: header tokens parse, and the payload
    size fits — exact arithmetic for the binary forms, a digits/
    whitespace/comments scan for the ASCII ones."""
    if len(data) < 3 or data[0:1] != b"P" or data[1] not in b"123456":
        return False
    if data[2] not in b" \t\r\n#":
        return False
    kind = data[1] - 0x30
    pos = 2

    def token():
        nonlocal pos
        while pos < len(data):
            c = data[pos]
            if c in b" \t\r\n":
                pos += 1
            elif c == 0x23:
                while pos < len(data) and data[pos] not in b"\r\n":
                    pos += 1
            else:
                break
        start = pos
        while pos < len(data) and data[pos] in b"0123456789":
            pos += 1
        return int(data[start:pos]) if pos > start else None

    try:
        w, h = token(), token()
        if not w or not h or w * h > MAX_PIXELS:
            return False
        maxval = 1 if kind in (1, 4) else token()
        if not maxval or maxval > 65535:
            return False
        if kind in (4, 5, 6):  # binary: the size must fit exactly
            pos += 1
            nch = 3 if kind == 6 else 1
            if kind == 4:
                need = ((w + 7) // 8) * h
            else:
                need = w * h * nch * (2 if maxval > 255 else 1)
            return len(data) - pos >= need
        # ASCII: the body must be digits/whitespace/comments only
        body = data[pos : pos + 512]
        import re as _re

        return _re.fullmatch(rb"(?:[\s0-9]|#[^\r\n]*)*", body) is not None
    except Exception:
        return False


def decode_pnm(data: bytes) -> np.ndarray:
    """(h, w) uint8 luma from a netpbm file: P1-P3 ASCII and P4-P6
    binary, maxval up to 65535 (high byte), '#' comments anywhere in
    the header.  PBM 1 = black per the format definition."""
    if len(data) < 2 or data[0:1] != b"P" or data[1] not in b"123456":
        raise ValueError("not a PNM file")
    kind = data[1] - 0x30
    pos = 2

    def skip_blanks() -> None:
        nonlocal pos
        while pos < len(data):
            c = data[pos]
            if c in b" \t\r\n":
                pos += 1
            elif c == 0x23:  # '#' comment to end of line
                while pos < len(data) and data[pos] not in b"\r\n":
                    pos += 1
            else:
                break

    def token() -> int:
        nonlocal pos
        skip_blanks()
        start = pos
        while pos < len(data) and data[pos] in b"0123456789":
            pos += 1
        if pos == start:
            raise ValueError("bad PNM header token")
        return int(data[start:pos])

    w = token()
    h = token()
    if w <= 0 or h <= 0:
        raise ValueError("bad PNM dimensions")
    check_pixel_budget(w, h)
    maxval = 1 if kind in (1, 4) else token()
    if not 1 <= maxval <= 65535:
        raise ValueError("bad PNM maxval")
    nch = 3 if kind in (3, 6) else 1

    if kind == 1:  # plain PBM: one '0'/'1' per pixel, blanks optional
        vals = np.empty(w * h, dtype=np.uint32)
        for i in range(vals.size):
            skip_blanks()
            if pos >= len(data) or data[pos] not in b"01":
                raise ValueError("bad PBM pixel")
            vals[i] = data[pos] - 0x30
            pos += 1
    elif kind in (2, 3):  # ASCII
        vals = np.empty(w * h * nch, dtype=np.uint32)
        for i in range(vals.size):
            vals[i] = token()
    else:
        pos += 1  # exactly one whitespace byte after the header
        if kind == 4:
            stride = (w + 7) // 8
            raw = data[pos : pos + stride * h]
            if len(raw) < stride * h:
                raise ValueError("truncated PNM pixel data")
            bits = np.unpackbits(
                np.frombuffer(raw, np.uint8).reshape(h, stride), axis=1
            )[:, :w]
            return np.where(bits == 1, 0, 255).astype(np.uint8)
        wide = maxval > 255
        bpv = 2 if wide else 1
        need = w * h * nch * bpv
        raw = data[pos : pos + need]
        if len(raw) < need:
            raise ValueError("truncated PNM pixel data")
        vals = np.frombuffer(
            raw, dtype=">u2" if wide else np.uint8
        ).astype(np.uint32)
    if (vals > maxval).any():
        raise ValueError("PNM sample exceeds maxval")
    if kind == 1:
        return np.where(
            vals.reshape(h, w) == 1, 0, 255
        ).astype(np.uint8)
    scaled = (vals * 255 // maxval).astype(np.uint8)
    if nch == 1:
        return scaled.reshape(h, w)
    return _luma(scaled.reshape(h, w, 3))


def looks_like_pcx(data: bytes) -> bool:
    """PCX structural sniff: the 0x0A manufacturer byte alone is weak
    (it is a newline), so require the version/encoding/depth/plane
    fields and window geometry to be coherent too."""
    if len(data) < 129 or data[0] != 0x0A:
        return False
    if data[1] not in (0, 2, 3, 4, 5) or data[2] not in (0, 1):
        return False
    bpp, planes = data[3], data[65]
    if (bpp, planes) not in (
        (8, 1), (8, 3), (1, 1), (1, 4), (4, 1), (2, 1)
    ):
        return False
    x0, y0, x1, y1 = struct.unpack("<HHHH", data[4:12])
    (bpl,) = struct.unpack("<H", data[66:68])
    w, h = x1 - x0 + 1, y1 - y0 + 1
    return 0 < w <= 30000 and 0 < h <= 30000 and bpl >= (w * bpp + 7) // 8


def decode_pcx(data: bytes) -> np.ndarray:
    """(h, w) uint8 luma from a ZSoft PCX: RLE (0xC0 run marker) or
    raw scanlines, planes interleaved per row.  Layouts: 8-bit paletted
    (256-color trailer) or grayscale, 24-bit (3 planes), 1/2/4-bit via
    the 48-byte header palette, and 4-plane EGA bit planes."""
    if not looks_like_pcx(data):
        raise ValueError("not a PCX file")
    version, encoding, bpp = data[1], data[2], data[3]
    x0, y0, x1, y1 = struct.unpack("<HHHH", data[4:12])
    planes = data[65]
    (bpl,) = struct.unpack("<H", data[66:68])
    w, h = x1 - x0 + 1, y1 - y0 + 1
    check_pixel_budget(w, h)
    row_total = bpl * planes
    body = data[128:]
    if encoding == 1:  # RLE
        out = np.empty(row_total * h, np.uint8)
        oi = 0
        i = 0
        n_body = len(body)
        end = out.size
        while oi < end:
            if i >= n_body:
                raise ValueError("truncated PCX RLE stream")
            b = body[i]
            i += 1
            if (b & 0xC0) == 0xC0:
                cnt = b & 0x3F
                if i >= n_body:
                    raise ValueError("truncated PCX RLE stream")
                v = body[i]
                i += 1
                cnt = min(cnt, end - oi)
                out[oi : oi + cnt] = v
                oi += cnt
            else:
                out[oi] = b
                oi += 1
    else:
        need = row_total * h
        if len(body) < need:
            raise ValueError("truncated PCX pixel data")
        out = np.frombuffer(body[:need], np.uint8).copy()
        i = need
    rows = out.reshape(h, planes, bpl)

    def plane_vals(pl: np.ndarray, bits: int) -> np.ndarray:
        # (h, bpl) packed rows -> (h, w) sample values
        if bits == 8:
            return pl[:, :w]
        b = np.unpackbits(pl, axis=1)
        if bits == 1:
            return b[:, :w]
        grp = b[:, : ((w * bits + 7) // 8) * 8].reshape(h, -1, bits)
        weights = 1 << np.arange(bits - 1, -1, -1)
        return (grp * weights).sum(axis=2)[:, :w].astype(np.uint8)

    if bpp == 8 and planes == 3:
        rgb = np.stack([plane_vals(rows[:, c], 8) for c in range(3)],
                       axis=2)
        return _luma(rgb.astype(np.uint8))
    if bpp == 8 and planes == 1:
        idx = plane_vals(rows[:, 0], 8)
        # version-5 files append a 256-color palette: 0x0C + 768 bytes
        if version == 5 and len(data) >= 128 + 769 and data[-769] == 0x0C:
            pal = np.frombuffer(data[-768:], np.uint8).reshape(256, 3)
            return _luma(pal[idx])
        return idx.astype(np.uint8)  # grayscale convention
    if bpp == 1 and planes == 1:
        return (plane_vals(rows[:, 0], 1) * 255).astype(np.uint8)
    if bpp == 1 and planes == 4:
        idx = np.zeros((h, w), np.uint8)
        for c in range(4):  # EGA bit planes, plane 0 = LSB
            idx |= (plane_vals(rows[:, c], 1) << c).astype(np.uint8)
    else:  # 2/4-bit single plane
        idx = plane_vals(rows[:, 0], bpp)
    pal = np.frombuffer(data[16:64], np.uint8).reshape(16, 3)
    return _luma(pal[np.minimum(idx, 15)])


def looks_like_tga(data: bytes) -> bool:
    """TGA has no leading magic — only files carrying the optional
    version-2 footer signature are recognized (reliable; everything
    else would false-positive on random binary)."""
    return (
        len(data) >= 44
        and data[-18:] == b"TRUEVISION-XFILE\x2e\x00"
    )


def decode_tga(data: bytes) -> np.ndarray:
    """(h, w) uint8 luma from a Truevision TGA (version-2 footer
    required — see looks_like_tga): color-mapped / true-color /
    grayscale, uncompressed and RLE (types 1/2/3/9/10/11), 8/15/16/
    24/32-bit pixels, both vertical origins.  32-bit alpha composites
    over white; 15/16-bit is ARGB1555 (the attribute bit ignored)."""
    if not looks_like_tga(data):
        raise ValueError("not a TGA file (no version-2 footer)")
    if len(data) < 18:
        raise ValueError("truncated TGA header")
    id_len = data[0]
    cmap_type = data[1]
    img_type = data[2]
    cm_first, cm_len = struct.unpack("<HH", data[3:7])
    cm_bits = data[7]
    w, h = struct.unpack("<HH", data[12:16])
    px_bits = data[16]
    desc = data[17]
    if w == 0 or h == 0:
        raise ValueError("bad TGA dimensions")
    check_pixel_budget(w, h)
    if img_type not in (1, 2, 3, 9, 10, 11):
        raise NotImplementedError(f"TGA image type {img_type}")
    rle = img_type >= 9
    mapped = img_type in (1, 9)
    gray = img_type in (3, 11)
    if mapped and (cmap_type != 1 or cm_len == 0):
        raise ValueError("color-mapped TGA without a color map")
    if mapped and px_bits != 8:
        raise NotImplementedError(f"{px_bits}-bit TGA palette indices")
    if not mapped and px_bits not in ((8,) if gray else (15, 16, 24, 32)):
        raise NotImplementedError(
            f"{px_bits}-bit TGA {'grayscale' if gray else 'pixels'}"
        )
    bpp = (px_bits + 7) // 8
    pos = 18 + id_len
    cmap = None
    if cmap_type == 1:
        if cm_bits not in (15, 16, 24, 32):
            raise NotImplementedError(f"{cm_bits}-bit TGA color map")
        cm_bytes = (cm_bits + 7) // 8
        raw = data[pos : pos + cm_len * cm_bytes]
        if len(raw) < cm_len * cm_bytes:
            raise ValueError("truncated TGA color map")
        pos += cm_len * cm_bytes
        cmap = np.frombuffer(raw, np.uint8).reshape(cm_len, cm_bytes)

    n_px = w * h
    if rle:
        out = np.empty((n_px, bpp), np.uint8)
        filled = 0
        while filled < n_px:
            if pos >= len(data):
                raise ValueError("truncated TGA RLE stream")
            hdr = data[pos]
            pos += 1
            count = (hdr & 0x7F) + 1
            count = min(count, n_px - filled)
            if hdr & 0x80:  # run packet: one pixel repeated
                px = data[pos : pos + bpp]
                if len(px) < bpp:
                    raise ValueError("truncated TGA RLE stream")
                pos += bpp
                out[filled : filled + count] = np.frombuffer(px, np.uint8)
            else:  # raw packet
                need = count * bpp
                raw = data[pos : pos + need]
                if len(raw) < need:
                    raise ValueError("truncated TGA RLE stream")
                pos += need
                out[filled : filled + count] = np.frombuffer(
                    raw, np.uint8
                ).reshape(count, bpp)
            filled += count
        px_arr = out
    else:
        need = n_px * bpp
        raw = data[pos : pos + need]
        if len(raw) < need:
            raise ValueError("truncated TGA pixel data")
        px_arr = np.frombuffer(raw, np.uint8).reshape(n_px, bpp)

    def to_luma(arr: np.ndarray, bits: int) -> np.ndarray:
        # arr: (n, nbytes) little-endian BGR(A) / ARGB1555 / gray
        if bits == 8:
            return arr[:, 0].astype(np.uint32)
        if bits in (15, 16):
            v = arr[:, 0].astype(np.uint32) | (
                arr[:, 1].astype(np.uint32) << 8
            )
            r = ((v >> 10) & 31) * 255 // 31
            g = ((v >> 5) & 31) * 255 // 31
            b = (v & 31) * 255 // 31
            return (299 * r + 587 * g + 114 * b) // 1000
        b = arr[:, 0].astype(np.uint32)
        g = arr[:, 1].astype(np.uint32)
        r = arr[:, 2].astype(np.uint32)
        luma = (299 * r + 587 * g + 114 * b) // 1000
        if bits == 32:
            a = arr[:, 3].astype(np.uint32)
            if a.any():  # all-zero alpha = no alpha, not invisible
                luma = (luma * a + 255 * (255 - a)) // 255
        return luma

    if mapped:
        idx = px_arr[:, 0].astype(np.int64) - cm_first
        if (idx < 0).any() or (idx >= len(cmap)).any():
            raise ValueError("TGA palette index out of range")
        luma = to_luma(cmap[idx], cm_bits)
    else:
        luma = to_luma(px_arr, px_bits)
    img = luma.reshape(h, w).astype(np.uint8)
    if not desc & 0x20:  # bit 5 clear = bottom-up origin
        img = img[::-1]
    if desc & 0x10:  # bit 4 = right-to-left
        img = img[:, ::-1]
    return img


def looks_like_ico(data: bytes) -> bool:
    """ICONDIR sniff: the \\x00\\x00 (1|2) \\x00 magic is weak, so
    require a plausible entry count and a first directory entry whose
    payload lies inside the buffer."""
    if len(data) < 22 or data[:2] != b"\x00\x00" or data[3] != 0:
        return False
    if data[2] not in (1, 2):
        return False
    (count,) = struct.unpack("<H", data[4:6])
    if not 1 <= count <= 64 or len(data) < 6 + 16 * count:
        return False
    size, off = struct.unpack("<II", data[14:22])
    return size > 0 and off >= 6 + 16 * count and off + size <= len(data)


def decode_ico(data: bytes) -> np.ndarray:
    """(h, w) uint8 luma from an ICO/CUR: pick the best directory
    entry (largest area, then deepest), decode its payload — a whole
    PNG stream, or a headerless BMP DIB whose biHeight doubles for the
    trailing 1-bit AND mask.  Transparency (32-bit alpha and the AND
    mask) composites over WHITE, matching the _luma convention."""
    if not looks_like_ico(data):
        raise ValueError("not an ICO/CUR file")
    (count,) = struct.unpack("<H", data[4:6])
    best = None
    for e in range(count):
        at = 6 + 16 * e
        wb, hb = data[at], data[at + 1]
        w_e, h_e = wb or 256, hb or 256
        (bpp_e,) = struct.unpack("<H", data[at + 6 : at + 8])
        size, off = struct.unpack("<II", data[at + 8 : at + 16])
        if off + size > len(data) or size == 0:
            continue
        key = (w_e * h_e, bpp_e)
        if best is None or key > best[0]:
            best = (key, off, size)
    if best is None:
        raise ValueError("ICO with no decodable directory entry")
    _, off, size = best
    payload = data[off : off + size]
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if len(payload) < 40:
        raise ValueError("truncated ICO DIB")
    (hdr_size,) = struct.unpack("<I", payload[0:4])
    if hdr_size != 40:
        raise NotImplementedError(f"ICO DIB header size {hdr_size}")
    w, h2 = struct.unpack("<ii", payload[4:12])
    planes, bpp = struct.unpack("<HH", payload[12:16])
    (compression,) = struct.unpack("<I", payload[16:20])
    (clr_used,) = struct.unpack("<I", payload[32:36])
    if compression != 0:
        raise NotImplementedError(f"compressed ICO DIB (type {compression})")
    if w <= 0 or h2 <= 0:
        raise ValueError("bad ICO DIB dimensions")
    h = h2 // 2 if h2 % 2 == 0 else h2  # doubled height = XOR + AND mask
    check_pixel_budget(w, h)
    n_pal = (clr_used or (1 << bpp)) if bpp <= 8 else 0
    pix_at = hdr_size + 4 * n_pal
    xor_stride = ((w * bpp + 31) // 32) * 4
    # synthesize a BITMAPINFOHEADER BMP around the XOR image alone
    dib = bytearray(payload[:pix_at])
    dib[8:12] = struct.pack("<i", h)
    pixel_off = 14 + pix_at
    xor_end = pix_at + xor_stride * h
    if len(payload) < xor_end:
        raise ValueError("truncated ICO XOR image")
    bmp = (
        b"BM"
        + struct.pack("<IHHI", pixel_off + xor_stride * h, 0, 0, pixel_off)
        + bytes(dib) + payload[pix_at:xor_end]
    )
    luma = decode_bmp(bmp).astype(np.uint32)
    if bpp == 32:
        # alpha channel: byte 3 of each bottom-up BGRA pixel
        rows = np.frombuffer(
            payload[pix_at:xor_end], dtype=np.uint8
        ).reshape(h, xor_stride)
        a = rows[:, : w * 4].reshape(h, w, 4)[::-1, :, 3].astype(np.uint32)
        if a.any():  # all-zero alpha means "no alpha", not invisible
            luma = (luma * a + 255 * (255 - a)) // 255
    and_stride = ((w + 31) // 32) * 4
    and_end = xor_end + and_stride * h
    if h2 % 2 == 0 and len(payload) >= and_end:
        rows = np.frombuffer(
            payload[xor_end:and_end], dtype=np.uint8
        ).reshape(h, and_stride)
        mask = np.unpackbits(rows, axis=1)[:, :w][::-1]
        luma = np.where(mask == 1, 255, luma)  # transparent -> white
    return luma.astype(np.uint8)


# sniff_format tag -> (module, decoder).  The sibling codec modules are
# imported on first use: they import this module, and a worker that
# never sees a JPEG 2000 never loads jpx.
_DECODERS = {
    "image/png": (".imaging", "decode_png"),
    "image/jpeg": (".jpeg", "decode_jpeg"),
    "image/gif": (".imaging", "decode_gif"),
    "image/bmp": (".imaging", "decode_bmp"),
    "image/tiff": (".tiff", "decode_tiff"),
    "image/jbig2": (".jbig2", "decode_jbig2_embedded"),
    "image/jp2": (".jpx", "decode_jpx"),
    "image/webp": (".webp", "decode_webp"),
    "image/ico": (".imaging", "decode_ico"),
    "image/pnm": (".imaging", "decode_pnm"),
    "image/tga": (".imaging", "decode_tga"),
    "image/pcx": (".imaging", "decode_pcx"),
}


def image_decoder(fmt: str):
    """The ``data -> (h, w) uint8`` decoder for a sniff_format tag;
    NotImplementedError for a tag that is not an image."""
    if fmt not in _DECODERS:
        raise NotImplementedError("no decode path: unrecognized image format")
    module, name = _DECODERS[fmt]
    return getattr(importlib.import_module(module, __package__), name)


def decode_pixels(data: bytes) -> np.ndarray:
    """Decode an image of any format sniff_format tags ``image/*``:
    the tag picks the decoder (``image_decoder``), and the first page
    of a TIFF is read.  Formats without a tag raise NotImplementedError,
    corrupt payloads ValueError (error-as-value upstream)."""
    from .sniff import sniff_format  # sniff imports this module

    return image_decoder(sniff_format(data))(data)


def _frame_luma_alpha(ihdr, plte, idat: bytes):
    """One APNG frame image -> (luma uint8, alpha uint8 or None)."""
    samples, ct, depth = _png_raster(ihdr, idat)
    if ct == 3:
        if plte is None:
            raise ValueError("palette APNG frame without PLTE")
        safe = np.minimum(samples[:, :, 0], len(plte) - 1)
        return _luma(plte[safe]), None
    if depth in (1, 2, 4):
        samples = samples * np.uint8(255 // ((1 << depth) - 1))
    ch = samples.shape[2]
    if ch == 2:
        return samples[:, :, 0], samples[:, :, 1]
    if ch >= 4:
        r, g, b = (samples[:, :, k].astype(np.uint32) for k in range(3))
        return (
            ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8),
            samples[:, :, 3],
        )
    return _luma(samples), None


def demux_apng_frames(data: bytes, max_frames: int = 256):
    """Animated PNG (acTL/fcTL/fdAT, PNG spec third edition) -> list
    of (composed_luma, delay_ms) canvases: per-frame sub-rectangle
    placement, SOURCE/OVER blending (alpha-aware; luma-space OVER
    equals RGB-space-then-luma — both linear), and the three dispose
    ops (none / region-to-transparent / restore-previous; PREVIOUS on
    frame 0 acts as BACKGROUND, per spec).  Output canvases render
    over page white — the module's transparency convention.  If an
    fcTL precedes IDAT the default image is frame 0; otherwise the
    default image is not part of the animation."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = None
    actl = None
    frames: list = []  # [fctl fields, bytearray data]
    cur = None
    seq_expected = 0
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"acTL":
            actl = struct.unpack(">II", body[:8])
        elif tag == b"fcTL":
            if len(body) < 26:
                raise ValueError("truncated fcTL")
            seq, fw, fh, fx, fy, dnum, dden, dispose, blend = struct.unpack(
                ">IIIIIHHBB", body[:26]
            )
            if seq != seq_expected:
                raise ValueError("APNG sequence number out of order")
            seq_expected += 1
            cur = [(fw, fh, fx, fy, dnum, dden, dispose, blend), bytearray()]
            frames.append(cur)
        elif tag == b"fdAT":
            (seq,) = struct.unpack(">I", body[:4])
            if seq != seq_expected:
                raise ValueError("APNG sequence number out of order")
            seq_expected += 1
            if cur is None:
                raise ValueError("fdAT before any fcTL")
            cur[1] += body[4:]
        elif tag == b"IDAT":
            # the default image is frame 0 only when its fcTL came first
            if frames and cur is frames[0]:
                cur[1] += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    if actl is None:
        raise ValueError("PNG without acTL (not animated)")
    w, h = ihdr[0], ihdr[1]
    if w == 0 or h == 0:
        raise ValueError("zero-dimension APNG")
    check_pixel_budget(w, h)
    if actl[0] != len(frames):
        raise ValueError("acTL frame count mismatch")
    if not frames:
        raise ValueError("APNG with no frames")

    canvas_l = np.zeros((h, w), np.float32)
    canvas_a = np.zeros((h, w), np.float32)
    out = []
    for i, (fctl, fdata) in enumerate(frames[:max_frames]):
        fw, fh, fx, fy, dnum, dden, dispose, blend = fctl
        if fw == 0 or fh == 0 or fx + fw > w or fy + fh > h:
            raise ValueError("APNG frame rectangle out of bounds")
        if not fdata:
            raise ValueError("APNG frame without data")
        fl, fa = _frame_luma_alpha((fw, fh) + ihdr[2:], plte, bytes(fdata))
        flf = fl.astype(np.float32)
        faf = (
            np.ones_like(flf) if fa is None
            else fa.astype(np.float32) / 255.0
        )
        if i == 0 and dispose == 2:
            dispose = 1
        region = (slice(fy, fy + fh), slice(fx, fx + fw))
        if dispose == 2:
            sav_l = canvas_l[region].copy()
            sav_a = canvas_a[region].copy()
        if blend == 0 or fa is None:
            canvas_l[region] = flf
            canvas_a[region] = faf
        else:  # OVER
            cl, ca = canvas_l[region], canvas_a[region]
            oa = faf + ca * (1.0 - faf)
            ol = np.where(
                oa > 0,
                (flf * faf + cl * ca * (1.0 - faf)) / np.maximum(oa, 1e-9),
                0.0,
            )
            canvas_l[region] = ol
            canvas_a[region] = oa
        shown = canvas_l * canvas_a + 255.0 * (1.0 - canvas_a)
        delay_ms = int(round(1000.0 * dnum / (dden or 100)))
        out.append(
            (np.clip(np.rint(shown), 0, 255).astype(np.uint8), delay_ms)
        )
        if dispose == 1:
            canvas_a[region] = 0.0
        elif dispose == 2:
            canvas_l[region] = sav_l
            canvas_a[region] = sav_a
    return out


def demux_gif_frames(data: bytes, max_frames: int = 256):
    """Animated GIF -> list of (composed_luma, delay_cs) canvases
    (GIF89a §23/§26): per-frame sub-rectangle placement with binary
    transparency, and the three disposal methods — none/leave,
    restore-to-background (background reads as page white, the same
    convention as the single-frame transparency rule), and
    restore-to-previous.  ``decode_gif`` stays the single-frame
    contract; this is the sample_frames demux."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    if sw == 0 or sh == 0:
        raise ValueError("zero-dimension GIF screen")
    check_pixel_budget(sw, sh)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8)
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n
    n_data = len(data)
    canvas = np.full((sh, sw), 255, np.uint8)
    frames = []
    transparent_idx = None
    delay_cs = 0
    disposal = 0
    while pos < n_data and len(frames) < max_frames:
        block = data[pos]
        if block == 0x21:
            if pos + 7 < n_data and data[pos + 1] == 0xF9 and data[pos + 2] >= 4:
                gce_flags = data[pos + 3]
                disposal = (gce_flags >> 2) & 0x07
                delay_cs = data[pos + 4] | (data[pos + 5] << 8)
                transparent_idx = data[pos + 6] if gce_flags & 0x01 else None
            pos += 2
            while pos < n_data and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:
            if pos + 10 > n_data:
                raise ValueError("truncated GIF image descriptor")
            x, y, w, h, iflags = struct.unpack(
                "<HHHHB", data[pos + 1 : pos + 10]
            )
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8)
                if len(ct) < 3 * n:
                    raise ValueError("truncated GIF local color table")
                ct = ct.reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image without a color table")
            if w == 0 or h == 0 or x + w > sw or y + h > sh:
                raise ValueError("GIF frame outside the logical screen")
            min_code_size = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < n_data and data[pos] != 0:
                ln = data[pos]
                lzw += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(bytes(lzw), min_code_size, w * h)
            if len(idx) < w * h:
                raise ValueError("GIF pixel data short")
            arr = np.frombuffer(bytes(idx[: w * h]), np.uint8).reshape(h, w)
            if iflags & 0x40:
                deinter = np.zeros_like(arr)
                src = 0
                for start, step in _GIF_INTERLACE:
                    for yy in range(start, h, step):
                        deinter[yy] = arr[src]
                        src += 1
                arr = deinter
            luma = _luma(ct[np.minimum(arr, len(ct) - 1)])
            saved = canvas[y : y + h, x : x + w].copy()
            dst = canvas[y : y + h, x : x + w]
            if transparent_idx is not None:
                mask = arr != transparent_idx
                dst[mask] = luma[mask]
            else:
                dst[:] = luma
            frames.append((canvas.copy(), delay_cs))
            if disposal == 2:  # restore to background (page white)
                canvas[y : y + h, x : x + w] = 255
            elif disposal == 3:  # restore to previous
                canvas[y : y + h, x : x + w] = saved
            transparent_idx = None
            delay_cs = 0
            disposal = 0
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames
