"""Multimodal column plumbing — binary payloads with typed metadata.

Images/audio/video ride as opaque ``binary`` columns next to a typed
metadata struct, exactly like ``html binary`` in the pages table.  The
Spark-side plumbing here is REAL and tested — schemas, Arrow batch
shapes, ``mapInPandas`` iterator protocol, error-as-value rows.

The image path is the extraction engine's: extract/sniff.sniff_format
names every image format (``decode_media_meta`` reads each kind's
header dimensions; only audio and AVIF/HEIC are recognized here),
``extract_features`` and ``resize_images`` decode through
extract/imaging.decode_pixels, ``sample_frames`` demuxes by the same
tag, and ``ocr_images`` is extract/ocr.image_text with the built-in
recognizer — the step the fused UDF runs on image rows, so both give
the same text for the same bytes.  Video demuxing stays behind a
clearly-marked stub plug point where ffmpeg would slot in.

Batch-shape contract for the real thing: ``mapInPandas`` receives an
iterator of pandas DataFrames, one per Arrow batch; plans/session.get_spark
bounds a batch by bytes (``spark.sql.execution.arrow.maxBytesPerBatch``,
1 MiB, closed after the row that crosses it) and Spark by rows (10k), so a
batch is at most 1 MiB plus one row.  Heavy decoders process
batch-by-batch so peak memory is one batch of decoded frames, not one
partition.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extract.imaging import (
    decode_pixels,
    demux_apng_frames,
    demux_gif_frames,
    encode_png_gray,
)
from ..extract.ocr import image_text, ocr_pixels
from ..extract.sniff import sniff_format

MEDIA_META_SCHEMA = (
    "kind string, width int, height int, n_bytes int, codec string, error string"
)

FEATURE_SCHEMA = "media_id long, embedding array<float>, error string"


def _isobmff_ispe_dims(data: bytes) -> tuple[int, int] | None:
    """Scan ISOBMFF boxes for the first 'ispe' (image spatial extents)
    property — dims of AVIF/HEIC stills without any codec decode.
    Flat scan with sane bounds: the box tree nests, but 'ispe' has a
    fixed 20-byte layout that a container-order walk always crosses."""
    i, n = 0, min(len(data), 1 << 20)
    while i + 8 <= n:
        size = int.from_bytes(data[i : i + 4], "big")
        box = data[i + 4 : i + 8]
        if box == b"ispe" and i + 20 <= n:
            w = int.from_bytes(data[i + 12 : i + 16], "big")
            h = int.from_bytes(data[i + 16 : i + 20], "big")
            if 0 < w < (1 << 24) and 0 < h < (1 << 24):
                return w, h
        # descend into known container boxes; skip leaf boxes whole
        if box in (b"meta", b"iprp", b"ipco"):
            # 'meta' is a FullBox (4 bytes version/flags)
            i += 12 if box == b"meta" else 8
        elif size >= 8:
            i += size
        else:
            i += 8
    return None


def sniff_image_dims(data: bytes) -> tuple[str, int | None, int | None, str | None]:
    """(kind, width, height, error) from real header bytes, stdlib only.
    Audio and AVIF/HEIC, which the engine does not sniff, are checked
    here first; every other kind is extract/sniff.sniff_format's
    ``image/<kind>`` tag, and the dimensions are read from that kind's
    header."""
    try:
        if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
            # audio rides the same binary column: no dims; a WAV is
            # recognized (error=None -> codec set) only if its fmt
            # chunk parses, so corrupt containers become error rows
            i = 12
            while i + 8 <= len(data):
                cid = data[i : i + 4]
                (sz,) = struct.unpack("<I", data[i + 4 : i + 8])
                if cid == b"fmt " and i + 16 <= len(data):
                    return "wav", None, None, None
                i += 8 + sz + (sz & 1)
            return "wav", None, None, "no fmt chunk"
        if data[:4] == b"fLaC":
            return "flac", None, None, None
        if data[:4] == b"OggS":
            return "ogg", None, None, None
        if data[:3] == b"ID3":
            return "mp3", None, None, None
        if len(data) >= 12 and data[4:8] == b"ftyp":
            brand = data[8:12]
            if brand in (b"avif", b"avis", b"heic", b"heix", b"mif1"):
                kind = "avif" if brand.startswith(b"avi") else "heic"
                dims = _isobmff_ispe_dims(data)
                if dims:
                    return kind, dims[0], dims[1], None
                return kind, None, None, "no ispe box"
        kind = sniff_format(data).removeprefix("image/")
        if kind == "png":
            w, h = struct.unpack(">II", data[16:24])
            return "png", w, h, None
        if kind == "jpeg":
            i, n = 2, len(data)
            while i + 9 < n:
                if data[i] != 0xFF:
                    i += 1
                    continue
                marker = data[i + 1]
                # every SOFn (Huffman, arithmetic, differential,
                # hierarchical) carries the same P/Y/X header layout;
                # 0xC4/C8/CC are DHT/JPG/DAC, not frames.  DHP (0xDE)
                # shares the layout and precedes every frame in a
                # hierarchical stream — it carries the FULL image size
                # (the first frame SOF is the small pyramid base)
                if marker == 0xDE or (
                    0xC0 <= marker <= 0xCF
                    and marker not in (0xC4, 0xC8, 0xCC)
                ):
                    h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                    if h == 0:
                        # B.2.5: zero-height frame — the line count is
                        # in the DNL segment after the first scan (the
                        # byte pattern cannot occur inside entropy
                        # data: 0xFF is always stuffed or a RST there)
                        d = data.find(b"\xff\xdc\x00\x04", i + 9)
                        if d >= 0 and d + 6 <= n:
                            (h,) = struct.unpack(
                                ">H", data[d + 4 : d + 6]
                            )
                    return "jpeg", w, h, None
                seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
                i += 2 + seg_len
            return "jpeg", None, None, "no SOF marker"
        if kind == "gif":
            w, h = struct.unpack("<HH", data[6:10])
            return "gif", w, h, None
        if kind == "bmp":
            w, h = struct.unpack("<ii", data[18:26])
            return "bmp", w, abs(h), None
        if kind == "webp":
            # all three WebP flavors carry dims without full decode
            fourcc = data[12:16]
            if fourcc == b"VP8X" and len(data) >= 30:
                w = int.from_bytes(data[24:27], "little") + 1
                h = int.from_bytes(data[27:30], "little") + 1
                return "webp", w, h, None
            if fourcc == b"VP8L" and len(data) >= 25 and data[20] == 0x2F:
                bits = int.from_bytes(data[21:25], "little")
                return "webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, None
            if fourcc == b"VP8 " and len(data) >= 30 and data[23:26] == b"\x9d\x01\x2a":
                w = int.from_bytes(data[26:28], "little") & 0x3FFF
                h = int.from_bytes(data[28:30], "little") & 0x3FFF
                return "webp", w, h, None
            return "webp", None, None, "unrecognized WebP chunk layout"
        if kind == "jp2":
            # JPEG 2000: dims live in the SIZ segment, which directly
            # follows SOC at the start of the codestream — anchor to
            # the jp2c box / SOC so a stray \xff\x51 byte pair inside a
            # metadata box (XML/UUID) can't fake dimensions (r5, ADVICE)
            if data[:2] == b"\xff\x4f":
                i = 2
            else:
                j = data.find(b"jp2c\xff\x4f\xff\x51")
                i = j + 6 if j >= 0 else -1
            if i >= 0 and i + 22 <= len(data) and data[i : i + 2] == b"\xff\x51":
                # marker(2) Lsiz(2) Rsiz(2) then Xsiz/Ysiz/XOsiz/YOsiz;
                # the image area is [XOsiz,Xsiz)x[YOsiz,Ysiz) (B.3)
                xs, ys, xog, yog = struct.unpack(
                    ">IIII", data[i + 6 : i + 22]
                )
                return "jp2", xs - xog, ys - yog, None
            return "jp2", None, None, "no SIZ segment"
        if kind == "jbig2":
            # standalone JBIG2: dims live in the first page-info
            # segment; a light segment walk finds it (r4)
            try:
                from ..extract.jbig2 import _segments_of

                for seg in _segments_of(data):
                    if seg.type == 48 and len(seg.data) >= 8:
                        w, h = struct.unpack(">II", seg.data[:8])
                        return "jbig2", w, h, None
                return "jbig2", None, None, "no page information segment"
            except (ValueError, NotImplementedError) as exc:
                return "jbig2", None, None, str(exc)
        if kind == "tiff":
            from ..extract.tiff import _TAG_HEIGHT, _TAG_WIDTH, _read_ifd

            e = "<" if data[:2] == b"II" else ">"
            tags = _read_ifd(data, e)
            w = tags.get(_TAG_WIDTH, [None])[0]
            h = tags.get(_TAG_HEIGHT, [None])[0]
            if w is None or h is None:
                return "tiff", None, None, "IFD missing dimensions"
            return "tiff", w, h, None
        if kind == "pnm":
            # netpbm: width/height are the first two header tokens
            import re as _re

            body = data[2:256]
            body = _re.sub(rb"#[^\r\n]*", b"", body)
            toks = _re.findall(rb"\d+", body)[:2]
            if len(toks) == 2:
                return "pnm", int(toks[0]), int(toks[1]), None
            return "pnm", None, None, "truncated PNM header"
        if kind == "pcx":
            x0, y0, x1, y1 = struct.unpack("<HHHH", data[4:12])
            return "pcx", x1 - x0 + 1, y1 - y0 + 1, None
        if kind == "tga":
            w, h = struct.unpack("<HH", data[12:16])
            return "tga", w, h, None
        if kind == "ico":
            (count,) = struct.unpack("<H", data[4:6])
            best = (0, None, None)
            for e in range(count):
                at = 6 + 16 * e
                w = data[at] or 256
                h = data[at + 1] or 256
                if w * h > best[0]:
                    best = (w * h, w, h)
            return "ico", best[1], best[2], None
        return "unknown", None, None, "unrecognized magic"
    except Exception as exc:
        return "corrupt", None, None, f"header parse error: {type(exc).__name__}"


def decode_media_meta(df: DataFrame, bytes_col: str = "media") -> DataFrame:
    """Append a typed metadata struct parsed from the binary column."""
    from pyspark.sql.functions import pandas_udf

    def meta(series: pd.Series) -> pd.DataFrame:
        rows = []
        for b in series:
            if b is None or len(b) == 0:
                rows.append(("empty", None, None, 0, None, "empty payload"))
                continue
            kind, w, h, err = sniff_image_dims(bytes(b))
            rows.append((kind, w, h, len(b), kind if err is None else None, err))
        return pd.DataFrame(
            rows, columns=["kind", "width", "height", "n_bytes", "codec", "error"]
        )

    meta_udf = pandas_udf(meta, MEDIA_META_SCHEMA)
    return df.withColumn("meta", meta_udf(F.col(bytes_col)))


# --- feature extraction (REAL decode of every sniffed image format) -----------

def extract_features(
    df: DataFrame,
    id_col: str = "media_id",
    bytes_col: str = "media",
    dim: int = 16,
) -> DataFrame:
    """mapInPandas feature extraction: binary → embedding array<float>.

    Error-as-value: undecodable rows carry (null embedding, error) and
    never fail the job (D3 semantics)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:  # one pandas frame per Arrow batch
            ids, embs, errs = [], [], []
            for mid, data in zip(pdf[id_col], pdf[bytes_col]):
                ids.append(mid)
                try:
                    px = decode_pixels(bytes(data))
                    hist = np.histogram(px, bins=dim, range=(0, 256))[0]
                    v = hist.astype(np.float32)
                    n = np.linalg.norm(v)
                    embs.append((v / n if n else v).tolist())
                    errs.append(None)
                except NotImplementedError as exc:
                    embs.append(None)
                    errs.append(str(exc))
                except Exception as exc:
                    embs.append(None)
                    errs.append(f"decode failed: {type(exc).__name__}")
            yield pd.DataFrame(
                {"media_id": ids, "embedding": embs, "error": errs}
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


# --- resize (real resampling math over decoded pixels) ------------------------

RESIZE_SCHEMA = (
    "media_id long, pixels binary, width int, height int, error string"
)


def resize_images(
    df: DataFrame,
    target_w: int = 4,
    target_h: int = 4,
    id_col: str = "media_id",
    bytes_col: str = "media",
) -> DataFrame:
    """Nearest-neighbor resize over mapInPandas batches.

    The RESAMPLING is real (index-grid gather over the decoded pixel
    array), and so is the decode (extract/imaging.decode_pixels);
    undecodable rows become error-as-value.  Output pixels ride as raw
    row-major bytes + dimensions, the same opaque-binary-plus-typed-
    metadata shape the rest of the pipeline uses.  Error-as-value."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, outs, ws, hs, errs = [], [], [], [], []
            for mid, data in zip(pdf[id_col], pdf[bytes_col]):
                ids.append(mid)
                try:
                    px = decode_pixels(bytes(data))
                    h, w = px.shape
                    yi = (np.arange(target_h) * h) // target_h
                    xi = (np.arange(target_w) * w) // target_w
                    resized = px[yi[:, None], xi[None, :]]
                    outs.append(resized.tobytes())
                    ws.append(target_w)
                    hs.append(target_h)
                    errs.append(None)
                except NotImplementedError as exc:
                    outs.append(None); ws.append(None); hs.append(None)
                    errs.append(str(exc))
                except Exception as exc:
                    outs.append(None); ws.append(None); hs.append(None)
                    errs.append(f"decode failed: {type(exc).__name__}")
            yield pd.DataFrame(
                {"media_id": ids, "pixels": outs, "width": ws,
                 "height": hs, "error": errs}
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        run, schema=RESIZE_SCHEMA
    )


# --- OCR over decoded pixels (REAL engine: bitmap-font template match) ---------

OCR_SCHEMA = "media_id long, text string, error string"


def ocr_images(
    df: DataFrame,
    id_col: str = "media_id",
    bytes_col: str = "media",
) -> DataFrame:
    """mapInPandas OCR: binary image → recognized text, error-as-value.

    One image, one call, as the reference's tesseract call
    (lib/image_processor.js:49): extract/ocr.image_text with the REAL
    built-in recognizer ``ocr_pixels`` — the fused UDF's image step
    (every TIFF page, EXIF orientation, 'OCR error: …' values).  Scale
    shape: map-only, one Python worker pass, peak memory one Arrow
    batch of decoded pages."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, texts, errs = [], [], []
            for mid, data in zip(pdf[id_col], pdf[bytes_col]):
                ids.append(mid)
                data = bytes(data or b"")
                text, err = image_text(data, sniff_format(data), ocr_pixels)
                texts.append(text)
                errs.append(err)
            yield pd.DataFrame({"media_id": ids, "text": texts, "error": errs})

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        run, schema=OCR_SCHEMA
    )


# --- video frame sampling (real fan-out plumbing, stubbed demuxer) -------------

FRAME_SCHEMA = "media_id long, frame_idx int, frame binary, error string"

_FAKE_FRAME_BYTES = 256  # stub demuxer: fixed-size frame chunks


def _demux_frames_stub(data: bytes) -> list[bytes]:
    """PLUG POINT: replace with an ffmpeg/pyav demuxer.  Deterministic
    fake: the payload is chunked into fixed-size 'frames' so the
    sampling/fan-out plumbing is exercised with stable outputs."""
    if not data:
        raise NotImplementedError("empty payload")
    return [
        bytes(data[i : i + _FAKE_FRAME_BYTES])
        for i in range(0, len(data), _FAKE_FRAME_BYTES)
    ]


def _demux_frames(data: bytes) -> list[bytes]:
    """Real demux, by sniff_format tag, where the codecs exist natively:
    animated WebP composes each frame (VP8/VP8L + ALPH, blend/dispose
    rules), GIF and APNG likewise, each yielding PNG-gray-encoded
    canvases — decodable frame bytes, not raw chunks.  Other payloads
    keep the deterministic stub (the ffmpeg swap stays config-only at
    this seam)."""
    fmt = sniff_format(data)
    if fmt == "image/webp":
        from ..extract.webp import demux_webp_frames

        return [
            encode_png_gray(luma) for luma, _dur in demux_webp_frames(data)
        ]
    if fmt == "image/gif":
        return [
            encode_png_gray(luma) for luma, _dur in demux_gif_frames(data)
        ]
    if fmt == "image/png" and b"acTL" in bytes(data[:256]):
        # animated PNG (r5): acTL must precede IDAT, so it sits in the
        # first chunks; static PNGs keep the deterministic stub
        return [
            encode_png_gray(luma) for luma, _dur in demux_apng_frames(data)
        ]
    return _demux_frames_stub(data)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    id_col: str = "media_id",
    bytes_col: str = "media",
) -> DataFrame:
    """Evenly-spaced frame sampling: one INPUT row fans out to up to
    ``n_frames`` OUTPUT rows (mapInPandas yielding more rows than it
    receives — the batch-shape contract a real video pipeline needs).
    Index selection is the real part: ``floor(i * total / n)`` for i in
    [0, n), deduplicated, in order; the demuxer is the stub.  A video
    with fewer frames than requested yields all of them.  Error rows
    fan out to a single (frame_idx = -1, frame = null) row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames, errs = [], [], [], []
            for mid, data in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    all_frames = _demux_frames(bytes(data) if data is not None else b"")
                    total = len(all_frames)
                    picks = sorted({(i * total) // n_frames for i in range(n_frames)})
                    for fi in picks:
                        if fi >= total:
                            continue
                        ids.append(mid); idxs.append(fi)
                        frames.append(all_frames[fi]); errs.append(None)
                except NotImplementedError as exc:
                    ids.append(mid); idxs.append(-1)
                    frames.append(None); errs.append(str(exc))
                except Exception as exc:
                    ids.append(mid); idxs.append(-1)
                    frames.append(None)
                    errs.append(f"demux failed: {type(exc).__name__}")
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames, "error": errs}
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        run, schema=FRAME_SCHEMA
    )
