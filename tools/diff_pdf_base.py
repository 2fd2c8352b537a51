"""Differential check: the working tree's PDF branch vs the same branch at
a git revision.

This tool needs only git: it loads every ``extract/*.py`` module as of
``<base-ref>`` (``git show``; the subpackage imports nothing outside
itself) into a temporary package and compares, PDF by PDF, the
``PdfResult`` (text and error, or the type of an exception) of

* ``process_pdf(pdf)``: no OCR hook;
* ``process_pdf(pdf, ocr_arrays=ocr_pixels)``: each side's own
  bitmap-font recognizer.

Inputs: ``generate_pages`` PDFs from several seeds; blank-text PDFs whose
images hold ``render_text`` receipts (raw, Flate, ASCIIHex+Flate and RGB
8-bit samples, 1-bit samples with and without ``/Decode [1 0]``, inline
images) and ``make_pdf`` blank PDFs with 0-4 images; any
PDF files or directories named on the command line; and copies of all of
these truncated, with a filter inserted into a stream dictionary, with
stream bytes flipped, or spliced (the head of one PDF on the tail of
another).

Usage: python tools/diff_pdf_base.py <base-ref> [n_pdfs] [pdf file or dir ...]
(default 20000 PDFs) -> exits non-zero on any mismatch.
"""

from __future__ import annotations

import random
import re
import subprocess
import sys
import tempfile
import zlib
from collections import Counter
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from _gitbase import load_base  # noqa: E402

FILTERS = (
    b"FlateDecode", b"LZWDecode", b"ASCIIHexDecode", b"ASCII85Decode",
    b"RunLengthDecode", b"DCTDecode", b"CCITTFaxDecode", b"JBIG2Decode",
    b"JPXDecode", b"Crypt",
)


# --- inputs -------------------------------------------------------------------

def generated(seeds=(1, 2, 3), n_rows=4000) -> list[bytes]:
    from receipt_scanner_spark.extract.sniff import maybe_gunzip, sniff_format
    from receipt_scanner_spark.sources.pages import generate_pages

    out = []
    for seed in seeds:
        pages, _ = generate_pages(n_rows=n_rows, seed=seed)
        for h in pages.html:
            data = maybe_gunzip(h)
            if sniff_format(data) == "pdf":
                out.append(bytes(data))
    return out


def _pdf(objs: list[bytes]) -> bytes:
    body = b"".join(b"%d 0 obj\n%s\nendobj\n" % (i + 1, o) for i, o in enumerate(objs))
    return b"%PDF-1.4\n" + body + b"trailer\n<< /Size %d >>\n%%%%EOF\n" % (len(objs) + 1)


def _stream(header: bytes, body: bytes) -> bytes:
    return b"<< %s /Length %d >>\nstream\n%s\nendstream" % (header, len(body), body)


def _image(rng: random.Random, px: np.ndarray) -> bytes:
    h, w = px.shape
    size = b"/Subtype /Image /Width %d /Height %d" % (w, h)
    gray = size + b" /BitsPerComponent 8 /ColorSpace /DeviceGray"
    ink = px < 128
    kind = rng.randrange(7)
    if kind == 0:
        return _stream(gray, px.tobytes())
    if kind == 1:
        return _stream(gray + b" /Filter /FlateDecode", zlib.compress(px.tobytes()))
    if kind == 2:
        return _stream(gray + b" /Filter [/ASCIIHexDecode /FlateDecode]",
                       zlib.compress(px.tobytes()).hex().encode() + b">")
    if kind == 3:
        rgb = np.repeat(px[:, :, None], 3, axis=2)
        return _stream(size + b" /BitsPerComponent 8 /ColorSpace /DeviceRGB"
                       b" /Filter /FlateDecode", zlib.compress(rgb.tobytes()))
    if kind == 4:
        return _stream(size + b" /BitsPerComponent 1 /ColorSpace /DeviceGray",
                       np.packbits(~ink, axis=1).tobytes())
    if kind == 5:
        return _stream(size + b" /BitsPerComponent 1 /ColorSpace /DeviceGray"
                       b" /Decode [1 0]", np.packbits(ink, axis=1).tobytes())
    content = b"q BI /W %d /H %d /BPC 8 /CS /G ID %s EI Q" % (w, h, px.tobytes())
    return _stream(b"", content)


def raster(rng: random.Random, n: int) -> list[bytes]:
    from receipt_scanner_spark.extract.ocr import render_text
    from receipt_scanner_spark.sources.pages import make_pdf

    out = [make_pdf([], blank=True, with_image=k) for k in range(5)]
    while len(out) < n:
        objs = [_stream(b"", b"BT ET")] if rng.random() < 0.5 else []
        for _ in range(rng.randrange(1, 4)):
            text = rng.choice(("TOTAL $%d.%02d", "PAID %d.%02d\nTHANK YOU",
                               "RECEIPT %d\nAMOUNT $%02d"))
            px = render_text(text % (rng.randrange(1000), rng.randrange(100)),
                             scale=rng.choice((1, 2)))
            objs.append(_image(rng, px))
        out.append(_pdf(objs))
    return out


def files(paths: list[str]) -> list[bytes]:
    out = []
    for p in map(Path, paths):
        for f in sorted(p.rglob("*.pdf")) if p.is_dir() else [p]:
            out.append(f.read_bytes())
    return out


def mutated(rng: random.Random, pool: list[bytes], n: int) -> list[bytes]:
    out = []
    while len(out) < n:
        pdf = rng.choice(pool)
        op = rng.randrange(4)
        if op == 0:  # truncated
            pdf = pdf[: rng.randrange(5, max(6, len(pdf)))]
        elif op == 1:  # a filter inserted into a stream dictionary
            spots = [m.start() for m in re.finditer(rb"/Length", pdf)]
            if spots:
                i = rng.choice(spots)
                pdf = pdf[:i] + b"/Filter /" + rng.choice(FILTERS) + b" " + pdf[i:]
        elif op == 2:  # stream bytes flipped
            spots = [m.end() for m in re.finditer(rb"stream\r?\n", pdf)]
            if spots:
                b = bytearray(pdf)
                start = rng.choice(spots)
                for _ in range(rng.randrange(1, 4)):
                    i = min(len(b) - 1, start + rng.randrange(64))
                    b[i] ^= 1 << rng.randrange(8)
                pdf = bytes(b)
        else:  # spliced
            other = rng.choice(pool)
            pdf = pdf[: rng.randrange(len(pdf) + 1)] + other[rng.randrange(len(other) + 1):]
        out.append(pdf)
    return out


# --- comparison ---------------------------------------------------------------

def outcome(process_pdf, pdf: bytes, **kw) -> tuple:
    try:
        return tuple(process_pdf(pdf, **kw))
    except Exception as exc:
        return ("raised", type(exc).__name__)


def compare(pdfs: list[bytes], base, new) -> Counter:
    c: Counter = Counter()
    for pdf in pdfs:
        for mode, b_kw, n_kw in (
            ("no_hook", {}, {}),
            ("ocr_arrays", {"ocr_arrays": base["ocr"].ocr_pixels},
             {"ocr_arrays": new["ocr"].ocr_pixels}),
        ):
            got = outcome(new["pdf"].process_pdf, pdf, **n_kw)
            want = outcome(base["pdf"].process_pdf, pdf, **b_kw)
            c[f"{mode} mismatch"] += got != want
            c[f"{mode} {'text' if got[1] is None else got[1][:28]}"] += 1
    return c


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    ref = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000

    from receipt_scanner_spark.extract import ocr, pdf

    rng = random.Random(7)
    pool = generated() + files(sys.argv[3:])
    pool += raster(rng, max(40, n // 10))
    rng.shuffle(pool)
    pdfs = pool[:n] + mutated(rng, pool, max(0, n - len(pool)))
    names = subprocess.run(
        ["git", "ls-tree", "--name-only", ref, "receipt_scanner_spark/extract/"],
        cwd=ROOT, capture_output=True, check=True, text=True,
    ).stdout.split()
    modules = [Path(f).stem for f in names if f.endswith(".py")]
    with tempfile.TemporaryDirectory() as tmp:
        base = load_base(ref, "extract", modules, Path(tmp))
        c = compare(pdfs, base, {"pdf": pdf, "ocr": ocr})
    for key in sorted(c):
        print(f"{key:40s} {c[key]}")
    bad = c["no_hook mismatch"] + c["ocr_arrays mismatch"]
    print("FAIL" if bad else "OK", f"({bad} mismatching results over {len(pdfs)} PDFs)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
