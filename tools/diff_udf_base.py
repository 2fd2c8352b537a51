"""Differential check: the working tree's fused UDF body vs the same body at
a git revision.

This tool needs only git: it unpacks the whole package as of
``<base-ref>`` (``git archive``; ``functions/udfs`` imports ``extract/``
and ``parsers/``) into a temporary directory and runs it in a child
process.  Both sides run ``build_process_udf(...).func`` over the same
batches: the working tree as Spark calls it (``pa.Array`` columns in,
``StructArray`` out), the base on ``pd.Series`` columns.  Every full
output row (``format``, ``extracted_text``, ``error``, ``amount``,
``date``, ``spans``, ``extra``) is compared, for each combination of

* profile: ``default``, ``lenient``, ``aggressive``, ``raw``;
* cascade: the default; ``["amount", "date", "merchant", "tax_id"]``;
  ``[("amount", {"parsers": ["largest"]}), ("date", {"parser": "first"})]``;
* OCR hook: none, or ``ocr_arrays=ocr_pixels`` (each side's own).

A row whose ``error`` starts with ``internal error`` on either side is
counted as an exception (the body's row guard caught one); the
``errors`` column counts the working tree's rows with any error value
(the OCR hook turns most ``OCR not configured`` rows into text).

Inputs: ``generate_pages`` rows (``html`` and ``text``) of seeds 1-3,
whose image rows carry upstream OCR text and whose PDFs hold no images;
so 2% of the rows are receipts the OCR hook can read, without ``text``:
the image fixtures of ``__spark_entry__``'s multimodal entry (one per
codec and variant, so the hook reaches every decoder), payloads at the
edges of the weak-magic checks (``weak_magic``), ``render_text`` PNGs
and diff_pdf_base's raster PDFs.

Usage: python tools/diff_udf_base.py <base-ref> [n_rows]
(default 100000 rows per combination) -> exits non-zero on any mismatch
or exception.
"""

from __future__ import annotations

import itertools
import pickle
import random
import struct
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

PROFILES = ("default", "lenient", "aggressive", "raw")
CASCADES = {
    "default": None,
    "four": ["amount", "date", "merchant", "tax_id"],
    "configured": [("amount", {"parsers": ["largest"]}), ("date", {"parser": "first"})],
}
COMBOS = list(itertools.product(PROFILES, CASCADES, (False, True)))
BATCH = 2000
COLUMNS = ("format", "extracted_text", "error", "amount", "date", "spans", "extra")


def weak_magic(media: list[bytes]) -> list[bytes]:
    """Payloads at the edges of the weak-magic checks
    (``extract/imaging.looks_like_{bmp,ico,pnm,pcx}``): the fixture
    BMP with nonzero reserved words and bad DIB sizes or pixel offsets,
    text that starts with each weak magic, and each fixture's header cut
    short at every field boundary the checks read."""
    bmp = next(m for m in media if m[:2] == b"BM")
    ico = next(m for m in media if m[:4] == b"\x00\x00\x01\x00")
    pnm = next(m for m in media if m[:1] == b"P")
    pcx = next(m for m in media if m[:1] == b"\n")
    out = [bmp[:6] + reserved + bmp[10:]
           for reserved in (b"\x01\x00\x00\x00", b"\x00\x00\x01\x00", b"GIMP", b"\xff" * 4)]
    out += [bmp[:10] + struct.pack("<I", off) + bmp[14:] for off in (len(bmp), len(bmp) + 1)]
    out += [bmp[:14] + struct.pack("<I", dib) + bmp[18:] for dib in (0, 12, 39, 41, 124, 125)]
    body = b"I report 2016: TOTAL $12.50 paid on 2016-03-04 at the corner shop. " * 3
    for magic in (b"BM", b"BMI ", b"BM\x00\x00\x00\x00", b"BM" + bytes(12) + b"\x28\x00\x00\x00",
                  b"\x00\x00\x01\x00", b"\x00\x00\x02\x00\x01\x00", b"P1 ", b"P2 2016 ",
                  b"P5\n", b"P6 4 4 255\n", b"\n", b"\n\x05\x01\x08"):
        out += [magic + body[:40], magic + body]
    out += [b"P2 2 2 255\n1 2 3 4", b"P5 4 4 255\n" + bytes(15), b"P5 4 4 255\n" + bytes(16)]
    for m in (bmp, ico, pnm, pcx):
        cuts = (2, 3, 4, 6, 10, 13, 14, 17, 18, 21, 22, 25, 26, 54, 128, 129,
                len(m) // 2, len(m) - 1)
        out += [m[:c] for c in sorted(set(cuts)) if c < len(m)]
    return out


def inputs(n: int) -> tuple[list, list]:
    from __spark_entry__ import _multimodal_media
    from diff_pdf_base import raster
    from receipt_scanner_spark.extract.imaging import encode_png_gray
    from receipt_scanner_spark.extract.ocr import render_text
    from receipt_scanner_spark.sources.pages import generate_pages

    rng = random.Random(11)
    k = max(2, n // 50)
    media = [bytes(m) for _, m in _multimodal_media()]
    html = (media + weak_magic(media))[:k]
    html += raster(rng, k // 2)[: max(0, k // 2 - len(html))]
    while len(html) < k:
        receipt = "TOTAL $%d.%02d\nDATE 2016-%02d-%02d" % (
            rng.randrange(1000), rng.randrange(100), rng.randrange(1, 13), rng.randrange(1, 29))
        html.append(encode_png_gray(render_text(receipt, scale=rng.choice((1, 2)))))
    text = [None] * k
    for seed in (1, 2, 3):
        pages, _ = generate_pages(n_rows=-(-(n - k) // 3), seed=seed)
        html += list(pages.html)
        text += [None if t is None or t != t else t for t in pages.text]
    return html[:n], text[:n]


def batches(html: list, text: list, arrow: bool):
    """Yield (combo, rows) per batch of each combination, from the
    package first on ``sys.path``.  ``arrow``: call the body as Spark
    does, on ``pa.Array`` columns, and read the rows of the
    ``StructArray`` it returns; else on ``pd.Series`` columns (every
    revision's body takes these)."""
    import pandas as pd
    import pyarrow as pa

    from receipt_scanner_spark.extract.ocr import ocr_pixels
    from receipt_scanner_spark.functions.udfs import build_process_udf

    for profile, cascade, ocr in COMBOS:
        body = build_process_udf(CASCADES[cascade], profile=profile,
                                 ocr_arrays=ocr_pixels if ocr else None).func
        for i in range(0, len(html), BATCH):
            h, t = html[i:i + BATCH], text[i:i + BATCH]
            if arrow:
                out = body(pa.array(h, pa.binary()), pa.array(t, pa.string()))
                rows = [tuple(dict(v) if c == "extra" and v is not None else v
                              for c, v in r.items()) for r in out.to_pylist()]
            else:
                out = body(pd.Series(h, dtype=object), pd.Series(t, dtype=object))
                rows = list(out.itertuples(index=False, name=None))
            yield (profile, cascade, ocr), rows


def side(root: str, inputs_path: str) -> None:
    """Child process: run the package under ``root``, pickle each batch's
    rows to stdout."""
    sys.path.insert(0, root)
    from receipt_scanner_spark.functions import udfs

    assert Path(udfs.__file__).resolve().is_relative_to(Path(root).resolve()), udfs.__file__
    with open(inputs_path, "rb") as fh:
        html, text = pickle.load(fh)
    out = sys.stdout.buffer
    for item in batches(html, text, arrow=False):
        pickle.dump(item, out, protocol=pickle.HIGHEST_PROTOCOL)
        out.flush()


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--side":
        side(sys.argv[2], sys.argv[3])
        return 0
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    ref = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    sys.path.insert(0, str(ROOT))

    html, text = inputs(n)
    stats = {c: [0, 0, 0, 0] for c in COMBOS}  # rows, mismatches, exceptions, errors
    shown = 0
    with tempfile.TemporaryDirectory() as tmp:
        archive = subprocess.run(["git", "archive", ref, "receipt_scanner_spark"],
                                 cwd=ROOT, capture_output=True, check=True).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        inputs_path = Path(tmp) / "inputs.pkl"
        with open(inputs_path, "wb") as fh:
            pickle.dump((html, text), fh, protocol=pickle.HIGHEST_PROTOCOL)
        child = subprocess.Popen(
            [sys.executable, __file__, "--side", tmp, str(inputs_path)],
            cwd=tmp, stdout=subprocess.PIPE,
        )
        try:
            for combo, got in batches(html, text, arrow=True):
                base_combo, want = pickle.load(child.stdout)
                assert base_combo == combo, (base_combo, combo)
                s = stats[combo]
                s[0] += len(got)
                for g, w in zip(got, want):
                    s[2] += any(str(r[2]).startswith("internal error") for r in (g, w))
                    s[3] += g[2] is not None
                    if g != w:
                        s[1] += 1
                        if shown < 3:
                            shown += 1
                            print(f"MISMATCH {combo}")
                            for col, wf, gf in zip(COLUMNS, w, g):
                                if wf != gf:
                                    print(f"  {col}\n    base: {wf!r:.400}\n    tree: {gf!r:.400}")
                s[1] += abs(len(got) - len(want))
        finally:
            child.stdout.close()
            rc = child.wait()
    if rc:
        print(f"base side exited with status {rc}")
    print(f"{'profile':11s} {'cascade':11s} {'ocr':5s} {'rows':>8s} {'mismatch':>9s}"
          f" {'exceptions':>10s} {'errors':>7s}")
    for (profile, cascade, ocr), (rows, bad, exc, err) in stats.items():
        print(f"{profile:11s} {cascade:11s} {str(ocr):5s} {rows:8d} {bad:9d} {exc:10d} {err:7d}")
    bad = sum(s[1] for s in stats.values())
    exc = sum(s[2] for s in stats.values())
    rows = sum(s[0] for s in stats.values())
    failed = bad or exc or rc
    print("FAIL" if failed else "OK",
          f"({bad} mismatching rows, {exc} exceptions over {rows} rows,"
          f" {len(COMBOS)} combinations)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
