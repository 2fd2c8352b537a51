"""Differential check: the working tree's fused UDF body vs the same body at
a git revision.

This tool needs only git: it unpacks the whole package as of
``<base-ref>`` (``git archive``; ``functions/udfs`` imports ``extract/``
and ``parsers/``) into a temporary directory and runs it in a child
process.  Both sides run ``build_process_udf(...).func`` over the same
batches, and every full output row (``format``, ``extracted_text``,
``error``, ``amount``, ``date``, ``spans``, ``extra``) is compared, for
each combination of

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
codec and variant, so the hook reaches every decoder), ``render_text``
PNGs and diff_pdf_base's raster PDFs.

Usage: python tools/diff_udf_base.py <base-ref> [n_rows]
(default 100000 rows per combination) -> exits non-zero on any mismatch
or exception.
"""

from __future__ import annotations

import itertools
import pickle
import random
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


def inputs(n: int) -> tuple[list, list]:
    from __spark_entry__ import _multimodal_media
    from diff_pdf_base import raster
    from receipt_scanner_spark.extract.imaging import encode_png_gray
    from receipt_scanner_spark.extract.ocr import render_text
    from receipt_scanner_spark.sources.pages import generate_pages

    rng = random.Random(11)
    k = max(2, n // 50)
    html = [bytes(m) for _, m in _multimodal_media()][:k]
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


def batches(html: list, text: list):
    """Yield (combo, rows) per batch of each combination, from the
    package first on ``sys.path``."""
    import pandas as pd

    from receipt_scanner_spark.extract.ocr import ocr_pixels
    from receipt_scanner_spark.functions.udfs import build_process_udf

    for profile, cascade, ocr in COMBOS:
        body = build_process_udf(CASCADES[cascade], profile=profile,
                                 ocr_arrays=ocr_pixels if ocr else None).func
        for i in range(0, len(html), BATCH):
            out = body(pd.Series(html[i:i + BATCH], dtype=object),
                       pd.Series(text[i:i + BATCH], dtype=object))
            yield (profile, cascade, ocr), list(out.itertuples(index=False, name=None))


def side(root: str, inputs_path: str) -> None:
    """Child process: run the package under ``root``, pickle each batch's
    rows to stdout."""
    sys.path.insert(0, root)
    from receipt_scanner_spark.functions import udfs

    assert Path(udfs.__file__).resolve().is_relative_to(Path(root).resolve()), udfs.__file__
    with open(inputs_path, "rb") as fh:
        html, text = pickle.load(fh)
    out = sys.stdout.buffer
    for item in batches(html, text):
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
            for combo, got in batches(html, text):
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
