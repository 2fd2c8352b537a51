r"""Differential oracle for the date REPAIR stage: our
``parsers.date.prepare_text`` vs the ACTUAL reference ``prepareText``
(date_parser.js:34-91).

The reference module requires chrono-node only INSIDE ``chrono()`` —
module load and ``prepareText`` are dependency-free, so the rewrite
chain runs directly under the system node with zero stubs.  (The full
six-parser grammar still has no node oracle — chrono-node is not
installable — and stays pinned by spec goldens + the consuming-boundary
twin property suite, tests/test_date_properties.py.)

The corpus is seeded-random compositions exercising every rewrite and
its boundaries: unicode dashes + the literal '/' in the hyphen class
(so slashes round-trip '/'→'-'→'/' through repairs (a)+(b)), dd?mm?yyyy
with 1-2 junk separator chars, MMMdd yyyy and ddMMM yyyy with EN/ES
month names in mixed case and 0-2/1-2 junk chars, Thh;ii;ss, 2-digit vs
4-digit years, [0-3]?[0-9] day-digit edges (39 matches, 40 splits),
year edges (0999 no, 1000 yes), the (^|\s) left anchor and (?=$|\s)
lookahead (JS $ = absolute end, no multiline), adjacent dates sharing
one separator space, and exotic whitespace (NBSP,  , ﻿) where
JS \s and Python \s could disagree.

Usage: python tools/diff_date_repair_oracle.py [n_texts]  (default
25000) -> exits non-zero on any byte mismatch.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import tempfile

sys.path.insert(0, ".")

NODE_SNIPPET = """
const dp = require('/root/reference/lib/text_parser/date_parser');
const texts = JSON.parse(require('fs').readFileSync(process.argv[2], 'utf8'));
process.stdout.write(JSON.stringify(texts.map(t => dp.prepareText(t))));
"""

MONTHS_EN = ["Jan", "January", "Jan.", "Feb", "February", "Mar", "March",
             "Apr", "April", "May", "Jun", "June", "Jul", "July", "Aug",
             "August", "Sep", "September", "Oct", "October", "Nov",
             "November", "Dec", "December"]
MONTHS_ES = ["Ene", "Enero", "Ene.", "Febrero", "Marzo", "Abr", "Abril",
             "Mayo", "Junio", "Julio", "Ago", "Agosto", "Sep.",
             "Septiembre", "Octubre", "Noviembre", "Dic", "Diciembre"]
JUNK = ["'", "\\", '"', "#", "-", "_", ";", ":", ",", ".", "~", "|", "*",
        "''", "--", ".,", "#:", " ", "  "]
DAYS = ["0", "1", "01", "5", "15", "29", "30", "31", "39", "3", "40", "00"]
YEARS = ["2016", "1999", "1000", "9999", "0999", "16", "86", "123", "20167"]
HH = ["00", "09", "12", "19", "23", "24", "25", "1"]
MS = ["00", "30", "59", "60", "5"]
DASHES = ["–", "—", "‒", "﹘", "/", "-"]
WS = [" ", "  ", "\t", "\n", "\r\n", " ", " ", "﻿", "　"]
NOISE = ["total 5.00", "receipt", "x", "Mayo", "T12", "2016", "31", "a1b",
         "invoice #42", "date:", ""]

# Every spec example from date_parser.js comments, plus known edges.
PINNED = [
    "01'01'2016", "Jan01 2016", "01Jan 2016", "T12;45;59",
    "3/4/2020", "3-4-2020", "a–b ﹘c 3/4/2020",
    "01'01'2016 02'02'2017", "Jan.01.2016", "May 5 2016", "May. 5 2016",
    "01--01--2016", "01'''01'2016", "40'01'2016", "01'40'2016",
    "01'01'0999", "01'01'20167", "x01'01'2016", "01'01'2016x",
    "01'01'2016\n", "01'01'2016 ", "\n01'01'2016", "T24;00;00x",
    "aT12;45;59", "t12;45;59", "T12;45;59 T13;46;58",
    "Dic-15-2016", "15-Dic-2016", "ENERO 5 2016", "5 de Mayo de 2016",
    "sEpTiEmBrE#5#2016", "May2016", "May 2016", "1 May 16",
    "01/01/2016", "2016-01-01",
]


def gen_texts(n: int, seed: int = 20260817) -> list[str]:
    rng = random.Random(seed)

    def date_frag() -> str:
        r = rng.random()
        if r < 0.30:  # numeric dd?mm?yyyy
            return (rng.choice(DAYS) + rng.choice(JUNK) + rng.choice(DAYS)
                    + rng.choice(JUNK) + rng.choice(YEARS))
        if r < 0.50:  # MMM dd yyyy with 0-2 junk
            m = rng.choice(MONTHS_EN + MONTHS_ES)
            j1 = rng.choice(JUNK + [""])
            return (m + j1 + rng.choice(DAYS) + rng.choice(JUNK)
                    + rng.choice(YEARS))
        if r < 0.70:  # dd MMM yyyy
            m = rng.choice(MONTHS_EN + MONTHS_ES)
            return (rng.choice(DAYS) + rng.choice(JUNK) + m
                    + rng.choice(JUNK) + rng.choice(YEARS))
        if r < 0.85:  # Thh;ii;ss
            return ("T" if rng.random() < 0.8 else "t") + rng.choice(HH) \
                + rng.choice(JUNK)[:1] + rng.choice(MS) \
                + rng.choice(JUNK)[:1] + rng.choice(MS)
        # dash soup
        return rng.choice(DASHES).join(
            rng.choice(DAYS + YEARS + NOISE) for _ in range(rng.randint(2, 4))
        )

    texts = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(1, 5)):
            parts.append(date_frag() if rng.random() < 0.75 else rng.choice(NOISE))
        sep = rng.choice(WS)
        t = sep.join(parts)
        if rng.random() < 0.25:
            t = rng.choice(WS) + t
        if rng.random() < 0.25:
            t = t + rng.choice(WS)
        texts.append(t)
    return PINNED + texts


def corpus_texts(n_rows: int = 2000) -> list[str]:
    """Realistic-shape corpus: the EXTRACTED text of the deterministic
    synthetic pages (what the date parser actually receives in the
    pipeline), plus each page's raw golden date string."""
    from receipt_scanner_spark.functions.udfs import extract_row
    from receipt_scanner_spark.sources.pages import generate_pages

    pages, goldens = generate_pages(n_rows=n_rows, seed=42)
    out = []
    for r in pages.itertuples(index=False):
        html = bytes(r.html) if r.html is not None and not isinstance(r.html, bytes) else r.html
        _fmt, txt, _err = extract_row(html, r.text)
        if txt:
            out.append(txt)
    out.extend(str(d) for d in goldens["date"] if d is not None)
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 25_000
    from receipt_scanner_spark.parsers.date import prepare_text

    texts = gen_texts(n)
    if "--corpus" in sys.argv:
        texts = texts + corpus_texts()
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(texts, f)
        texts_path = f.name
    with tempfile.NamedTemporaryFile("w", suffix=".js", delete=False) as f:
        f.write(NODE_SNIPPET)
        js_path = f.name
    try:
        oracle = json.loads(
            subprocess.run(["node", js_path, texts_path], capture_output=True,
                           check=True, text=True).stdout
        )
    finally:
        os.unlink(texts_path)
        os.unlink(js_path)

    mismatches = 0
    for t, o in zip(texts, oracle):
        mine = prepare_text(t)
        if mine != o:
            mismatches += 1
            if mismatches <= 10:
                print(f"MISMATCH on {t!r:.120}")
                print("  ref :", repr(o)[:200])
                print("  mine:", repr(mine)[:200])
    print(f"{len(texts)} texts, {mismatches} mismatches")
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
