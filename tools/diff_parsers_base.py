"""Differential check: the working tree's amount and date parsers vs the
same parsers at a git revision.

The reference oracles (tools/diff_amount_oracle.py,
tools/diff_date_repair_oracle.py) need the reference implementation on
disk.  This tool needs only git: it loads ``parsers/{amount,date,jsws}.py``
as of ``<base-ref>`` (``git show``) into a temporary package and compares,
text by text, the full outputs of

* ``parse_amount`` with the default cascade and with ``{"parsers": ["largest"]}``
  (winning match and every match: currency, value, text, span);
* amount ``prepare_text`` under both separator profiles;
* ``parse_date`` with the ``earliest`` and ``first`` extractors (winning
  date and every match: index, text, date);
* date ``prepare_text``.

Inputs: ``generate_pages`` web texts from several seeds, the amount
oracle's fuzz texts (``diff_amount_oracle.gen_texts``) and random splices
of whitespace (BOM, NEL, U+3000, ...), long s, dotless/dotted i, ordinal
signs, parentheses, currency codes, month names and date forms.

One difference is designed: a month name's three-letter stem matches
ASCII letters only.  Python's re.IGNORECASE folds U+017F (long s) onto
``s`` and U+0130/U+0131 onto ``i``, so an older revision matched
``ſep``/``dıc`` as month names and then raised ``KeyError``.  A date
mismatch counts as designed when the older revision, given the text with
each such stem letter replaced by U+212A (a word character that folds to
``k`` and so can be no month letter), agrees with the working tree on the
same replacement.  Texts on which the older revision raises are counted
apart; the working tree must not raise on any text.

Usage: python tools/diff_parsers_base.py <base-ref> [n_texts]
(default 120000 texts) -> exits non-zero on any mismatch or exception.
"""

from __future__ import annotations

import math
import random
import re
import sys
import tempfile
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from _gitbase import load_base  # noqa: E402

MODULES = ("amount", "date", "jsws")

# Stand-in for a non-ASCII letter in a month stem (see module docstring).
STAND_IN = "\u212a"
# The stem letters the designed difference is about: the long s of "Sep",
# the dotless/dotted i of "Dic".
_FOLDED_STEM_LETTER = re.compile("\u017f(?=[Ee][Pp])|(?<=[Dd])[\u0130\u0131](?=[Cc])")


# --- inputs -------------------------------------------------------------------

WS = [" ", "\u2028", "  ", "\t", "\n", "\r\n", "\ufeff", "\x85", "\u3000", "\xa0",
      "\u2003", "\x1c", ""]
MONTHS = ["Jan", "January", "feb", "FEBRUARY", "Mar", "march", "Apr", "April",
          "May", "mayo", "Jun", "June", "Jul", "julio", "Aug", "August", "Sep",
          "Sept", "September", "septiembre", "Oct", "octubre", "Nov", "November",
          "Dec", "December", "Ene", "enero", "Abr", "abril", "Ago", "agosto",
          "Dic", "diciembre", "Mar.", "sep.", "Dic."]
EXOTIC_MONTHS = ["ſep", "ſeptember", "ſeptiembre", "Dıc", "dİc", "DIC", "Dıciembre",
                 "Aprıl", "Abrıl", "Auguſt", "Septıembre", "ſept", "İan"]
DATES = ["2016-01-02", "1/2/16", "3-4-2016", "2016/05/06", "Mar 5 2016",
         "5 Mar 2016", "15 Dic 2016", "May 20, 2016", "12-30-16", "30.12.16",
         "2016-01-02T03:04:05", "2016-02-04T20:25:01Z", "May-05-2016",
         "Mar/05/2016", "04|06|2016", "4'06'2016", "Mar30'2016", "30June2016",
         "2016-02-01T23;59|41", "5th of May 2016", "1º de enero de 2017",
         "0000-01-02", "0/5/2016", "31/02/2016", "2016-13-01", "T12;30;45"]
AMOUNTS = ["$5.00", "(5.00)", "(1,234.56)", "5,00", "(5,00)", "1.234,56",
           "0.99", ".5", "(0.12)", "$1.00 $2.00", "100", "$100", "€5.280,00",
           "(5280.00)", "1,234,567.00", "¥1,000", "₩5", "＄7.5", "0", "0.00"]
WORDS = ["Total", "total due", "Balance Due", "TOTAL:", "Subtotal", "x", "a",
         "de", "del", "of", "th", "st", "º", "ª", "°", "T", "t", "(", ")", "-",
         "/", ".", ",", "'", "|", ";", ":", "–", "—", "‒", "﹘", "#", "ı", "İ",
         "ſ", "Date:", "paid", "ſt", "ST", "Nd", "OF", "De", "DEL", "tOtAl",
         "BALANCE DUE", "market", "suenen", "_"]


def splice_texts(n: int, seed: int, codes: tuple[str, ...]) -> list[str]:
    rng = random.Random(seed)

    def code() -> str:
        c = rng.choice(codes)
        return rng.choice([c, c.lower(), c.title(), c.replace("S", "ſ"),
                           c.replace("I", "ı"), c.lower().replace("i", "İ")])

    pools = [WS, MONTHS, EXOTIC_MONTHS, DATES, AMOUNTS, WORDS]
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(1, 24)):
            r = rng.random()
            if r < 0.1:
                parts.append(code() + rng.choice(["", " "]) + rng.choice(AMOUNTS))
            elif r < 0.2:
                parts.append(str(rng.randint(0, 3000)))
            else:
                parts.append(rng.choice(rng.choice(pools)))
            parts.append(rng.choice(WS))
        out.append("".join(parts))
    return out


def web_texts(seeds) -> list[str]:
    from receipt_scanner_spark.sources.pages import generate_pages

    out = []
    for seed in seeds:
        _, goldens = generate_pages(1500, seed=seed)
        out += [t for t in goldens["extracted_text"] if t is not None]
    return out


# --- comparison ---------------------------------------------------------------

def _num(x: float):
    return "NaN" if isinstance(x, float) and math.isnan(x) else x


def amount_outputs(A, text: str):
    out = []
    for config in (None, {"parsers": ["largest"]}):
        r = A.parse_amount(text, config)
        out.append((r["match"], [tuple(_num(v) for v in m) for m in r["matches"]]))
    out.append(A.prepare_text(text, ".", ","))
    out.append(A.prepare_text(text, ",", "."))
    return out


def date_outputs(D, text: str):
    out = []
    for extractor in ("earliest", "first"):
        r = D.parse_date(text, {"parser": extractor})
        out.append((r["match"], [tuple(m) for m in r["matches"]]))
    out.append(D.prepare_text(text))
    return out


def stand_in(text: str) -> str:
    """Replace each non-ASCII month-stem letter by STAND_IN."""
    return _FOLDED_STEM_LETTER.sub(STAND_IN, text)


def stand_in_outputs(outputs):
    """Apply ``stand_in`` to every string inside a date_outputs value."""
    if isinstance(outputs, str):
        return stand_in(outputs)
    if isinstance(outputs, (list, tuple)):
        return type(outputs)(stand_in_outputs(o) for o in outputs)
    return outputs


def compare(families, base, new) -> Counter:
    (bA, bD), (nA, nD) = base, new
    c: Counter = Counter()
    shown = 0

    def show(msg: str) -> None:  # the first ten problems only
        nonlocal shown
        if shown < 10:
            shown += 1
            print(msg)

    for family, texts in families:
        for text in texts:
            c["texts"] += 1
            c[f"texts.{family}"] += 1
            for kind, b_mod, n_mod, outputs in (
                ("amount", bA, nA, amount_outputs),
                ("date", bD, nD, date_outputs),
            ):
                try:
                    got = outputs(n_mod, text)
                except Exception as exc:  # the working tree must never raise
                    c[f"{kind}.new_raised"] += 1
                    show(f"NEW RAISED {kind} {type(exc).__name__}: {text!r}")
                    continue
                try:
                    want = outputs(b_mod, text)
                except Exception:
                    want = None
                    c[f"{kind}.base_raised"] += 1
                if want == got:
                    c[f"{kind}.same"] += 1
                    continue
                designed = False
                if kind == "date" and STAND_IN not in text:
                    t2 = stand_in(text)
                    try:
                        designed = t2 != text and outputs(b_mod, t2) == stand_in_outputs(got)
                    except Exception:
                        designed = False
                if designed:
                    c[f"{kind}.designed" + ("_base_raised" if want is None else "")] += 1
                elif want is not None:
                    c[f"{kind}.mismatch"] += 1
                    show(f"MISMATCH {kind}: {text!r}\n  base {want!r}\n  new  {got!r}")
                else:
                    c[f"{kind}.base_raised_unexplained"] += 1
                    show(f"BASE RAISED, NOT DESIGNED {kind}: {text!r}\n  new {got!r}")
    return c


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    ref = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 120_000

    from diff_amount_oracle import gen_texts

    from receipt_scanner_spark.parsers import amount as nA
    from receipt_scanner_spark.parsers import date as nD

    n_web = max(1, n // 6)
    web = web_texts(range(1, 1 + math.ceil(n_web / 1450)))[:n_web]
    n_fuzz = (n - len(web)) // 2
    families = [
        ("web", web),
        ("amount_fuzz", gen_texts(n_fuzz, seed=7)),
        ("splice", splice_texts(n - len(web) - n_fuzz, 11, nA._ISO_CODES)),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        mods = load_base(ref, "parsers", MODULES, Path(tmp))
        base = (mods["amount"], mods["date"])
        c = compare(families, base, (nA, nD))
    for key in sorted(c):
        print(f"{key:36s} {c[key]}")
    bad = sum(v for k, v in c.items()
              if k.endswith(("mismatch", "new_raised", "base_raised_unexplained")))
    print("FAIL" if bad else "OK", f"({bad} mismatching or raising texts)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
