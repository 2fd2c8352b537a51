"""Date parser — pure Python, no Spark.

Semantics re-derived from the reference
(/root/reference/lib/text_parser/date_parser.js:1-149,
 lib/text_parser/date/earliest.js, lib/text_parser/date/first.js) and
pinned by tests/test_date_parser.py (a re-encoding of
test/lib/text_parser/date_parser_spec.js).

The reference delegates scanning to chrono-node configured with exactly
six parsers and NO default refiners, plus a certainty filter (year,
month, day all explicit; day != 0).  We own an equivalent ordered regex
grammar built test-first against the spec file: every form it emits has
an explicit year+month+day, so the certainty filter is structural.

Pinned behaviors:

* ``prepare_text`` repair rewrites run in source order
  (date_parser.js:36-91): unicode hyphens AND forward slashes → ``-``
  first, then the junk-separated numeric form re-inserts ``/``.
* two-digit years: > 50 → 1900s, else 2000s (chrono 1.x imputation;
  spec: ``12-30-16`` → 2016-12-30).
* slash dates prefer month-first (US); month > 12 swaps with day when
  the day slot holds a valid month (``30-12-16`` → 2016-12-30).
* out-of-range day/month rolls over like a JS ``Date`` constructor
  (month 0 → December of prior year) rather than raising.
* results are ordered by (index in text, parser order) — chrono sorts
  by index (stable), which `first` extraction depends on.
* date value is the calendar date directly (no timezone dependency);
  the reference's ``toISOString().slice(0,10)`` on a local-noon Date is
  day-stable for |TZ| < 12h, so this is equivalent.

Deliberate divergence (documented): our boundary assertions are
non-consuming lookarounds where chrono consumes the leading/trailing
non-word char.  Acceptance is identical; in rare adjacent-date texts we
can find strictly more dates than chrono (never fewer).

Known sub-nuance inside that divergence (no oracle available —
chrono-node is not installable): the GRAMMAR regexes below use Python
``\\s``/``\\w``, which differ from a JS engine's at the margins (BOM is
JS-\\s only; U+001C-1F/U+0085 are Python-\\s only; Python ``\\w`` is
Unicode-aware where JS's is ASCII).  The REPAIR stage above does use
the exact ECMA-262 class (parsers/jsws.py) because it has a node
differential oracle (tools/diff_date_repair_oracle.py) — the grammar
stays pinned by the spec goldens + tests/test_date_properties.py
instead, and only non-ASCII-exotic-whitespace adjacency is affected.

Prefix rule (speed, not semantics): every regex on the parse path starts
with a character class holding no re.I-cased letter, so CPython's ``re``
skips in C to the next candidate start (tests/test_parser_prefix.py):

* repairs (b)-(d) write the reference's ``(^|\\s)`` as ``[\\s]`` and run
  over ``" " + text``; the sentinel space at 0 stands in for ``^``;
* digit-led grammar patterns open with ``[0-9]`` and assert the word
  boundary one character later, ``(?<!\\w.)`` (_BOUNDARY);
* month names open with their first letter as an ASCII case pair
  outside re.I, ``(?-i:[JjFf…])``, then dispatch on it (_month_names).

The five digit-led patterns are matched only where one candidate scan
(_DIGIT_LED_SCANS) finds that at least one of them can match, instead of
each walking every digit of the text; the matches are those of five full
scans (tests/test_date_properties.py).

Designed no-match: a month name's three-letter stem is ASCII.  Python's
re.I folds U+017F (long s) onto ``s`` and U+0130/U+0131 onto ``i``, so
``ſep`` or ``dıc`` used to match and then fail the month lookup with a
KeyError.  They match nothing now, as under ECMA-262 ``/i`` without
``u`` (no code point >= 128 folds onto ASCII); letters after the stem
still fold (``Aprıl 5, 2016`` is April 5).
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import NamedTuple


class DateMatch(NamedTuple):
    index: int  # position of the match in the (prepared) text
    text: str  # matched substring
    date: _dt.date


# --- month-name machinery ---------------------------------------------------

# EN + ES month names, as in date_parser.js:29-33, one branch each in
# source order.  Every branch opens with its three-letter stem.
_MONTHS_EN = (
    r"Jan(?:uary|\.)?", r"Feb(?:ruary|\.)?", r"Mar(?:ch|\.)?", r"Apr(?:il|\.)?",
    r"May", r"Jun(?:e|\.)?", r"Jul(?:y|\.)?", r"Aug(?:ust|\.)?",
    r"Sep(?:tember|\.)?", r"Oct(?:ober|\.)?", r"Nov(?:ember|\.)?",
    r"Dec(?:ember|\.)?",
)
_MONTHS_ES = (
    r"Ene(?:ro|\.)?", r"Feb(?:rero|\.)?", r"Mar(?:zo|\.)?", r"Abr(?:il|\.)?",
    r"May(?:o|\.)?", r"Jun(?:io|\.)?", r"Jul(?:io|\.)?", r"Ago(?:sto|\.)?",
    r"Sep(?:tiembre|\.)?", r"Oct(?:ubre|\.)?", r"Nov(?:iembre|\.)?",
    r"Dic(?:iembre|\.)?",
)

# ASCII letters that Python's re.IGNORECASE also matches with a non-ASCII
# code point: U+0130/U+0131 -> i, U+212A (Kelvin) -> k, U+017F (long s) -> s.
_NON_ASCII_FOLDS = "iks"


def _month_names(branches: tuple[str, ...], after_first: str = "") -> str:
    r"""One capture group matching any of ``branches`` (an alternation in
    source order), shaped so that it starts with a character class:

        ((?-i:[JjFf…])<after_first>(?:(?<=[Jj])(?:an…|un…|ul…)|(?<=[Ff])(?:eb…)|…))

    The first letter is an explicit ASCII case pair outside re.I and the
    lookbehinds dispatch on it, keeping branch order within each letter
    (branches with different first letters exclude each other).  The whole
    three-letter stem is ASCII: a stem letter in _NON_ASCII_FOLDS is a case
    pair outside re.I too.  Letters after the stem still fold under re.I.
    ``after_first`` goes right after the first letter (the grammar's
    ``(?<!\w.)`` boundary).  Before the dispatch, one lookahead tests the
    next two letters against every stem's second and third letter, which
    turns most words away before the per-letter lookbehinds run."""
    groups: dict[str, list[str]] = {}
    for b in branches:
        stem = "".join(
            f"(?-i:[{c.upper()}{c}])" if c in _NON_ASCII_FOLDS else c for c in b[1:3]
        )
        groups.setdefault(b[0].lower(), []).append(stem + b[3:])
    first = "".join(c.upper() + c for c in groups)
    pairs = "|".join(sorted({
        "".join(f"[{c}{c.upper()}]" for c in b[1:3].lower()) for b in branches
    }))
    dispatch = "|".join(
        f"(?<=[{c.upper()}{c}])(?:{'|'.join(rest)})" for c, rest in groups.items()
    )
    return f"((?-i:[{first}]){after_first}(?=(?-i:{pairs}))(?:{dispatch}))"


# EN + ES month names as one capture group (repairs (c) and (d)).
MONTH_NAME_REGEXP = _month_names(_MONTHS_EN + _MONTHS_ES)

_MONTH_NUM = {
    "jan": 1, "feb": 2, "mar": 3, "apr": 4, "may": 5, "jun": 6,
    "jul": 7, "aug": 8, "sep": 9, "oct": 10, "nov": 11, "dec": 12,
    # ES
    "ene": 1, "abr": 4, "ago": 8, "dic": 12, "set": 9,
}


def _month_num(name: str) -> int:
    return _MONTH_NUM[name[:3].lower()]


def js_date(year: int, month: int, day: int) -> _dt.date:
    """``new Date(year, month-1, day)`` semantics: out-of-range month or
    day rolls over instead of raising."""
    y = year + (month - 1) // 12
    m = (month - 1) % 12 + 1
    return _dt.date(y, m, 1) + _dt.timedelta(days=day - 1)


def _impute_year(y: int) -> int:
    # chrono 1.x two-digit-year rule.
    if y < 100:
        return y + 1900 if y > 50 else y + 2000
    return y


# --- repair rewrites (prepare_text) ------------------------------------------

# JS \s, spelled out: ECMA-262 WhiteSpace + LineTerminator.  It differs
# from Python's \s in BOTH directions — JS includes U+FEFF (BOM), which
# Python does not, and Python includes U+001C-001F and U+0085, which JS
# does not.  The reference's (^|\s) / (?=$|\s) repair anchors therefore
# fire across a BOM where Python \s would not (found by
# tools/diff_date_repair_oracle.py: 1506/25036 texts diverged before
# this class; 0 after).  The class itself is shared: parsers/jsws.py.
from .jsws import JS_WS as _JS_WS  # noqa: E402

# (a) incorrectly scanned hyphens: unicode dashes AND forward slash → '-'
#     (the '/' inside the JS char class at date_parser.js:38 is literal).
_RE_HYPHENS = re.compile("[–—‒﹘/]")

# (b)-(d) scan ``" " + text``: the reference's leading ``(^|\s)`` becomes
# ``[\s]`` (a class the engine can skip to), the sentinel space at 0
# stands in for ``^``, and group 1 re-emits it until _repair strips it.

# (b) dd?mm?yyyy with 1-2 junk separator chars → dd/mm/yyyy.
#     [^a-z0-9] under JS 'i' excludes both cases → [^a-zA-Z0-9].
_RE_NUMERIC_JUNK = re.compile(
    rf"([{_JS_WS}])"
    r"(?:([0-3]{0,1}[0-9])[^a-zA-Z0-9]{1,2})"
    r"(?:([0-3]{0,1}[0-9])[^a-zA-Z0-9]{1,2})"
    r"([1-9][0-9]{3})"
    rf"(?=\Z|[{_JS_WS}])"
)

# (c) MMMdd yyyy → MMM dd yyyy
_RE_MONTH_FIRST_JUNK = re.compile(
    rf"([{_JS_WS}])"
    r"(?:" + MONTH_NAME_REGEXP + r"[^a-zA-Z0-9]{0,2})"
    r"(?:([0-3]{0,1}[0-9])[^a-zA-Z0-9]{1,2})"
    r"([1-9][0-9]{3})"
    rf"(?=\Z|[{_JS_WS}])",
    re.IGNORECASE,
)

# (d) ddMMM yyyy → dd MMM yyyy
_RE_DAY_FIRST_JUNK = re.compile(
    rf"([{_JS_WS}])"
    r"(?:([0-3]{0,1}[0-9])[^a-zA-Z0-9]{1,2})"
    r"(?:" + MONTH_NAME_REGEXP + r"[^a-zA-Z0-9]{1,2})"
    r"([1-9][0-9]{3})"
    rf"(?=\Z|[{_JS_WS}])",
    re.IGNORECASE,
)

# (e) Thh;ii;ss → Thh:ii:ss (T matched case-insensitively, emitted as 'T').
_RE_TIME_JUNK = re.compile(
    r"[Tt]([0-1][0-9]|2[0-4])"
    r"[^a-zA-Z0-9]"
    r"([0-5][0-9])"
    r"[^a-zA-Z0-9]"
    r"([0-5][0-9])"
    rf"(?=\Z|[{_JS_WS}])"
)


# Three-letter stems that every branch of the month alternations starts
# with (ASCII, either case).  A text containing NO stem cannot match any
# month-name pattern, so those scans are skipped — a pure optimization:
# substring presence is necessary for a match, and the repairs never add,
# remove or separate letters, so one check on the raw text serves both
# the repairs and the scan.
_STEMS_EN = ("jan", "feb", "mar", "apr", "may", "jun",
             "jul", "aug", "sep", "oct", "nov", "dec")
_STEMS_ES_ONLY = ("ene", "abr", "ago", "dic")


def _month_gates(text: str) -> tuple[bool, bool]:
    """(an EN stem occurs, an EN or ES stem occurs)."""
    low = text.lower()
    en = any(s in low for s in _STEMS_EN)
    return en, en or any(s in low for s in _STEMS_ES_ONLY)


# Replacements as functions: a ``\1`` template string costs a Python-level
# template lookup on every sub() call, match or not.
def _slashed(m: re.Match) -> str:
    return f"{m[1]}{m[2]}/{m[3]}/{m[4]}"


def _spaced(m: re.Match) -> str:
    return f"{m[1]}{m[2]} {m[3]} {m[4]}"


def _timed(m: re.Match) -> str:
    return f"T{m[1]}:{m[2]}:{m[3]}"


def _repair(text: str, months: bool) -> str:
    text = " " + _RE_HYPHENS.sub("-", text)
    text = _RE_NUMERIC_JUNK.sub(_slashed, text)
    if months:
        text = _RE_MONTH_FIRST_JUNK.sub(_spaced, text)
        text = _RE_DAY_FIRST_JUNK.sub(_spaced, text)
    return _RE_TIME_JUNK.sub(_timed, text[1:])


def prepare_text(text: str) -> str:
    """OCR-noise repair chain, in reference source order (date_parser.js:36-91)."""
    return _repair(text, _month_gates(text)[1])


# --- the six-parser grammar ---------------------------------------------------

# Every pattern opens with its first character's class (a digit, or a
# month's ASCII first letter) and asserts the leading word boundary right
# after it: ``(?<!\w.)`` there is ``(?<!\w)`` one character to the left.
# At position 0 the width-2 lookbehind cannot match, so it passes, as
# ``(?<!\w)`` does.  _BOUNDARY is the one spelling of that assertion.
_BOUNDARY = r"(?<!\w.)"


def _digit_led(head: str, tail: str) -> str:
    """A pattern that opens with a digit at a word boundary; group 1 is
    that digit plus ``head``, ``tail`` is the rest."""
    return "([0-9]" + _BOUNDARY + head + ")" + tail


# 1. EN ISO: yyyy-MM-dd with optional Thh:mm:ss(.ms)(Z|±hh:mm)
_ISO = (
    r"[0-9]{3}",
    r"-([0-9]{1,2})-([0-9]{1,2})"
    r"(?:[Tt]([0-9]{1,2}):([0-9]{1,2})"
    r"(?::([0-9]{1,2})(?:\.(\d{1,4}))?)?"
    r"(?:Z|([+-]\d{2}):?(\d{2})?)?"
    r")?"
    r"(?!\w)",
    re.IGNORECASE,
)

# 2. EN slash: (m)m/(d)d/yy(yy) with separators / - . ; month-first with swap.
#    Year REQUIRED here (yearless forms are uncertain → filtered anyway).
_SLASH = (
    r"[0-9]?",
    r"[/.\-]([0-9]{1,2})[/.\-]([0-9]{4}|[0-9]{2})"
    r"(?!\w)",
    0,
)

# 3. EN slash starting with year: yyyy/(m)m/(d)d (slash or dot; the hyphen
#    form is the ISO parser's).
_SLASH_YEAR_FIRST = (
    r"[0-9]{3}",
    r"[/.]([0-9]{1,2})[/.]([0-9]{1,2})"
    r"(?!\w)",
    0,
)

# 4. EN month-name middle-endian: Mar 30 2016 / March 5, 2016 / Mar-05-2016.
#    Year required (else uncertain); year separator must be non-empty so
#    'May 2016' does not parse as May 20, year 16.
_P_MIDDLE = re.compile(
    _month_names(_MONTHS_EN, _BOUNDARY)
    + r"(?:-|/|\s*,?\s*)"
    r"([0-9]{1,2})(?:st|nd|rd|th)?"
    r"(?:-|/|\s*,\s*|\s+)"
    r"([0-9]{4}|[0-9]{1,2})"
    r"(?!\w)",
    re.IGNORECASE,
)

# 5. EN month-name little-endian: 30 June 2016 / 30-June-2016 / 5th of May 2016.
_LITTLE = (
    r"[0-9]?",
    r"(?:st|nd|rd|th)?"
    r"(?:-|/|\s*(?:of)?\s*)"
    + _month_names(_MONTHS_EN)
    + r"(?:-|/|\s*,\s*|\s+)"
    r"([0-9]{4}|[0-9]{1,2})"
    r"(?!\w)",
    re.IGNORECASE,
)

# 6. ES month-name little-endian: 15 Dic 2016 / 15 de Diciembre de 2016.
_ES_LITTLE = (
    r"[0-9]?",
    r"(?:º|ª|°)?"
    r"(?:\s*(?:de|,|-)\s*|\s+|-|/)"
    + _month_names(_MONTHS_ES)
    + r"(?:\s*(?:del|de|,|-)\s*|\s+|-|/)"
    r"([0-9]{4}|[0-9]{2})"
    r"(?!\w)",
    re.IGNORECASE,
)

_P_ISO, _P_SLASH, _P_SLASH_YEAR_FIRST, _P_LITTLE, _P_ES_LITTLE = (
    re.compile(_digit_led(head, tail), flags)
    for head, tail, flags in (_ISO, _SLASH, _SLASH_YEAR_FIRST, _LITTLE, _ES_LITTLE)
)


def _extract_iso(m: re.Match) -> tuple[int, int, int] | None:
    y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if mo < 1 or mo > 12 or d < 1 or d > 31:
        return None
    return (y, mo, d)


def _extract_slash(m: re.Match) -> tuple[int, int, int] | None:
    month, day = int(m.group(1)), int(m.group(2))
    if month > 12:
        # chrono swap: the day slot must hold a valid month and the month
        # slot a valid day-of-month.
        if 1 <= day <= 12 and 13 <= month <= 31:
            month, day = day, month
        else:
            return None
    if day < 1 or day > 31:
        return None
    return (_impute_year(int(m.group(3))), month, day)


def _extract_slash_year_first(m: re.Match) -> tuple[int, int, int] | None:
    y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if mo < 1 or mo > 12 or d < 1 or d > 31:
        return None
    return (y, mo, d)


def _extract_middle(m: re.Match) -> tuple[int, int, int] | None:
    mo = _month_num(m.group(1))
    d = int(m.group(2))
    if d < 1 or d > 31:
        return None
    return (_impute_year(int(m.group(3))), mo, d)


def _extract_little(m: re.Match) -> tuple[int, int, int] | None:
    d = int(m.group(1))
    mo = _month_num(m.group(2))
    if d < 1 or d > 31:
        return None
    return (_impute_year(int(m.group(3))), mo, d)


_PARSERS = (
    (_P_ISO, _extract_iso),
    (_P_SLASH, _extract_slash),
    (_P_SLASH_YEAR_FIRST, _extract_slash_year_first),
    (_P_MIDDLE, _extract_middle),
    (_P_LITTLE, _extract_little),
    (_P_ES_LITTLE, _extract_little),
)

# Digit-led candidate pre-scan.  Five of the six patterns open with a
# digit at a word boundary, so each used to walk every digit of the text.
# One scan now finds the positions where at least one of them matches:
# the boundary digit, then a lookahead over their tails (exactly the
# patterns minus the shared first digit).  Each pattern is matched only
# there, skipping positions before the end of its own previous match —
# the matches finditer would have found, in the same order.
_DIGIT_LED = {0: _ISO, 1: _SLASH, 2: _SLASH_YEAR_FIRST, 4: _LITTLE, 5: _ES_LITTLE}

# What every day-month tail (patterns 5 and 6) needs up to its month
# name, as one cheap test that rejects most digits before the month-name
# machinery runs: a second digit; the ordinal suffix (st/nd/rd/th, or
# º/ª, all word characters, ſ included as re.I folds it onto s); the
# separators (whitespace , - / °, possessive since none of what follows
# is one of them) with at most one "of"/"de" (re.I folds no other letter
# onto o, f, d or e); and a month's three-letter stem, which is ASCII in
# either case (_month_names).
_DAY_MONTH_GUARD = (
    r"(?=[0-9]?[^\W\d]{0,2}[\s,\-/ºª°]*+(?:[oOdD][fFeE][\s,\-/]*)?(?:"
    + "|".join(sorted({
        "".join(f"[{c}{c.upper()}]" for c in b[:3].lower())
        for b in _MONTHS_EN + _MONTHS_ES
    }))
    + "))"
)


def _digit_led_scan(en: bool, es: bool):
    """(candidate finditer, ((order, pattern, extract), ...)) for the
    digit-led patterns the month gates leave on."""
    orders = (0, 1, 2) + ((4,) if en else ()) + ((5,) if es else ())
    tails = []
    for order in orders:
        head, tail, flags = _DIGIT_LED[order]
        tails.append(f"(?i:{head}{tail})" if flags & re.IGNORECASE else head + tail)
    numeric, day_month = "|".join(tails[:3]), "|".join(tails[3:])
    if day_month:
        numeric += f"|{_DAY_MONTH_GUARD}(?:{day_month})"
    candidates = re.compile("[0-9]" + _BOUNDARY + "(?=" + numeric + ")")
    return candidates.finditer, tuple((order, *_PARSERS[order]) for order in orders)


_DIGIT_LED_SCANS = {
    (en, es): _digit_led_scan(en, es) for en in (False, True) for es in (False, True)
}


def _keep(found: list, order: int, m: re.Match, extract) -> None:
    ymd = extract(m)
    if ymd is None:
        return
    y, mo, d = ymd
    if d == 0:  # certainYearRefiner day-0 guard (date_parser.js:113)
        return
    if y == 0:
        # "0000-01-02": the one year the four-digit-year patterns can
        # yield that datetime.date cannot hold.  Dropped as a no-match so
        # the other candidates still rank.
        return
    found.append((m.start(), order, DateMatch(m.start(), m.group(0), js_date(y, mo, d))))


def _scan(text: str, en: bool, es: bool) -> list[DateMatch]:
    found: list[tuple[int, int, DateMatch]] = []
    candidates, led = _DIGIT_LED_SCANS[en, es]
    ends = [0] * len(_PARSERS)  # end of each pattern's previous match
    for c in candidates(text):
        p = c.start()
        for order, pat, extract in led:
            if p >= ends[order]:
                m = pat.match(text, p)
                if m is not None:
                    ends[order] = m.end()
                    _keep(found, order, m, extract)
    if en:
        for m in _P_MIDDLE.finditer(text):
            _keep(found, 3, m, _extract_middle)
    found.sort()  # by (index, parser order): a pattern's matches never share an index
    return [dm for _, _, dm in found]


def all_dates(text: str) -> list[DateMatch]:
    """Scan with all six parsers; results sorted by (index, parser order),
    mirroring chrono's index sort (stable across parsers).

    Month-name parsers (orders 3-5) are skipped when the text lacks
    every month stem — pattern-necessary substrings, see _STEMS_* —
    which drops three alternation scans on all-numeric texts."""
    return _scan(text, *_month_gates(text))


def extract_earliest(values: list[DateMatch]) -> _dt.date | None:
    """Min over match dates, first-wins on ties (earliest.js:1-14)."""
    min_found: _dt.date | None = None
    for v in values:
        if min_found is None or v.date < min_found:
            min_found = v.date
    return min_found


def extract_first(values: list[DateMatch]) -> _dt.date | None:
    """First match in text order (first.js:1-8)."""
    return values[0].date if values else None


EXTRACTORS = {"earliest": extract_earliest, "first": extract_first}


def parse_date(text: str, config: dict | None = None) -> dict:
    """Full date pipeline (date_parser.js:1-23): repair → scan → extract →
    ISO-format.  ``match`` is 'YYYY-MM-DD' or None; ``actual_match`` the
    date object."""
    config = config or {}
    extractor = config.get("parser", "earliest")
    if isinstance(extractor, str):
        extractor = EXTRACTORS[extractor]
    en, es = _month_gates(text)
    matches = _scan(_repair(text, es), en, es)
    actual = extractor(matches)
    return {
        "matches": matches,
        "match": actual.isoformat() if actual else None,
        "actual_match": actual,
    }
