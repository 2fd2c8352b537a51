"""Amount parser cascade — pure Python, no Spark.

Semantics re-derived from the reference implementation
(/root/reference/lib/text_parser/amount_parser.js:1-158,
 lib/text_parser/amount/total.js:1-12, lib/text_parser/amount/largest.js:1-17)
and pinned by the reference spec files re-encoded as pytest goldens
(tests/test_amount_parser.py).  Quirks preserved on purpose:

* thousand/decimal separator replacement is FIRST-occurrence-only
  (amount_parser.js:54 uses non-global String.replace), so
  ``1,234,567.00`` parses as 1234.0 — goldens never exceed one
  separator but byte-identity demands the quirk.
* ``largest`` uses strict ``>`` seeded at 0.0: an amount of exactly 0
  (or an empty match list) yields no match (largest.js:4-9).
* decimal-format voting: run the scan under US (dec ``.``) and EU
  (dec ``,``) profiles; the profile with MORE matches wins, ties go
  US (amount_parser.js:25-37).
* whole-number matches (currency required) are appended AFTER all
  fractional matches (amount_parser.js:44 method order).

These functions run row-at-a-time *inside* the Arrow-batched fused UDF
(receipt_scanner_spark/functions/udfs.py); they are deliberately
regex-only and allocation-light.

Prefix rule (speed, not semantics): every scan regex starts with a
character class holding no cased letter, so CPython's ``re`` skips in C
to the next position that can start a match instead of trying the
pattern at every character (tests/test_parser_prefix.py pins this).
The reference's leading ``(^|\\s)`` is therefore written ``[\\s]`` and run
over ``" " + text``: the sentinel space at position 0 matches where
``^`` did, and spans are shifted back by one.  The ISO-code alternation
is grouped by first letter (``_code_trie``), which changes no match.

Keyword pre-scan (speed, not semantics): a scan with a non-empty prepend
(the ``total`` sub-parser's keywords) can only start at a whitespace
right before a prepend match.  Those starts are found once per text
(``_prepend_starts``, one scan of a regex head) and each scan regex is
matched there only, with finditer's rule that a match starts at or after
the previous one's end (``_matches_at``): the same matches as four full
scans.
"""

from __future__ import annotations

import math
import re
from typing import NamedTuple


class AmountMatch(NamedTuple):
    currency: str | None
    amount: float  # may be NaN, mirroring JS parseFloat
    text: str
    start: int  # span of the amount text in the *prepared* input
    end: int


# Unicode currency-symbol class, mirroring the reference's \p{Sc}
# approximation (amount_parser.js:139).
_PSC = (
    "[\\$\\xA2-\\xA5\\u058F\\u060B\\u09F2\\u09F3\\u09FB\\u0AF1\\u0BF9"
    "\\u0E3F\\u17DB\\u20A0-\\u20BD\\uA838\\uFDFC\\uFE69\\uFF04\\uFFE0"
    "\\uFFE1\\uFFE5\\uFFE6]"
)

# ISO-4217 codes (amount_parser.js:140-156).
_ISO_CODES = (
    "AED", "AFN", "ALL", "AMD", "ANG", "AOA", "ARS", "AUD",
    "AWG", "AZN", "BAM", "BBD", "BDT", "BGN", "BHD", "BIF", "BMD",
    "BND", "BOB", "BOV", "BRL", "BSD", "BTN", "BWP", "BYR", "BZD",
    "CAD", "CDF", "CHE", "CHF", "CHW", "CLF", "CLP", "CNY", "COP",
    "COU", "CRC", "CUC", "CUP", "CVE", "CZK", "DJF", "DKK", "DOP",
    "DZD", "EGP", "ERN", "ETB", "EUR", "FJD", "FKP", "GBP", "GEL",
    "GHS", "GIP", "GMD", "GNF", "GTQ", "GYD", "HKD", "HNL", "HRK",
    "HTG", "HUF", "IDR", "ILS", "INR", "IQD", "IRR", "ISK", "JMD",
    "JOD", "JPY", "KES", "KGS", "KHR", "KMF", "KPW", "KRW", "KWD",
    "KYD", "KZT", "LAK", "LBP", "LKR", "LRD", "LSL", "LTL", "LVL",
    "LYD", "MAD", "MDL", "MGA", "MKD", "MMK", "MNT", "MOP", "MRO",
    "MUR", "MVR", "MWK", "MXN", "MXV", "MYR", "MZN", "NAD", "NGN",
    "NIO", "NOK", "NPR", "NZD", "OMR", "PAB", "PEN", "PGK", "PHP",
    "PKR", "PLN", "PYG", "QAR", "RON", "RSD", "RUB", "RWF", "SAR",
    "SBD", "SCR", "SDG", "SEK", "SGD", "SHP", "SLL", "SOS", "SRD",
    "SSP", "STD", "SYP", "SZL", "THB", "TJS", "TMT", "TND", "TOP",
    "TRY", "TTD", "TWD", "TZS", "UAH", "UGX", "USD", "USN", "USS",
    "UYI", "UYU", "UZS", "VEF", "VND", "VUV", "WST", "XAF", "XAG",
    "XAU", "XBA", "XBB", "XBC", "XBD", "XCD", "XDR", "XFU", "XOF",
    "XPD", "XPF", "XPT", "XTS", "XXX", "YER", "ZAR", "ZMW",
)


def _code_trie(codes: tuple[str, ...]) -> str:
    """The codes as an alternation grouped by first letter,
    ``(?=[AB…])(?:A(?:ED|FN|…)|B(?:…)|…)``.  Every code is three letters,
    so at most one branch can match at a position and branch order cannot
    change a match; the engine rejects a word after one test per first
    letter instead of one per code.  The lookahead is the first letters as
    one class (under re.I it folds exactly as the branch letters do), so
    a digit or symbol is rejected by one test instead of one per letter."""
    groups: dict[str, list[str]] = {}
    for code in codes:
        groups.setdefault(code[0], []).append(code[1:])
    trie = "|".join(f"{first}(?:{'|'.join(rest)})" for first, rest in groups.items())
    return f"(?=[{''.join(groups)}])(?:{trie})"


_CURRENCY_CODES = _code_trie(_ISO_CODES)

from .jsws import JS_WS as _JS_WS

_FLOAT_PREFIX = re.compile(r"^[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")

# Compiled-regex caches, keyed by (decimal, thousand, prepend).
_FRACTIONAL_CACHE: dict[tuple[str, str, str], re.Pattern[str]] = {}
_WHOLE_CACHE: dict[tuple[str, str, str], re.Pattern[str]] = {}
_PREPARE_CACHE: dict[tuple[str, str], re.Pattern[str]] = {}
_PREPEND_CACHE: dict[str, re.Pattern[str]] = {}


def parse_float_js(s: str) -> float:
    """JS ``parseFloat``: longest numeric prefix, NaN when none."""
    m = _FLOAT_PREFIX.match(s.lstrip())
    return float(m.group(0)) if m else math.nan


def _fractional_regexp(decimal: str, thousand: str, prepend: str) -> re.Pattern[str]:
    key = (decimal, thousand, prepend)
    pat = _FRACTIONAL_CACHE.get(key)
    if pat is None:
        d, t = re.escape(decimal), re.escape(thousand)
        pat = re.compile(
            rf"[{_JS_WS}]"
            + prepend
            + "(" + _PSC + "|" + _CURRENCY_CODES + ")?"
            # amount group: (x)x(,xxx)* | x(xxx..) | 0 | <empty>, then .d{1,2}
            + "((?:(?:[1-9][0-9]{0,2}(?:" + t + "[0-9]{3})*)"
            + "|(?:[1-9][0-9]*)"
            + "|0)?"
            + d + r"[0-9]{1,2})"
            + rf"(?=$|[{_JS_WS}])",
            re.IGNORECASE,
        )
        _FRACTIONAL_CACHE[key] = pat
    return pat


def _whole_regexp(decimal: str, thousand: str, prepend: str) -> re.Pattern[str]:
    key = (decimal, thousand, prepend)
    pat = _WHOLE_CACHE.get(key)
    if pat is None:
        t = re.escape(thousand)
        pat = re.compile(
            rf"[{_JS_WS}]"
            + prepend
            + "(" + _PSC + "|" + _CURRENCY_CODES + ")"  # currency REQUIRED
            + "((?:[1-9][0-9]{0,2}(?:" + t + "[0-9]{3})*)"
            + "|(?:[1-9][0-9]*))"
            + rf"(?=$|[{_JS_WS}])",
            re.IGNORECASE,
        )
        _WHOLE_CACHE[key] = pat
    return pat


def _prepare_regexp(decimal: str, thousand: str) -> re.Pattern[str]:
    key = (decimal, thousand)
    pat = _PREPARE_CACHE.get(key)
    if pat is None:
        d, t = re.escape(decimal), re.escape(thousand)
        pat = re.compile(
            rf"([{_JS_WS}])"
            r"\(("
            r"(?:(?:[1-9][0-9]{0,2}(?:" + t + r"[0-9]{3})*)|0)"
            + d + r"[0-9]{1,2}"
            r")\)"
            rf"(?=$|[{_JS_WS}])",
            re.IGNORECASE,
        )
        _PREPARE_CACHE[key] = pat
    return pat


def _unwrap(m: re.Match) -> str:
    return m[1] + m[2]


def prepare_text(text: str, decimal: str = ".", thousand: str = ",") -> str:
    """Strip parentheses around well-formed amounts: ``(5,000.01)`` → ``5,000.01``.

    Mirror of amount_parser.js:63-82 (whitespace-delimited, int part is
    1-3 digits optionally extended by thousand-separated triples, or 0).
    The leading boundary is re-emitted; the sentinel space stands in for
    the reference's ``^`` branch and is stripped again.
    """
    if "(" not in text:
        return text
    return _prepare_regexp(decimal, thousand).sub(_unwrap, " " + text)[1:]


def _prepend_head(prepend: str) -> re.Pattern[str]:
    """The head of every scan regex with ``prepend`` (_fractional_regexp,
    _whole_regexp): a whitespace followed by a ``prepend`` match."""
    pat = _PREPEND_CACHE.get(prepend)
    if pat is None:
        pat = _PREPEND_CACHE[prepend] = re.compile(
            rf"[{_JS_WS}](?={prepend})", re.IGNORECASE
        )
    return pat


def _prepend_starts(padded: str, prepend: str) -> list[int] | None:
    """Every position a scan with ``prepend`` can start at: a whitespace
    followed by a ``prepend`` match.  None for the empty prepend, where
    that is every whitespace and a full scan is cheaper."""
    if not prepend:
        return None
    return [m.start() for m in _prepend_head(prepend).finditer(padded)]


def _matches_at(pat: re.Pattern[str], padded: str, starts: list[int] | None):
    """``pat.finditer(padded)`` when every match starts in ``starts``."""
    if starts is None:
        yield from pat.finditer(padded)
        return
    end = 0
    for p in starts:
        if p >= end:
            m = pat.match(padded, p)
            if m is not None:
                end = m.end()
                yield m


def _find(
    padded: str, decimal: str, thousand: str, prepend: str, starts: list[int] | None
) -> list[AmountMatch]:
    out: list[AmountMatch] = []
    for regexp_builder in (_fractional_regexp, _whole_regexp):
        pat = regexp_builder(decimal, thousand, prepend)
        for m in _matches_at(pat, padded, starts):
            raw = m.group(2)
            value = parse_float_js(
                raw.replace(thousand, "", 1).replace(decimal, ".", 1)
            )
            out.append(
                AmountMatch(
                    currency=m.group(1),
                    amount=value,
                    text=raw,
                    start=m.start(2) - 1,
                    end=m.end(2) - 1,
                )
            )
    return out


def find_amounts(
    text: str,
    decimal: str | None = None,
    thousand: str | None = None,
    prepend: str = "",
    prepared: bool = False,
) -> list[AmountMatch]:
    """One separator-profile scan: fractional matches then whole matches.

    Mirror of amount_parser.js:39-61 (including prepare_text applied
    before each method pass; it is idempotent).
    """
    decimal = decimal or "."
    thousand = thousand or ","
    # the reference re-applies prepare_text before each method pass
    # (amount_parser.js:49); it is idempotent (a strip never exposes a
    # new whitespace-delimited "(amount)" form), so one application is
    # output-identical — pinned by the 5,000-text node differential
    # oracle (tools/diff_amount_oracle.py).  ``prepared=True`` lets the
    # cascade reuse an already-prepared text across sub-parsers.
    if not prepared:
        text = prepare_text(text, decimal, thousand)
    padded = " " + text  # the sentinel matches where ``^`` did; spans shift by 1
    return _find(padded, decimal, thousand, prepend, _prepend_starts(padded, prepend))


def all_amounts(
    text: str,
    prepend: str = "",
    _prepared_us: str | None = None,
    _prepared_eu: str | None = None,
) -> list[AmountMatch]:
    """Decimal-format voting (amount_parser.js:25-37): more matches wins,
    tie → US profile.  The ``_prepared_*`` kwargs accept pre-stripped
    texts (one per separator profile) so the cascade prepares each
    profile once, not once per sub-parser."""
    us = _prepared_us if _prepared_us is not None else prepare_text(text, ".", ",")
    eu = _prepared_eu if _prepared_eu is not None else prepare_text(text, ",", ".")
    us, eu = " " + us, " " + eu  # sentinels, as in find_amounts
    starts_us = _prepend_starts(us, prepend)
    # the profiles' texts differ only where a parenthesized amount was
    # stripped; otherwise they share the keyword starts
    starts_eu = starts_us if eu == us else _prepend_starts(eu, prepend)
    matches = _find(us, ".", ",", prepend, starts_us)
    matches_comma = _find(eu, ",", ".", prepend, starts_eu)
    if len(matches_comma) > len(matches):
        return matches_comma
    return matches


def extract_largest(values: list[AmountMatch]) -> str | None:
    """Max by parsed float, strict ``>`` seeded at 0.0; returns the
    original matched text (largest.js:1-17).  NaN amounts never win
    (NaN > x is False, as in JS)."""
    max_found = 0.0
    max_text: str | None = None
    for v in values:
        if v.amount > max_found:
            max_found = v.amount
            max_text = v.text
    return max_text


TOTAL_PREPEND = "(?:Total(?: due)?|Balance Due)[^a-z0-9]*"


class _TotalParser:
    """'total' sub-parser: anchor the scan on Total/Balance-Due keywords,
    then take the largest (total.js:1-12)."""

    name = "total"

    @staticmethod
    def get_opts() -> str:
        return TOTAL_PREPEND

    @staticmethod
    def extract(values: list[AmountMatch]) -> str | None:
        return extract_largest(values)


class _LargestParser:
    name = "largest"

    @staticmethod
    def get_opts() -> str:
        return ""

    @staticmethod
    def extract(values: list[AmountMatch]) -> str | None:
        return extract_largest(values)


SUB_PARSERS = {"total": _TotalParser, "largest": _LargestParser}


def parse_amount(
    text: str, config: dict | None = None
) -> dict:
    """Ordered cascade (amount_parser.js:1-23): first sub-parser with a
    truthy match wins; ``matches`` holds the match list of the LAST
    sub-parser that ran (reference overwrites it per iteration)."""
    config = config or {}
    parsers = config.get("parsers") or ["total", "largest"]
    result: dict = {"matches": [], "match": None}
    prepared_us = prepare_text(text, ".", ",")
    prepared_eu = prepare_text(text, ",", ".")
    for p in parsers:
        sub = SUB_PARSERS[p] if isinstance(p, str) else p
        result["matches"] = all_amounts(
            text, sub.get_opts(), _prepared_us=prepared_us, _prepared_eu=prepared_eu
        )
        result["match"] = sub.extract(result["matches"])
        if result["match"]:
            break
    return result
