"""Anchored-pattern-table parsers: merchant and tax-id.

The reference ships only amount/date parsers but its plug-in surface is
explicitly designed for this family (custom text parsers keyed by name,
README.md:111-135; test/lib/processor_spec.js:270-293), and the north
star names "tax-id/merchant via anchored pattern tables" as cascade
members.  Both follow the reference parser contract exactly:
``parse(text, config) -> {"matches": [...], "match": value-or-None}``,
and both are ordered pattern tables — first table row with a match
wins, mirroring the amount cascade's first-truthy-sub-parser rule
(amount_parser.js:8-20).

Registered under the standard registry so they compose with the
Spark UDF layer via ``build_process_udf([..., "merchant", "tax_id"])``.
"""

from __future__ import annotations

import re
from typing import NamedTuple


class PatternMatch(NamedTuple):
    text: str
    start: int
    end: int
    rule: str


# --- merchant -------------------------------------------------------------------

# Ordered anchored pattern table: explicit labels beat positional
# heuristics; within a rule, first occurrence in text order wins.
_MERCHANT_RULES: list[tuple[str, re.Pattern[str]]] = [
    (
        "labeled",
        re.compile(
            r"^[ \t]*(?:Merchant|Store|Sold by|Vendor|Retailer|Tienda|Vendedor)"
            r"[ \t]*[:\-][ \t]*(?P<v>[^\r\n]{2,80}?)[ \t]*$",
            re.IGNORECASE | re.MULTILINE,
        ),
    ),
    (
        "corporate_suffix",
        re.compile(
            r"^[ \t]*(?P<v>[A-Z][\w&'.\- ]{1,60}?"
            r"(?:Inc|Corp|Corporation|Ltd|LLC|GmbH|S\.A\.|Co)\.?)[ \t]*$",
            re.MULTILINE,
        ),
    ),
    (
        "first_line",
        re.compile(r"\A[ \t]*(?P<v>[A-Za-z][^\r\n]{1,60}?)[ \t]*$", re.MULTILINE),
    ),
]


def _first_rule(text: str, rules) -> dict:
    """First rule in the table with a match wins; ``matches`` carries
    every hit of the winning rule (verbose analog)."""
    for rule_name, pat in rules:
        hits = [
            PatternMatch(m.group("v"), m.start("v"), m.end("v"), rule_name)
            for m in pat.finditer(text)
        ]
        if hits:
            return {"matches": hits, "match": hits[0].text}
    return {"matches": [], "match": None}


def parse_merchant(text: str, config: dict | None = None) -> dict:
    """Labels beat positional heuristics (``_first_rule``)."""
    return _first_rule(text, (config or {}).get("rules") or _MERCHANT_RULES)


# --- tax id ----------------------------------------------------------------------

_ANCHOR = r"(?:Tax[ \t]*ID|TIN|EIN|VAT(?:[ \t]*(?:No|Reg|ID))?|ABN|GST|NIF|CIF|RFC)"

_TAX_RULES: list[tuple[str, re.Pattern[str]]] = [
    (
        "anchored_ein",  # US EIN: 12-3456789
        re.compile(_ANCHOR + r"[^A-Za-z0-9\r\n]{0,4}(?P<v>\d{2}-\d{7})\b", re.IGNORECASE),
    ),
    (
        "anchored_vat",  # EU VAT: country prefix + 8-12 digits
        re.compile(
            _ANCHOR + r"[^A-Za-z0-9\r\n]{0,4}(?P<v>[A-Z]{2}[ \t]?\d{8,12})\b",
            re.IGNORECASE,
        ),
    ),
    (
        "anchored_digits",  # generic anchored 8-15 digit id (spaces/dashes)
        re.compile(
            _ANCHOR + r"[^A-Za-z0-9\r\n]{0,4}(?P<v>\d[\d \-]{6,18}\d)\b",
            re.IGNORECASE,
        ),
    ),
]


def parse_tax_id(text: str, config: dict | None = None) -> dict:
    """Anchored only — bare digit runs are never tax ids (phone/IP/date
    rejection comes free, same spirit as the amount parser's whitespace
    anchoring)."""
    return _first_rule(text, (config or {}).get("rules") or _TAX_RULES)
