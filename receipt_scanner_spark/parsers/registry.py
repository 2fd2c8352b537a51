"""Parser registry + result assembly.

Mirror of the reference's TextParser loop and plug-in surface
(/root/reference/lib/text_parser.js:14-43, lib/text_parser/parser.js:1-16,
 lib/processor.js:86-90): string name → registered callable; custom
parsers are any ``(text, config) -> {"matches": [...], "match": x}``
callable, keyed by function name.  Default cascade is
``['amount', 'date']`` (lib/text_parser.js:7-9).

(The reference has a harmless bug at lib/text_parser.js:29 — config is
taken from ``parsers[i][1]`` even for string entries, yielding a junk
char that all built-in parsers ignore.  Not replicated; documented in
SURVEY.md §7.)
"""

from __future__ import annotations

from typing import Any, Callable

from .amount import parse_amount
from .date import parse_date
from .patterns import parse_merchant, parse_tax_id

ParserFn = Callable[[str, dict | None], dict]

PARSERS: dict[str, ParserFn] = {
    "amount": parse_amount,
    "date": parse_date,
    "merchant": parse_merchant,
    "tax_id": parse_tax_id,
}


def parse_text(
    text: str,
    parsers: list[Any] | None = None,
    verbose: bool = False,
) -> dict:
    """Run the configured parser cascade over one document's text.

    ``parsers`` entries are parser names, callables, or
    ``(name_or_fn, config)`` pairs.  Result maps parser name → match
    (None replaces the reference's ``false``); with ``verbose`` the
    full per-parser match lists plus the input text are included.
    """
    if not parsers:
        parsers = ["amount", "date"]
    results: dict = {}
    verbose_out: dict = {}
    for entry in parsers:
        config: dict | None = None
        if isinstance(entry, (list, tuple)):
            entry, config = entry[0], entry[1]
        if isinstance(entry, str):
            name, fn = entry, PARSERS[entry]
        else:
            name, fn = getattr(entry, "__name__", str(entry)), entry
        parsed = fn(text, config)
        results[name] = parsed["match"]
        if verbose:
            verbose_out[name] = parsed
    if verbose:
        verbose_out["text"] = text
        results["verbose"] = verbose_out
    return results
