"""Parser registry + result assembly.

Mirror of the reference's TextParser loop and plug-in surface
(/root/reference/lib/text_parser.js:14-43, lib/text_parser/parser.js:1-16,
 lib/processor.js:86-90): string name → registered callable; custom
parsers are any ``(text, config) -> {"matches": [...], "match": x}``
callable, keyed by function name; ``resolve_cascade`` is the one place
a parser list is read.  Default cascade ``['amount', 'date']`` (lib/text_parser.js:7-9).

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


def resolve_cascade(parsers: list[Any] | None = None) -> tuple:
    """The one normalizer of a parser list → ``((name, fn, config), ...)``.
    Entries: parser names (an unknown one raises ``KeyError``), callables
    (named by ``__name__``, else by their type's name) or ``(entry,
    config)`` pairs; empty means ``['amount', 'date']``."""
    out = []
    for entry in parsers or ("amount", "date"):
        config = None
        if isinstance(entry, (list, tuple)):
            entry, config = entry
        if isinstance(entry, str):
            out.append((entry, PARSERS[entry], config))
        else:
            out.append((getattr(entry, "__name__", type(entry).__name__), entry, config))
    return tuple(out)


def read_result(parsed: dict) -> tuple[Any, list]:
    """(match, matches) of one parser result: the contract
    ``{"matches": [...], "match": x}`` with both keys required
    (``KeyError`` otherwise).  ``parse_text`` and the fused UDF's
    ``parse_row`` read custom results only through here."""
    return parsed["match"], parsed["matches"]


def parse_text(
    text: str,
    parsers: list[Any] | None = None,
    verbose: bool = False,
) -> dict:
    """Run the configured parser cascade (``resolve_cascade``) over one
    document's text.  Result maps parser name → match (None replaces
    the reference's ``false``); with ``verbose`` the full per-parser
    match lists plus the input text are included.
    """
    results: dict = {}
    verbose_out: dict = {}
    for name, fn, config in resolve_cascade(parsers):
        parsed = fn(text, config)
        results[name], _matches = read_result(parsed)
        if verbose:
            verbose_out[name] = parsed
    if verbose:
        verbose_out["text"] = text
        results["verbose"] = verbose_out
    return results
