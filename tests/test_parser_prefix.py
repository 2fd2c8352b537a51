"""Speed guard for the parser regexes: every pattern on the default parse
path must start with a literal or with a character class holding no
cased letter.  Only then does CPython's ``re`` skip to the next candidate
start in C; a pattern opening with ``(?:^|\\s)`` or ``(?<!\\w)`` is tried
at every character of the text instead (~3x the parser cost on web
text).  The check reads the compiled-prefix logic of CPython's private
``re._compiler`` / ``re._parser``, so it skips where those are absent.
"""

import re

import pytest

from receipt_scanner_spark.parsers import amount as A
from receipt_scanner_spark.parsers import date as D

_compiler = getattr(re, "_compiler", None)
_parser = getattr(re, "_parser", None)
if not all(
    hasattr(m, f)
    for m, f in ((_compiler, "_get_literal_prefix"), (_compiler, "_get_charset_prefix"),
                 (_parser, "parse"))
):
    pytest.skip("CPython re._compiler/_parser prefix API not available",
                allow_module_level=True)


def has_prefix(pat: re.Pattern) -> bool:
    """True when ``re`` compiles ``pat`` with a literal or charset prefix."""
    p = _parser.parse(pat.pattern, pat.flags)
    flags = p.state.flags
    prefix, _, _ = _compiler._get_literal_prefix(p, flags)
    return bool(prefix) or bool(_compiler._get_charset_prefix(p, flags))


def _amount_patterns():
    for dec, thou in ((".", ","), (",", ".")):
        yield f"prepare[{dec}]", A._prepare_regexp(dec, thou)
        for sub in A.SUB_PARSERS.values():
            prepend = sub.get_opts()
            yield f"fractional[{dec}|{sub.name}]", A._fractional_regexp(dec, thou, prepend)
            yield f"whole[{dec}|{sub.name}]", A._whole_regexp(dec, thou, prepend)
    yield "prepend_head[total]", A._prepend_head(A.TOTAL_PREPEND)


_DATE_PATTERNS = [
    ("hyphens", D._RE_HYPHENS),
    ("numeric_junk", D._RE_NUMERIC_JUNK),
    ("month_first_junk", D._RE_MONTH_FIRST_JUNK),
    ("day_first_junk", D._RE_DAY_FIRST_JUNK),
    ("time_junk", D._RE_TIME_JUNK),
] + [(f"grammar[{i}]", pat) for i, (pat, _) in enumerate(D._PARSERS)] + [
    (f"digit_led_candidates[en={en},es={es}]", scan.__self__)
    for (en, es), (scan, _) in D._DIGIT_LED_SCANS.items()
]

PATTERNS = list(_amount_patterns()) + _DATE_PATTERNS


@pytest.mark.parametrize("name, pat", PATTERNS, ids=[n for n, _ in PATTERNS])
def test_parse_path_regex_has_prefix(name, pat):
    assert has_prefix(pat), f"{name} has no literal/charset prefix: {pat.pattern[:80]!r}"


@pytest.mark.parametrize(
    "pattern, flags",
    [(r"(?:^|\s)\d", 0), (r"(?<!\w)\d", 0), (r"[Jj]an", re.IGNORECASE)],
    ids=["anchor_branch", "lookbehind_first", "cased_class_under_ignorecase"],
)
def test_check_rejects_unprefixed_shapes(pattern, flags):
    # the shapes the parsers used to have must fail the check
    assert not has_prefix(re.compile(pattern, flags))

