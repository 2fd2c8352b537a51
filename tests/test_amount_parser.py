"""Golden re-encoding of the reference amount-parser specs.

Sources (one test per assertion):
  /root/reference/test/lib/text_parser/amount_parser_spec.js:9-163
  /root/reference/test/lib/text_parser/amount/total_spec.js:10-44
  /root/reference/test/lib/text_parser/amount/largest_spec.js:10-18
  /root/reference/test/lib/processor_spec.js:119-125 (parseText e2e)
"""

import math

import pytest

from receipt_scanner_spark.parsers.amount import (
    TOTAL_PREPEND,
    all_amounts,
    extract_largest,
    parse_amount,
    prepare_text,
)
from receipt_scanner_spark.parsers.registry import parse_text


class TestParser:
    def test_returns_total(self):
        text = "total $100.00\nsubtotal $200.00\n$300.00"
        assert parse_amount(text)["match"] == "100.00"

    def test_no_total_returns_highest(self):
        text = "$200.00\n$300.00\n$100.00"
        assert parse_amount(text)["match"] == "300.00"


class TestAllAmounts:
    def test_without_currency_symbol(self):
        m = all_amounts("5,280.00")
        assert m[0].currency is None
        assert m[0].amount == 5280.00
        assert m[0].text == "5,280.00"

    def test_with_euro_currency_symbol(self):
        m = all_amounts("€5.280,00")
        assert m[0].currency == "€"
        assert m[0].amount == 5280.00
        assert m[0].text == "5.280,00"

    def test_with_three_letter_iso(self):
        m = all_amounts("EUR5.280,00")
        assert m[0].currency == "EUR"
        assert m[0].amount == 5280.00
        assert m[0].text == "5.280,00"

    def test_with_invalid_iso(self):
        assert all_amounts("ZZZ5.280,00") == []

    def test_only_fractional(self):
        m = all_amounts("$0.12")
        assert m[0].currency == "$"
        assert m[0].amount == 0.12
        assert m[0].text == "0.12"

    def test_in_hundreds(self):
        m = all_amounts("$100.12")
        assert (m[0].currency, m[0].amount, m[0].text) == ("$", 100.12, "100.12")

    def test_whole_number(self):
        m = all_amounts("$100")
        assert (m[0].currency, m[0].amount, m[0].text) == ("$", 100, "100")

    # in thousands, without thousand mark
    def test_us_decimal_mark_no_thousand(self):
        m = all_amounts("$500.32 $5280.00 $6280.00\n$5280.00")
        assert (m[2].currency, m[2].amount, m[2].text) == ("$", 6280.00, "6280.00")

    def test_eu_decimal_mark_no_thousand(self):
        m = all_amounts("$500,32 $5280,00 $6280,00\n$5280,00")
        assert (m[2].currency, m[2].amount, m[2].text) == ("$", 6280.00, "6280,00")

    def test_most_prevalent_mark_no_thousand(self):
        m = all_amounts("$500.32 $5280,00 $6280.00\n$5280.00")
        assert len(m) == 3
        assert (m[1].currency, m[1].amount, m[1].text) == ("$", 6280.00, "6280.00")

    # in thousands, with thousand mark
    def test_us_decimal_mark_with_thousand(self):
        m = all_amounts("$500.32 $6,280.00\n$5,280.00")
        assert (m[1].currency, m[1].amount, m[1].text) == ("$", 6280.00, "6,280.00")

    def test_eu_decimal_mark_with_thousand(self):
        m = all_amounts("$500,32 $5.280,00 $6.280,00\n$5.280,00")
        assert (m[2].currency, m[2].amount, m[2].text) == ("$", 6280.00, "6.280,00")

    def test_most_prevalent_mark_with_thousand(self):
        m = all_amounts("$500,32 $5,280.00 $6.280,00\n$5.280,00")
        assert len(m) == 3
        assert (m[1].currency, m[1].amount, m[1].text) == ("$", 6280.00, "6.280,00")

    @pytest.mark.parametrize(
        "text",
        ["554.280.5434", "127.0.0.1", "16.09.02", "12:10:30.45"],
        ids=["phone", "ip", "date", "time_with_ms"],
    )
    def test_rejections(self, text):
        assert all_amounts(text) == []

    def test_prepared_paren_amount(self):
        text = prepare_text("(5.280,00)")
        m = all_amounts(text)
        assert m[0].amount == 5280.00
        assert m[0].text == "5.280,00"


class TestTotal:
    def _values(self, text):
        return all_amounts(text, TOTAL_PREPEND)

    def test_total_before_subtotal(self):
        values = self._values("subtotal $2,000.43\ndiscount $1,000.00\ntotal $1,000.43")
        assert extract_largest(values) == "1,000.43"

    def test_total_colon(self):
        assert extract_largest(self._values("total:  $1,000.43")) == "1,000.43"

    def test_total_due(self):
        assert extract_largest(self._values("total due  $1,000.43")) == "1,000.43"

    def test_balance_due(self):
        assert extract_largest(self._values("balance due $1,000.43")) == "1,000.43"

    def test_highest_among_anchored(self):
        values = self._values("balance due $1,000.43 total $2,000.43")
        assert extract_largest(values) == "2,000.43"


class TestLargest:
    def test_largest_amount(self):
        values = all_amounts("$500.32 $6,280.00\n$5,280.00")
        assert extract_largest(values) == "6,280.00"

    def test_empty_and_zero(self):
        assert extract_largest([]) is None
        assert extract_largest(all_amounts("$0.00")) is None  # strict > 0.0


class TestParseTextE2E:
    def test_processor_parse_text_golden(self):
        # processor_spec.js:119-125
        r = parse_text("text total 6,000.00 date 2016-08-13")
        assert r["amount"] == "6,000.00"
        assert r["date"] == "2016-08-13"

    def test_empty_text(self):
        r = parse_text("")
        assert r["amount"] is None
        assert r["date"] is None

    def test_verbose(self):
        r = parse_text("total $10.00 on 2016-01-02", verbose=True)
        assert r["verbose"]["text"] == "total $10.00 on 2016-01-02"
        assert r["verbose"]["amount"]["match"] == "10.00"

    def test_custom_parser(self):
        # processor_spec.js:270-293 API shape
        def merchant(text, config):
            m = "ACME" if "ACME" in text else None
            return {"matches": [m] if m else [], "match": m}

        r = parse_text("ACME Inc. total $5.00", parsers=["amount", merchant])
        assert r["merchant"] == "ACME"
        assert r["amount"] == "5.00"

    def test_quirk_first_separator_only(self):
        # amount_parser.js:54 non-global replace: '1,234,567.00' → 1234.0
        m = all_amounts("1,234,567.00 2.00")
        vals = {x.text: x.amount for x in m}
        assert vals["1,234,567.00"] == 1234.0


class TestBoundaryEdges:
    """Whitespace-boundary edges of the scan regexes (text start and end,
    one space shared by two matches, JS-only and Python-only spaces)."""

    @pytest.mark.parametrize(
        "text, span",
        [("$5.00 paid", (1, 5)), ("paid $5.00", (6, 10)), ("5.00", (0, 4))],
        ids=["start", "end", "whole_text"],
    )
    def test_amount_at_text_edges(self, text, span):
        (m,) = parse_amount(text)["matches"]
        assert (m.text, (m.start, m.end)) == ("5.00", span)

    def test_two_amounts_share_one_space(self):
        r = parse_amount("$1.00 $2.00")
        assert [(m.text, m.start, m.end) for m in r["matches"]] == [
            ("1.00", 1, 5), ("2.00", 7, 11)]
        assert r["match"] == "2.00"

    def test_paren_amount_then_total(self):
        assert prepare_text("(5.00) Total 7.00") == "5.00 Total 7.00"
        assert prepare_text("(5.00)") == "5.00"
        r = parse_amount("(5.00) Total 7.00")
        assert [(m.text, m.start) for m in r["matches"]] == [("7.00", 11)]

    @pytest.mark.parametrize(
        "space, anchored",
        [("﻿", True), ("　", True), ("\x85", False)],
        ids=["bom", "ideographic_space", "nel"],
    )
    def test_space_before_total(self, space, anchored):
        # BOM and U+3000 are ECMA-262 \s; NEL is Python-only whitespace
        text = space + "Total 5.00"
        assert [m.text for m in all_amounts(text, TOTAL_PREPEND)] == (
            ["5.00"] if anchored else [])
        assert parse_amount(text)["match"] == "5.00"


class TestKeywordPrescan:
    """The total scans run only where a whitespace precedes a keyword
    (``_prepend_starts``) and must find exactly what full scans find."""

    PIECES = ["Total", "total due", "TOTAL:", "Balance Due", "balance due -",
              "Subtotal", "$5.00", "(5.00)", "1,234.56", "5,00", "EUR", "eur5.00",
              "ſEK 7.00", "ıSK1.00", "İ", "subtotal", "TOTALLY", "x", "a", "　", "﻿",
              "\x85", " ", "\n"]

    def test_matches_equal_full_scans(self):
        import random

        from receipt_scanner_spark.parsers import amount as A

        rng = random.Random(5)
        for _ in range(3000):
            text = "".join(rng.choice(self.PIECES) + rng.choice([" ", "", "\n"])
                           for _ in range(rng.randint(1, 12)))
            # a custom prepend whose matches can contain a later start
            for prepend in (TOTAL_PREPEND, "a[^0-9]*"):
                for dec, thou in ((".", ","), (",", ".")):
                    padded = " " + prepare_text(text, dec, thou)
                    starts = A._prepend_starts(padded, prepend)
                    for build in (A._fractional_regexp, A._whole_regexp):
                        pat = build(dec, thou, prepend)
                        want = [m.span() for m in pat.finditer(padded)]
                        got = [m.span() for m in A._matches_at(pat, padded, starts)]
                        assert got == want, (prepend, text)

    def test_adjacent_keywords(self):
        r = parse_amount("Total Total 5.00 total due 6.00 TOTAL 1.00")
        assert [m.text for m in r["matches"]] == ["5.00", "6.00", "1.00"]
        assert r["match"] == "6.00"

    def test_code_letters_fold_as_under_ignorecase(self):
        # re.I folds U+212A onto K, U+017F onto S and U+0131 onto I; the
        # first-letter guard of the code trie must fold the same way
        for code in ("KES", "ſEK", "ıSK"):
            (m,) = parse_amount(f"paid {code}5.00")["matches"]
            assert (m.currency, m.text) == (code, "5.00")
