"""Merchant/tax-id anchored-pattern parsers + Spark-level custom cascade."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from receipt_scanner_spark.parsers.patterns import parse_merchant, parse_tax_id
from receipt_scanner_spark.parsers.registry import parse_text


class TestMerchant:
    def test_labeled_beats_positional(self):
        text = "Random header\nMerchant: ACME Stores\nTotal $5.00"
        r = parse_merchant(text)
        assert r["match"] == "ACME Stores"
        assert r["matches"][0].rule == "labeled"

    def test_corporate_suffix(self):
        text = "receipt\nACME Inc.\nStreet, City"
        assert parse_merchant(text)["match"] == "ACME Inc."

    def test_first_line_fallback(self):
        text = "Corner Coffee Shop\nDate: 1/2/2016"
        r = parse_merchant(text)
        assert r["match"] == "Corner Coffee Shop"
        assert r["matches"][0].rule == "first_line"

    def test_no_match(self):
        assert parse_merchant("12345\n67890")["match"] is None

    def test_spanish_label(self):
        assert parse_merchant("Tienda: La Esquina")["match"] == "La Esquina"


class TestTaxId:
    def test_ein(self):
        r = parse_tax_id("ACME Inc.\nEIN: 12-3456789\nTotal $5")
        assert r["match"] == "12-3456789"
        assert r["matches"][0].rule == "anchored_ein"

    def test_vat(self):
        assert parse_tax_id("VAT Reg GB123456789")["match"] == "GB123456789"

    def test_generic_anchored(self):
        assert parse_tax_id("Tax ID 987 654 321")["match"] == "987 654 321"

    @pytest.mark.parametrize(
        "text",
        ["phone 554-280-5434", "order 12-3456789", "127.0.0.1", "just text"],
        ids=["phone", "unanchored_ein_shape", "ip", "none"],
    )
    def test_unanchored_rejected(self, text):
        assert parse_tax_id(text)["match"] is None


class TestCascadeIntegration:
    def test_registry_cascade(self):
        text = "ACME Inc.\nEIN: 12-3456789\nDate: 4/25/2016\nTotal: $698.00"
        r = parse_text(text, parsers=["amount", "date", "merchant", "tax_id"])
        assert r == {
            "amount": "698.00",
            "date": "2016-04-25",
            "merchant": "ACME Inc.",
            "tax_id": "12-3456789",
        }

    def test_one_naming_rule_for_parse_text_and_parse_row(self):
        """Both run ``resolve_cascade``: a callable is keyed by its
        ``__name__``, else by its type's name; the registry's amount
        callable still fills the UDF's ``amount`` column."""
        import functools

        from receipt_scanner_spark.functions.udfs import parse_row
        from receipt_scanner_spark.parsers.amount import parse_amount
        from receipt_scanner_spark.parsers.registry import resolve_cascade

        text = "ACME Inc.\nEIN: 12-3456789\nTotal: $698.00"
        assert parse_text(text, [parse_amount]) == {"parse_amount": "698.00"}
        amount, _date, spans, extra = parse_row(text, resolve_cascade([parse_amount]))
        assert (amount, extra) == ("698.00", None)
        assert [s["parser"] for s in spans] == ["amount"]
        tax = functools.partial(parse_tax_id)
        assert parse_text(text, [tax]) == {"partial": "12-3456789"}
        assert parse_row(text, resolve_cascade([tax]))[3] == {"partial": "12-3456789"}

    def test_spark_custom_cascade(self, spark):
        """T17 at the Spark level: extended parser list through the fused
        UDF; extras land in the `extra` map, spans carry real offsets."""
        from receipt_scanner_spark.plans.pipeline import extract_pages

        html = (
            "<html><body><main><p>ACME Inc.</p><p>EIN: 12-3456789</p>"
            "<p>Date: 4/25/2016</p><p>Total: $698.00</p></main></body></html>"
        ).encode()
        pages = spark.createDataFrame(
            pd.DataFrame(
                [dict(url="u1", warc_ts=pd.Timestamp("2016-01-01", tz="UTC"),
                      html=html, text=None, lang="en")]
            )
        )
        out = extract_pages(
            pages, parsers=["amount", "date", "merchant", "tax_id"], observe=False
        ).first()
        assert out.amount == "698.00" and out.date == "2016-04-25"
        assert out.extra["merchant"] == "ACME Inc."
        assert out.extra["tax_id"] == "12-3456789"
        tax_spans = [s for s in out.spans if s.parser == "tax_id"]
        assert tax_spans and out.extracted_text[tax_spans[0].start:tax_spans[0].end] == "12-3456789"


class TestTextFunctions:
    def test_rolling_fingerprint_properties(self, spark):
        import pandas as pd
        from receipt_scanner_spark.functions.text import rolling_fingerprint

        df = spark.createDataFrame(
            pd.DataFrame(
                [
                    dict(doc_id=1, text="alpha beta gamma"),
                    dict(doc_id=2, text="  alpha   beta\tgamma "),  # ws-normalized same
                    dict(doc_id=3, text="gamma beta alpha"),  # order-sensitive diff
                    dict(doc_id=4, text=""),
                    dict(doc_id=5, text=None),
                ]
            )
        )
        fp = {r.doc_id: r.fingerprint for r in rolling_fingerprint(df).collect()}
        assert fp[1] == fp[2]          # whitespace-invariant
        assert fp[1] != fp[3]          # order-sensitive (rolling, not bag)
        assert fp[4] == fp[5] == 0     # empty/null → 0
        again = {r.doc_id: r.fingerprint for r in rolling_fingerprint(df).collect()}
        assert again == fp             # deterministic


class TestParserConfigThroughSpark:
    def test_date_first_config(self, spark):
        """(name, config) parser entries through the fused UDF — the
        reference's {parser:'first'} date config (README.md:139-155)."""
        import pandas as pd
        from receipt_scanner_spark.plans.pipeline import extract_pages

        html = ("<html><body><main><p>Date: 02/05/2016</p>"
                "<p>Purchased: Feb/01/2016</p></main></body></html>").encode()
        pages = spark.createDataFrame(pd.DataFrame(
            [dict(url="u", warc_ts=pd.Timestamp("2016-01-01", tz="UTC"),
                  html=html, text=None, lang="en")]))
        earliest = extract_pages(pages, observe=False).first()
        first = extract_pages(
            pages, parsers=["amount", ("date", {"parser": "first"})], observe=False
        ).first()
        assert earliest.date == "2016-02-01"  # default: earliest
        assert first.date == "2016-02-05"     # configured: first in text

    def test_amount_largest_only_config(self, spark):
        import pandas as pd
        from receipt_scanner_spark.plans.pipeline import extract_pages

        html = ("<html><body><main><p>total $10.00</p>"
                "<p>$99.00 something</p></main></body></html>").encode()
        pages = spark.createDataFrame(pd.DataFrame(
            [dict(url="u", warc_ts=pd.Timestamp("2016-01-01", tz="UTC"),
                  html=html, text=None, lang="en")]))
        default = extract_pages(pages, observe=False).first()
        largest_only = extract_pages(
            pages, parsers=[("amount", {"parsers": ["largest"]}), "date"],
            observe=False,
        ).first()
        assert default.amount == "10.00"       # total anchor wins
        assert largest_only.amount == "99.00"  # cascade reconfigured
