"""Golden re-encoding of the reference date-parser specs.

Sources (one test per assertion):
  /root/reference/test/lib/text_parser/date_parser_spec.js:13-147
  /root/reference/test/lib/text_parser/date/earliest_spec.js:10-18
  /root/reference/test/lib/text_parser/date/first_spec.js:10-18
"""

import pytest

from receipt_scanner_spark.parsers.date import (
    all_dates,
    extract_earliest,
    extract_first,
    parse_date,
    prepare_text,
)


def first_value(results):
    """Spec helper: first match's ISO date (date_parser_spec.js:7-11)."""
    return results[0].date.isoformat() if results else None


class TestParser:
    def test_finds_earliest_date(self):
        text = "Mar/05/2016\nMar/04/2016\nMar/06/2016"
        assert parse_date(text)["match"] == "2016-03-04"
        # a year-0 candidate is a no-match; the others still rank
        assert parse_date("paid 0000-01-02 on 2020-01-02")["match"] == "2020-01-02"

    def test_day_zero_chrono_bug_guard(self):
        text = "00\n" + " " * 102 + "Feb 15"
        assert parse_date(text)["match"] is None


class TestAllDatesPrepared:
    def test_monthname_slash_dd_yyyy(self):
        text = prepare_text("Mar/05/2016")
        assert first_value(all_dates(text)) == "2016-03-05"

    def test_dd_monthname_yyyy(self):
        text = prepare_text("30-June-2016")
        assert first_value(all_dates(text)) == "2016-06-30"

    @pytest.mark.parametrize("dash", ["–", "—", "‒", "﹘"])
    def test_non_standard_hyphen(self, dash):
        text = prepare_text(f"2016{dash}02{dash}04T20:25:01")
        assert first_value(all_dates(text)) == "2016-02-04"

    def test_junk_separated_numeric(self):
        assert first_value(all_dates(prepare_text("04\\'30\\'2016"))) == "2016-04-30"
        assert first_value(all_dates(prepare_text("4'06'2016"))) == "2016-04-06"
        assert first_value(all_dates(prepare_text("04|06|2016"))) == "2016-04-06"

    def test_monthname_dd_junk_yyyy(self):
        assert first_value(all_dates(prepare_text("Mar30'2016"))) == "2016-03-30"

    def test_time_junk_separators(self):
        assert first_value(all_dates(prepare_text("2016-02-01T23;59|41"))) == "2016-02-01"


class TestAllDates:
    def test_en_monthname_middle_endian(self):
        assert first_value(all_dates("Mar 30 2016")) == "2016-03-30"

    def test_es_monthname_little_endian(self):
        assert first_value(all_dates("15 Dic 2016")) == "2016-12-15"

    @pytest.mark.parametrize("text", ["4/6/2016", "4/06/2016", "04/06/2016"])
    def test_slash_dmy(self, text):
        assert first_value(all_dates(text)) == "2016-04-06"

    @pytest.mark.parametrize(
        "text", ["2016-02-04T20:25:01", "2016-02-04 20:25:01"]
    )
    def test_iso_with_time(self, text):
        assert first_value(all_dates(text)) == "2016-02-04"

    @pytest.mark.parametrize(
        "text",
        ["12-30-16", "30-12-16", "Friday 12-30-16", "Friday 30-12-16"],
    )
    def test_two_digit_year_with_dayname(self, text):
        assert first_value(all_dates(text)) == "2016-12-30"

    @pytest.mark.parametrize(
        "text",
        ["12-30-16,", "30-12-16,", "Friday, 12-30-16,", "Friday, 30-12-16,"],
    )
    def test_two_digit_year_trailing_comma(self, text):
        assert first_value(all_dates(text)) == "2016-12-30"

    @pytest.mark.parametrize("text", ["Viernes 30-12-16", "Viernes, 30-12-16,"])
    def test_es_dayname(self, text):
        assert first_value(all_dates(text)) == "2016-12-30"

    @pytest.mark.parametrize(
        "text", ["12.30.16", "30.12.16", "12.30.2016", "30.12.2016"]
    )
    def test_dot_separators(self, text):
        assert first_value(all_dates(text)) == "2016-12-30"

    @pytest.mark.parametrize(
        "text",
        ["", "date", "paid 0000-01-02", "0000/01/01", "x2016-01-02", "a5 Mar 2016"],
        ids=["empty", "no_date", "year_zero_iso", "year_zero_slash",
             "word_before_iso", "word_before_day"],
    )
    def test_no_dates(self, text):
        assert all_dates(text) == []

    @pytest.mark.parametrize(
        "text",
        ["Sep. \u017fep 5, 2016", "dec: 5 \u017fep 2016",
         "dic 15 \u017feptiembre 2016", "Jan \u017fep-5-2016",
         "jan 15 D\u0131c 2016", "jan 15 D\u0130C 2016"],
        ids=["long_s_middle", "long_s_little", "long_s_es", "long_s_repair",
             "dotless_i_es", "dotted_i_es"],
    )
    def test_non_ascii_month_stem_is_no_match(self, text):
        # Python's re.I folds these letters onto s / i; a month stem must
        # be ASCII (another month stem in the text opens the stem gate)
        assert all_dates(prepare_text(text)) == []
        assert parse_date(text)["match"] is None

    def test_non_ascii_letter_after_stem_still_folds(self):
        assert parse_date("Apr\u0131l 5, 2016")["match"] == "2016-04-05"

    @pytest.mark.parametrize(
        "text, index, found",
        [("2016-01-02 paid", 0, "2016-01-02"), ("paid 2016-01-02", 5, "2016-01-02"),
         ("Mar 5 2016 x", 0, "Mar 5 2016"), ("x 5 Mar 2016", 2, "5 Mar 2016")],
        ids=["iso_start", "iso_end", "month_start", "day_end"],
    )
    def test_date_at_text_edges(self, text, index, found):
        m = parse_date(text)["matches"][0]
        assert (m.index, m.text) == (index, found)

    @pytest.mark.parametrize(
        "text",
        ["06-13", "2016-06", "2016", "Pay in 60 days"],
    )
    def test_partial_dates_rejected(self, text):
        assert all_dates(text) == []

    def test_invalid_read_date(self):
        assert all_dates("2016-OB-13") == []

    def test_euro_phone_number(self):
        assert all_dates("53-26-90-00") == []


class TestEarliest:
    def test_earliest(self):
        text = "Date: 02/05/2016 Purchased: Feb/01/2016\nAnother date: 2016-02-07"
        values = all_dates(prepare_text(text))
        assert extract_earliest(values).isoformat() == "2016-02-01"


class TestFirst:
    def test_first(self):
        text = "Date: 02/05/2016 Purchased: Feb/01/2016\nAnother date: Feb/07/2016"
        values = all_dates(prepare_text(text))
        assert extract_first(values).isoformat() == "2016-02-05"

    def test_first_config(self):
        text = "Date: 02/05/2016 Purchased: Feb/01/2016"
        assert parse_date(text, {"parser": "first"})["match"] == "2016-02-05"
