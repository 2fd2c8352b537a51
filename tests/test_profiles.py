"""Preprocessing profiles (I12-I14 surface): fast-vs-spec parity per
profile, default byte-identity, behavior deltas, and the preprocessor
benchmark analog with its CI gate."""

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from receipt_scanner_spark.extract.html import extract_main_text
from receipt_scanner_spark.extract.html_fast import extract_main_text_fast
from receipt_scanner_spark.extract.profiles import (
    PROFILES,
    StripperProfile,
    extract_with_profile,
    extract_with_profile_spec,
)

SETTINGS = settings(
    max_examples=150, deadline=None, suppress_health_check=list(HealthCheck)
)

PAGE = (
    b"<html><head><title>t</title><style>x{}</style></head><body>"
    b"<nav><a href='/a'>Home</a> <a href='/b'>Shop</a></nav>"
    b"<header><a href='/'>ACME</a> corp header text</header>"
    b"<main><p>Receipt for your purchase, total $12.34 on 2016-03-05."
    b" Thanks for shopping with us, see you again soon.</p>"
    b"<p>VAT</p></main>"
    b"<div><a href='/x'>link</a> <a href='/y'>farm</a> <a href='/z'>here</a></div>"
    b"<footer><a href='/terms'>Terms</a></footer></body></html>"
)


class TestProfileSemantics:
    def test_default_profile_is_byte_identical_to_contract_path(self):
        assert extract_with_profile(PAGE, "default") == extract_main_text(PAGE)
        assert extract_with_profile(PAGE, "default") == extract_main_text_fast(PAGE)

    def test_lenient_keeps_chrome_and_linkfarms(self):
        default = extract_with_profile(PAGE, "default")
        lenient = extract_with_profile(PAGE, "lenient")
        assert "corp header text" not in default
        assert "corp header text" in lenient
        assert "link farm here" not in default
        assert len(lenient) > len(default)

    def test_aggressive_drops_short_blocks(self):
        default = extract_with_profile(PAGE, "default")
        aggressive = extract_with_profile(PAGE, "aggressive")
        assert "VAT" in default  # receipt-style short line kept by default
        assert "VAT" not in aggressive  # < 16 chars
        assert "total $12.34" in aggressive  # main content survives

    def test_raw_keeps_everything_nonempty(self):
        raw = extract_with_profile(PAGE, "raw")
        for frag in ("Home Shop", "corp header text", "link farm here", "Terms"):
            assert frag in raw

    def test_unknown_profile_raises(self):
        with pytest.raises(KeyError):
            extract_with_profile(PAGE, "nope")

    @pytest.mark.parametrize("profile", [*PROFILES, None])
    def test_udf_html_path_runs_the_profile(self, profile):
        """The fused UDF's one stripper call equals the named profile's
        stripper; None is the default profile."""
        import pandas as pd

        from receipt_scanner_spark.functions.udfs import build_process_udf

        out = build_process_udf(profile=profile).func(pd.Series([PAGE]), pd.Series([None]))
        assert out.iloc[0]["extracted_text"] == extract_with_profile(PAGE, profile or "default")


_tag = st.sampled_from(
    ["p", "div", "a", "nav", "span", "li", "script", "header", "footer", "b"]
)
_frag = st.one_of(
    st.text(alphabet=string.printable, max_size=25),
    _tag.map(lambda t: f"<{t}>"),
    _tag.map(lambda t: f"</{t}>"),
    st.sampled_from(["<!-- c -->", "&amp;", "<a href='x'>", "</a>", "<br/>"]),
)


class TestProfileParity:
    """Every profile's fast path must equal the same selection rules over
    the spec segmentation — the parity contract extends beyond the
    default profile."""

    @SETTINGS
    @given(st.lists(_frag, max_size=30).map("".join), st.sampled_from(list(PROFILES)))
    def test_fast_equals_spec_per_profile(self, html, profile):
        assert extract_with_profile(html, profile) == extract_with_profile_spec(
            html, profile
        )

    def test_fixed_page_parity_all_profiles(self):
        for name in PROFILES:
            assert extract_with_profile(PAGE, name) == extract_with_profile_spec(
                PAGE, name
            ), name

    def test_zero_min_block_chars_skips_empty_blocks(self):
        # the spec drops whitespace-only blocks before selection, so a
        # zero length floor never divides by an empty block's length
        profile = StripperProfile("z", 0, 0.5, True)
        for html in (b"<p> </p><p>hi</p>", b"<nav> </nav><p>\t</p>x", b" "):
            assert extract_with_profile(html, profile) == extract_with_profile_spec(
                html, profile
            )
        assert extract_with_profile(b"<p> </p><p>hi</p>", profile) == "hi"


class TestProfileBenchmark:
    def test_benchmark_profiles_gate_and_report(self, spark, tmp_path):
        from receipt_scanner_spark.plans.pipeline import benchmark_profiles
        from receipt_scanner_spark.sources.pages import write_corpus

        write_corpus(str(tmp_path / "c"), n_rows=300, seed=42)
        pages = spark.read.parquet(str(tmp_path / "c" / "pages.parquet"))
        goldens = spark.read.parquet(str(tmp_path / "c" / "goldens.parquet"))
        report = benchmark_profiles(pages, goldens)
        assert set(report) == set(PROFILES)
        # goldens are produced by the default recipe: it must be perfect
        assert report["default"]["success_rate"] == 1.0
        assert report["default"]["grade"] == "green"
        # alternative recipes move extracted_text on html rows, so they
        # score below default on default-recipe goldens (informational,
        # like the reference's non-CI preprocessors)
        assert report["raw"]["success_rate"] < 1.0
        # the gate enforces only the gated profile
        with pytest.raises(AssertionError, match="below"):
            benchmark_profiles(pages, goldens, gate_profile="raw", min_rate=1.0)

    @pytest.mark.parametrize("kwargs", [{"gate_profile": "defualt"},
                                        {"profiles": ["raw", "lenient"]}])
    def test_unscored_gate_profile_raises_before_any_job(self, kwargs):
        """A gate that names no scored profile would gate nothing; it
        raises before the pages or goldens are read."""
        from receipt_scanner_spark.plans.pipeline import benchmark_profiles

        with pytest.raises(ValueError, match="is not scored"):
            benchmark_profiles(None, None, **kwargs)

    def test_extract_pages_profile_plumbs_through(self, spark, tmp_path):
        import datetime as dt

        from receipt_scanner_spark.plans.pipeline import PAGES_SCHEMA, extract_pages

        rows = [("http://h/x.html", dt.datetime(2024, 1, 1), bytes(PAGE), None, "en")]
        pages = spark.createDataFrame(rows, PAGES_SCHEMA)
        lenient = extract_pages(pages, observe=False, profile="lenient").first()
        default = extract_pages(pages, observe=False).first()
        assert "corp header text" in lenient["extracted_text"]
        assert "corp header text" not in default["extracted_text"]
