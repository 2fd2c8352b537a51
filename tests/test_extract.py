"""HTML stripper, PDF text layer, format sniff — plus the full
generator↔extractor↔parser golden round-trip (north rule:
byte-identical extracted_text per url)."""

import pytest

from receipt_scanner_spark.extract.html import extract_main_text
from receipt_scanner_spark.extract.pdf import (
    NO_IMAGES_ERROR,
    OCR_UNAVAILABLE_ERROR,
    extract_pdf_text,
    process_pdf,
)
from receipt_scanner_spark.extract.sniff import sniff_format, unsupported_error
from receipt_scanner_spark.parsers.registry import parse_text
from receipt_scanner_spark.sources.pages import generate_pages, make_pdf


class TestSniff:
    @pytest.mark.parametrize(
        "data,fmt",
        [
            (b"%PDF-1.4\nxx", "pdf"),
            (b"<!DOCTYPE html><html>", "html"),
            (b"  \n<html lang='en'>", "html"),
            (b"\x89PNG\r\n\x1a\nxxx", "image/png"),
            (b"\xff\xd8\xff\xe0junk", "image/jpeg"),
            (b"GIF89aaaa", "image/gif"),
            (b"", "empty"),
            (None, "empty"),
            (b"just some plain text receipt total $5.00", "text"),
            (bytes([0, 1, 2, 3, 255, 254]), "application/octet-stream"),
        ],
    )
    def test_magic_bytes(self, data, fmt):
        assert sniff_format(data) == fmt

    def test_unsupported_error_value(self):
        # processor.js:64 error string shape
        assert unsupported_error("text/plain") == "Unsupported format: text/plain"

    def test_webp_magic(self):
        assert (
            sniff_format(b"RIFF\x00\x01\x00\x00WEBPVP8 rest") == "image/webp"
        )
        # RIFF without WEBP fourcc is NOT webp (e.g. WAV)
        assert sniff_format(b"RIFF\x00\x01\x00\x00WAVEfmt ") != "image/webp"

    def test_tiff_magic(self):
        assert sniff_format(b"II*\x00rest") == "image/tiff"
        assert sniff_format(b"MM\x00*rest") == "image/tiff"

    def test_text_starting_bm_is_not_a_bitmap(self):
        """'BM' is a weak magic: a page that starts with it keeps its
        text, and the multimodal sniffer agrees it is no image."""
        import pandas as pd

        from receipt_scanner_spark.functions.udfs import build_process_udf
        from receipt_scanner_spark.operators.multimodal import sniff_image_dims

        page = b"BMI calculator: enter your height and weight. Total $5.00"
        assert sniff_format(page) == "text"
        row = build_process_udf().func(pd.Series([page]), pd.Series([None])).iloc[0]
        assert (row["format"], row["extracted_text"], row["error"]) == (
            "text", page.decode(), None)
        assert row["amount"] == "5.00"
        assert sniff_image_dims(page) == ("unknown", None, None, "unrecognized magic")
        # a header-only BMP (BITMAPINFOHEADER size, offset inside) still is one
        stub = (b"BM" + b"\x00" * 12 + b"\x28\x00\x00\x00"
                + b"\x40\x00\x00\x00\xd0\xff\xff\xff" + b"\x00" * 8)
        assert sniff_format(stub) == "image/bmp"

    @pytest.mark.parametrize("page", [
        b"BMI calculator",  # too short for a DIB header
        b"BMW 320i service invoice. Total $5.00",
        b"BM\x00\x00\x00\x00 reserved zero, text after it: total $5.00",
        b"BM" + b"\x00" * 16 + b"zero file header, no DIB header size",
    ])
    def test_bm_text_without_a_dib_header_is_not_a_bitmap(self, page):
        from receipt_scanner_spark.operators.multimodal import sniff_image_dims

        assert sniff_format(page) != "image/bmp"
        assert sniff_image_dims(page)[0] != "bmp"

    @pytest.mark.parametrize("reserved", [b"\x00\x00\x00\x00", b"\x01\x00\x00\x00", b"GIMP"])
    def test_bmp_reserved_words_are_application_defined(self, reserved):
        """bfReserved1/2 may hold anything; the DIB header size names
        the format (2×2, 24-bit, BITMAPINFOHEADER)."""
        import struct

        import numpy as np

        from receipt_scanner_spark.extract.imaging import decode_bmp
        from receipt_scanner_spark.operators.multimodal import sniff_image_dims

        rows = b"\x00\x00\x00\xff\xff\xff\x00\x00" + b"\x80\x80\x80\x10\x10\x10\x00\x00"
        info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
        bmp = b"BM" + struct.pack("<I", 54 + len(rows)) + reserved + struct.pack("<I", 54) + info + rows
        assert sniff_format(bmp) == "image/bmp"
        assert sniff_image_dims(bmp) == ("bmp", 2, 2, None)
        np.testing.assert_array_equal(decode_bmp(bmp), [[128, 16], [0, 255]])


class TestGzipTransparency:
    def test_gzip_html_extracts(self):
        import gzip

        from receipt_scanner_spark.functions.udfs import extract_row

        html = (
            b"<html><body><main><p>Gzipped receipt total $7.77 today"
            b"</p></main></body></html>"
        )
        fmt, text, err = extract_row(gzip.compress(html), None)
        assert fmt == "html" and err is None
        assert "$7.77" in text

    def test_gzip_pdf_extracts(self):
        import gzip

        from receipt_scanner_spark.functions.udfs import extract_row
        from receipt_scanner_spark.sources.pages import make_pdf

        pdf = make_pdf([["TOTAL $8.88"]])
        fmt, text, err = extract_row(gzip.compress(pdf), None)
        assert fmt == "pdf" and err is None and "TOTAL $8.88" in text

    def test_corrupt_gzip_stays_octet_stream(self):
        from receipt_scanner_spark.extract.sniff import maybe_gunzip

        bad = b"\x1f\x8b\x08\x00garbage that is not deflate"
        assert maybe_gunzip(bad) == bad  # error-as-value passthrough

    def test_gzip_bomb_capped(self):
        import gzip

        from receipt_scanner_spark.extract.sniff import maybe_gunzip

        bomb = gzip.compress(b"\x00" * (40 << 20))  # 40 MB > 16 MB cap
        assert maybe_gunzip(bomb) == bomb  # refused, original returned

    def test_non_gzip_untouched(self):
        from receipt_scanner_spark.extract.sniff import maybe_gunzip

        for b in (None, b"", b"<html>", b"\x1f"):
            assert maybe_gunzip(b) == b


class TestDocumentBudget:
    """A payload over 16 MiB (after gunzip) or an upstream text over 16 Mi
    characters is the designed error value ``Document too large: <n>
    bytes``, its format still sniffed; a row at the cap is read."""

    CAP = 16 << 20
    TAIL = "TOTAL $5.00 on 2016-01-02"
    PNG = b"\x89PNG\r\n\x1a\n"

    def cases(self):
        cap = self.CAP
        return [
            # (url, html, text) → (format, extracted_text, error, amount, date)
            ("payload-at-cap", self.PNG + bytes(cap - len(self.PNG)), None,
             ("image/png", None, OCR_UNAVAILABLE_ERROR, None, None)),
            ("payload-over", self.PNG + bytes(cap + 1 - len(self.PNG)), None,
             ("image/png", None, f"Document too large: {cap + 1} bytes", None, None)),
            ("html-over", b"<html>" + b" " * (cap + 1 - 6), None,
             ("html", None, f"Document too large: {cap + 1} bytes", None, None)),
            ("text-at-cap", None, self.TAIL + " " * (cap - len(self.TAIL)),
             ("empty", self.TAIL + " " * (cap - len(self.TAIL)), None, "5.00", "2016-01-02")),
            # over in characters; n counts its UTF-8 bytes
            ("text-over", None, "é" + " " * cap,
             ("empty", None, f"Document too large: {cap + 2} bytes", None, None)),
        ]

    def test_extract_row(self, monkeypatch):
        import pandas as pd

        from receipt_scanner_spark.extract.sniff import MAX_DOC_BYTES
        from receipt_scanner_spark.functions import udfs

        assert MAX_DOC_BYTES == self.CAP
        # no stripper, PDF or OCR call for a row over the cap
        for name in ("extract_main_text", "process_pdf", "image_text"):
            monkeypatch.setattr(udfs, name, None)
        cases = self.cases()
        for url, html, text, want in cases:
            fmt, extracted, error = udfs.extract_row(html, text)
            assert (fmt, extracted, error) == want[:3], url
        out = udfs.process_udf.func(
            pd.Series([html for _, html, _, _ in cases], dtype=object),
            pd.Series([text for _, _, text, _ in cases], dtype=object))
        got = list(out[["format", "extracted_text", "error", "amount", "date"]]
                   .itertuples(index=False, name=None))
        assert got == [want for *_, want in cases]

    def test_extract_pages(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from receipt_scanner_spark.plans.pipeline import extract_pages, read_pages

        cases = self.cases()
        # through parquet, not the driver: no pickled copy on the JVM heap
        pq.write_table(pa.table({
            "url": [url for url, *_ in cases],
            "warc_ts": pa.array([None] * len(cases), pa.timestamp("us")),
            "html": pa.array([html for _, html, _, _ in cases], pa.binary()),
            "text": pa.array([text for _, _, text, _ in cases], pa.string()),
            "lang": ["en"] * len(cases),
        }), tmp_path / "pages.parquet", row_group_size=1)
        pages = read_pages(spark, str(tmp_path / "pages.parquet"))
        got = {r.url: (r.format, r.extracted_text, r.error, r.amount, r.date)
               for r in extract_pages(pages, observe=False).collect()}
        assert got == {url: want for url, _, _, want in cases}


class TestHtmlStripper:
    def test_drops_chrome_and_linkfarms(self):
        html = (
            "<html><head><title>T</title><style>x{}</style>"
            "<script>var a=1;</script></head><body>"
            "<nav><a href='/'>Home</a> <a href='/x'>X</a></nav>"
            "<header><a href='/acc'>Account</a></header>"
            "<main><p>Real content line one with words</p>"
            "<p>Total: $5.00</p></main>"
            "<div><ul><li><a href='/1'>link one</a></li>"
            "<li><a href='/2'>link two</a></li></ul></div>"
            "<footer><a href='/t'>Terms</a> (c) 2016</footer>"
            "</body></html>"
        )
        assert extract_main_text(html) == "Real content line one with words\nTotal: $5.00"

    def test_whitespace_normalization_deterministic(self):
        html = b"<html><body><p>  a\n\t b   c </p><p>d</p></body></html>"
        assert extract_main_text(html) == "a b c\nd"
        assert extract_main_text(html) == extract_main_text(html)

    def test_entities_decoded(self):
        html = "<html><body><p>Fish &amp; chips &#8364;5,00 cost</p></body></html>"
        assert extract_main_text(html) == "Fish & chips €5,00 cost"

    def test_malformed_html_never_raises(self):
        assert isinstance(extract_main_text(b"<p>ok</p><div <<< &nope;"), str)

    def test_inline_links_kept_when_minority(self):
        html = ("<html><body><p>A long paragraph of real prose where only "
                "<a href='/x'>one link</a> appears among many words</p></body></html>")
        assert "one link" in extract_main_text(html)


class TestPdf:
    def test_single_page(self):
        pdf = make_pdf([["Total: $6,000.00", "Date: 2016-06-13"]])
        r = process_pdf(pdf)
        assert r.error is None
        assert r.text == "Total: $6,000.00\nDate: 2016-06-13"

    def test_multipage_joined_with_space(self):
        # pdf_processor.js:31 — pages joined with ' '
        pdf = make_pdf([["page one line"], ["page two line"]])
        assert process_pdf(pdf).text == "page one line page two line"

    def test_flate_compressed(self):
        pdf = make_pdf([["compressed total $9.99"]], compress=True)
        assert process_pdf(pdf).text == "compressed total $9.99"

    def test_blank_pdf_no_images_error(self):
        # processor_spec.js:51-58 golden error
        r = process_pdf(make_pdf([], blank=True))
        assert r.text is None and r.error == NO_IMAGES_ERROR

    def test_blank_pdf_with_images_needs_ocr(self):
        r = process_pdf(make_pdf([], blank=True, with_image=True))
        assert r.error == OCR_UNAVAILABLE_ERROR

    def test_pdf_image_extraction_file_order_and_decode(self):
        from receipt_scanner_spark.extract.pdf import _iter_image_payloads

        def payloads(pdf):
            return [data for _h, data, _codec in _iter_image_payloads(pdf)]

        # make_pdf: image i pixels are bytes([i]) * (i+1); image 1 was
        # flate-compressed inside the PDF and arrives decoded here
        pdf = make_pdf([], blank=True, with_image=3)
        assert payloads(pdf) == [b"\x00", b"\x01\x01", b"\x02\x02\x02"]
        # text-layer PDFs have no image XObjects
        assert payloads(make_pdf([["hello"]])) == []

    def test_blank_pdf_all_corrupt_images_no_images_error(self):
        """Corrupt (truncated-flate) image streams are skipped; if none
        survive, the gate reports the reference's exact error value —
        same as pdfimages producing no files."""
        import zlib as _z

        good = _z.compress(b"\x07" * 4)
        trunc = good[: len(good) - 4]
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image"
            b" /Filter /FlateDecode /Length " + str(len(trunc)).encode()
            + b" >>\nstream\n" + trunc + b"\nendstream\nendobj\n"
        )
        r = process_pdf(pdf)
        assert r.text is None and r.error == NO_IMAGES_ERROR

    def test_escaped_strings(self):
        pdf = make_pdf([[r"paren (test) and \ backslash"]])
        assert process_pdf(pdf).text == r"paren (test) and \ backslash"

    def test_non_pdf_bytes(self):
        assert process_pdf(b"garbage").error is not None


class TestGoldenRoundTrip:
    """The e2e contract: generator goldens == extractor+parser output,
    byte-identical per url."""

    @pytest.fixture(scope="class")
    def corpus(self):
        return generate_pages(n_rows=400, seed=42)

    def test_determinism(self, corpus):
        pages2, goldens2 = generate_pages(n_rows=400, seed=42)
        pages, goldens = corpus
        assert pages.equals(pages2) and goldens.equals(goldens2)

    def test_extraction_and_parse_match_goldens(self, corpus):
        pages, goldens = corpus
        n_checked = {"html": 0, "pdf": 0, "image": 0, "empty": 0, "error": 0}
        for row, g in zip(pages.itertuples(), goldens.itertuples()):
            fmt = sniff_format(row.html)
            if fmt == "html":
                extracted, error = extract_main_text(row.html), None
                n_checked["html"] += 1
            elif fmt == "pdf":
                r = process_pdf(bytes(row.html))
                extracted, error = r.text, r.error
                n_checked["pdf" if error is None else "error"] += 1
            elif fmt.startswith("image/"):
                extracted, error = row.text, None
                n_checked["image"] += 1
            elif fmt == "empty":
                extracted, error = (row.text or ""), None
                n_checked["empty"] += 1
            else:
                extracted, error = None, unsupported_error(fmt)
                n_checked["error"] += 1

            assert error == g.error, (row.url, error, g.error)
            assert extracted == g.extracted_text or (
                extracted is None and g.extracted_text is None
            ), (row.url, extracted, g.extracted_text)

            if extracted is not None:
                parsed = parse_text(extracted)
                assert parsed["amount"] == g.amount, (row.url, extracted)
                assert parsed["date"] == g.date, (row.url, extracted)

        # every row kind must actually occur in the corpus
        assert all(v > 0 for v in n_checked.values()), n_checked


class TestFastStripperParity:
    """html_fast is the production stripper; html.py is its executable
    spec.  Parity must hold on everything sniff routes to HTML."""

    def test_corpus_parity(self):
        from receipt_scanner_spark.extract.html_fast import extract_main_text_fast

        for seed in (42, 7, 123):
            pages, _ = generate_pages(n_rows=300, seed=seed)
            for h in pages.html:
                b = bytes(h)
                if sniff_format(b) in ("html", "text"):
                    assert extract_main_text(b) == extract_main_text_fast(b)

    @pytest.mark.parametrize(
        "case",
        [
            b"<html><body><p>  a\n\t b   c </p><p>d</p></body></html>",
            b'<html><body><p data-x="a>b">kept text</p></body></html>',
            b"<p>first line<p>second line $9.99<div>third",
            b"<br/><p>x</p><a/><nav/>after</nav>",
            b"<script>var a = '<p>not content</p>';</script><p>real</p>",
            b"<ScRiPt>x</sCrIpT><P>CASE</P>",
            b"<p>fish &amp; chips &#8364;5 &notreal; &</p>",
            b"<p>unterminated <!-- comment",
            b"<p>lone < bracket and a<b tag</p>",
            b"<style>p{content:'</notstyle>'}</style><p>y</p>",
            b"",
        ],
    )
    def test_adversarial_parity(self, case):
        from receipt_scanner_spark.extract.html_fast import extract_main_text_fast

        assert extract_main_text(case) == extract_main_text_fast(case)


class TestSubtreeSkip:
    """The fast stripper's clean scan jumps over clean chrome subtrees
    (nav/header/footer/aside/form, drop_chrome profiles only) and clean
    drop subtrees such as head.  Every shape that must end a skip early and
    fall back to the token-by-token scan is checked against the spec under
    all four profiles."""

    CASES = {
        "nested_identical_chrome": "<nav><nav>a</nav>b</nav><p>main</p>",
        "nested_identical_header": "<header>x<header>y</header>z</header><p>main</p>",
        "menu_in_paragraph": "<p>before<menu>m</menu>after</p><p>main</p>",
        "menu_in_nav": "<nav><menu><a href=/m>m</a></menu>n</nav><p>main</p>",
        "nav_in_menu": "<p>a<menu><nav>n</nav>b</menu>c</p>",
        "form_block_and_chrome": "<p>lead<form>f<input name=q>g</form>tail</p>",
        "form_with_controls": (
            "<form><select><option>o</option></select><button>b</button>t</form>"
            "<p>main</p>"
        ),
        "unclosed_link_in_chrome": "<nav><a href='/x'>x</nav><p>main text here</p>",
        "stray_link_close_in_chrome": "<a href=/o>out<nav></a>n</nav>side text<p>main</p>",
        "nested_links_in_chrome": "<nav><a href=/a><a href=/b>b</a></a></nav><p>main</p>",
        "link_spans_chrome_closer": "<nav><a href=/a>a</nav>tail</a><p>main</p>",
        "drop_tag_in_chrome": "<nav><button>b</nav><p>main</p></button><p>after</p>",
        "drop_close_in_chrome": "<button><nav></button>n</nav>rest</button><p>main</p>",
        "script_in_chrome": "<nav><script>var s='</nav>';</script>n</nav><p>main</p>",
        "style_in_chrome": "<footer><style>p{}</style>f</footer><p>main</p>",
        "unclosed_script_in_chrome": "<aside><script>x</aside><p>main</p>",
        "comment_in_chrome": "<nav><!-- </nav> -->n</nav><p>main</p>",
        "bogus_tag_in_chrome": "<nav><!x>n<a b='c\"d'>l</a></nav><p>main</p>",
        "stray_lt_in_chrome": "<nav>a < b</nav><p>main</p>",
        "closer_upper_space": "<nav><a href=/h>h</a></NAV ><p>main</p>",
        "closer_newline": "<nav>n</nav\n><p>main</p>",
        "closer_with_junk": "<nav>n</nav x><p>main</p></nav><p>after</p>",
        "chrome_never_closed": "<nav><a href=/h>h</a><p>main</p>",
        "chrome_in_drop_subtree": "<noscript><nav>n</nav>x</noscript><p>main</p>",
        "chrome_in_template": "<template><header><a href=/>h</a></header></template>p",
        "startend_chrome": "<p>a<nav/>b<header/>c</p>",
        "upper_case_chrome": "<NAV><A HREF='/'>h</A></NAV><Header>x</Header><p>main</p>",
        "entities_in_chrome": "<nav>&amp; &lt;x &notreal;</nav><p>fish &amp; chips</p>",
        "whitespace_only_blocks": "<nav> </nav><p> </p><p>hi</p>",
        "head_with_block_tag": "<head><title>t</title><p>x</p></head>lead<p>main</p>",
        "head_text_joins_block": "<p>one<head><title>t</title></head>two</p>",
        "head_with_link": "<head><a href=/x>x</head>text<p>main</p>",
        "head_never_closed": "<head><title>t</title><p>main</p>",
        "head_script_hides_closer": "<head><script>'</head>'</script></head><p>main</p>",
        "head_script_unclosed": "<head><script>x</head><p>main</p>",
        "nested_head": "<head><head>x</head>y</head><p>main</p>",
        "head_closer_upper": "<p>a<HEAD><TITLE>t</TITLE></HEAD >b</p>",
        "chrome_in_head": "<head><nav>n</nav></head><p>main</p>",
    }

    @pytest.mark.parametrize("profile", ["default", "lenient", "aggressive", "raw"])
    @pytest.mark.parametrize("case", list(CASES))
    def test_matches_spec(self, case, profile):
        from receipt_scanner_spark.extract.profiles import (
            extract_with_profile,
            extract_with_profile_spec,
        )

        html = self.CASES[case]
        assert extract_with_profile(html, profile) == extract_with_profile_spec(
            html, profile
        )

    def test_generated_subtrees_are_skippable(self):
        """The skip must hold on the common shape, or the stripper silently
        falls back to the slow path: every chrome and head subtree of a
        generated page matches its body grammar up to its closer."""
        import re

        from receipt_scanner_spark.extract import html_fast as H

        pages, _ = generate_pages(n_rows=60, seed=3)
        n = 0
        for h in pages.html:
            if h is None or sniff_format(bytes(h)) != "html":
                continue
            text = bytes(h).decode()
            for tag, body in (("nav", H._CHROME_BODY), ("header", H._CHROME_BODY),
                              ("aside", H._CHROME_BODY), ("footer", H._CHROME_BODY),
                              ("head", H._DROP_BODY)):
                start = re.search(f"<{tag}>", text).end()
                close = H._SUBTREE_CLOSERS[tag].search(text, start).start()
                assert body.match(text, start, close).end() == close, (tag, text)
                n += 1
        assert n > 100


class TestStripperScopeBoundary:
    """Historical note: before the faithful html.parser-mirror rewrite,
    non-HTML binary could tokenize differently between the spec and the
    fast stripper.  Parity now holds on arbitrary bytes too (pinned by
    the corpus sweeps + hypothesis), but the routing guarantee is still
    worth its own assertion: PDF bytes take the PDF branch."""

    def test_pdf_bytes_never_reach_stripper(self):
        from receipt_scanner_spark.extract.sniff import sniff_format
        from receipt_scanner_spark.functions.udfs import extract_row
        from receipt_scanner_spark.sources.pages import generate_pages

        pages, _ = generate_pages(n_rows=2000, seed=42)
        n_pdf = 0
        for h, t in zip(pages["html"], pages["text"]):
            if h is None:
                continue
            fmt = sniff_format(bytes(h))
            if fmt == "pdf":
                n_pdf += 1
                out_fmt, _txt, _err = extract_row(h, t)
                # routing agrees with the sniff: handled by the pdf branch
                assert out_fmt == "pdf"
        assert n_pdf > 0  # the corpus does exercise this boundary


class TestStripperAdversarialLinear:
    """Pathological pages must stay O(n): the regex-alternation design
    made each unterminated '<!--' scan to EOF (measured 59 s on
    '<!--'*50k); the explicit loop with exhausted-terminator memos does
    one scan per flood class.  Time caps carry 50-100x margin so host
    noise cannot flake them."""

    CASES = {
        "comment_flood": "<!--" * 50_000,
        "cdata_flood": "<![CDATA[" * 30_000,
        "doctype_flood": "<!x" * 100_000,
        "unterminated_tag_flood": ("<div " + "a" * 1000) * 1000,
        "stray_flood": "<" * 200_000,
    }

    def test_linear_on_floods(self):
        import time

        from receipt_scanner_spark.extract.html_fast import extract_main_text_fast

        for name, s in self.CASES.items():
            t0 = time.time()
            extract_main_text_fast(s)
            assert time.time() - t0 < 5.0, f"{name} is superlinear again"

    def test_flood_outputs_match_spec(self):
        from receipt_scanner_spark.extract.html import extract_main_text
        from receipt_scanner_spark.extract.html_fast import extract_main_text_fast

        # spec (html.parser) is fast on these shapes — compare outputs
        for name, s in self.CASES.items():
            assert extract_main_text_fast(s) == extract_main_text(s), name


class TestPdfDecompressionBomb:
    def test_bomb_stream_skipped_bounded(self):
        """A FlateDecode stream expanding past the 16 MB cap is skipped
        like a corrupt stream (document survives, bounded memory)."""
        import time
        import zlib

        from receipt_scanner_spark.extract.pdf import process_pdf

        bomb = zlib.compress(b"\x00" * 64_000_000)  # 64 MB expansion
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(bomb)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + bomb
            + b"\nendstream\nendobj\n"
        )
        t0 = time.time()
        r = process_pdf(pdf)
        assert time.time() - t0 < 5.0
        # no text layer, no images -> the reference's exact error value
        assert r.text is None and r.error == "No images found in PDF"

    def test_normal_flate_stream_still_decodes(self):
        import zlib

        from receipt_scanner_spark.extract.pdf import process_pdf

        body = zlib.compress(b"BT (hello total 5.00) Tj ET")
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + body
            + b"\nendstream\nendobj\n"
        )
        r = process_pdf(pdf)
        assert r.error is None and "hello total 5.00" in r.text

    def test_truncated_flate_stream_skipped(self):
        """A TRUNCATED FlateDecode stream must be skipped like a corrupt
        one: decompressobj returns partial bytes without raising (and
        unconsumed_tail stays empty), so the skip is gated on d.eof —
        partial garbage must never enter the text layer (ADVICE r01)."""
        import zlib

        from receipt_scanner_spark.extract.pdf import process_pdf

        full = zlib.compress(b"BT (partial garbage total 9.99) Tj ET" * 50)
        truncated = full[: len(full) // 2]  # decodes partially, no zlib EOF
        # sanity: the old path really would return partial bytes silently
        d = zlib.decompressobj()
        partial = d.decompress(truncated, 16 * 1024 * 1024)
        assert partial and not d.unconsumed_tail and not d.eof
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(truncated)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + truncated
            + b"\nendstream\nendobj\n"
        )
        r = process_pdf(pdf)
        assert r.text is None and r.error == "No images found in PDF"


class TestPdfImageArrays:
    """extract_pdf_image_arrays: REAL raster decode of embedded images
    (r3) — Flate 8-bit DeviceRGB/DeviceGray reshape to (h, w) luma;
    DCTDecode and corrupt streams are error-as-value pairs."""

    @staticmethod
    def _img_obj(samples: bytes, w: int, h: int, cs: str, dct=False) -> bytes:
        import zlib as _z

        if dct:
            filt, body = b"/DCTDecode", samples
        else:
            filt, body = b"/FlateDecode", _z.compress(samples)
        return (
            b"1 0 obj\n<< /Type /XObject /Subtype /Image /Width "
            + str(w).encode() + b" /Height " + str(h).encode()
            + b" /BitsPerComponent 8 /ColorSpace /" + cs.encode()
            + b" /Filter " + filt + b" /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream\nendobj\n"
        )

    def test_rgb_and_gray_decode(self):
        import numpy as np

        from receipt_scanner_spark.extract.pdf import extract_pdf_image_arrays

        rng = np.random.default_rng(3)
        rgb = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
        gray = rng.integers(0, 256, size=(3, 2), dtype=np.uint8)
        pdf = (b"%PDF-1.4\n"
               + self._img_obj(rgb.tobytes(), 5, 4, "DeviceRGB")
               + self._img_obj(gray.tobytes(), 2, 3, "DeviceGray"))
        out = extract_pdf_image_arrays(pdf)
        assert len(out) == 2
        px0, err0 = out[0]
        r, g, b = (rgb[:, :, i].astype(np.uint32) for i in range(3))
        np.testing.assert_array_equal(
            px0, ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8))
        assert err0 is None
        px1, err1 = out[1]
        np.testing.assert_array_equal(px1, gray)
        assert err1 is None

    def test_dct_and_corrupt_are_error_values(self):
        import zlib as _z

        from receipt_scanner_spark.extract.pdf import extract_pdf_image_arrays

        good = _z.compress(b"\x08" * 6)
        pdf = (b"%PDF-1.4\n"
               + self._img_obj(b"\xff\xd8\xffjpegbytes", 2, 2, "DeviceRGB", dct=True)
               + b"2 0 obj\n<< /Type /XObject /Subtype /Image /Width 2"
               b" /Height 3 /BitsPerComponent 8 /ColorSpace /DeviceGray"
               b" /Filter /FlateDecode /Length "
               + str(len(good) - 4).encode()
               + b" >>\nstream\n" + good[:-4] + b"\nendstream\nendobj\n")
        out = extract_pdf_image_arrays(pdf)
        assert len(out) == 2
        assert out[0][0] is None and "DCT" in out[0][1]
        assert out[1][0] is None and out[1][1] is not None


class TestCorpusPageTreePdfs:
    """r4: the driver-visible corpus routes docs through the page-tree
    PDF branch (classic xref, scrambled file order, some RC4-encrypted
    with an empty user password) — VERDICT r3 item #4."""

    def test_tree_pdfs_present_and_tree_ordered(self):
        pages_pd, goldens = generate_pages(n_rows=500, seed=42)
        n_tree = n_enc = n_legacy_pdf = 0
        proved_order = False
        for (_, row), (_, g) in zip(pages_pd.iterrows(), goldens.iterrows()):
            b = bytes(row.html) if row.html is not None else b""
            # text-layer PDFs only (blank PDFs carry an error golden;
            # compressed/encrypted streams hide the literal 'BT')
            if not b.startswith(b"%PDF") or g.extracted_text is None:
                continue
            if b"startxref" not in b:
                n_legacy_pdf += 1
                continue
            n_tree += 1
            encrypted = b"/Encrypt" in b
            n_enc += encrypted
            r = extract_pdf_text(b)
            assert " ".join(r.pages) == g.extracted_text, row.url
            if len(r.pages) > 1 and not encrypted:
                # in-band proof the TREE branch produced the golden:
                # the same bytes without startxref take the legacy
                # file-order scan, and the writer scrambles file order,
                # so the fallback must NOT reproduce the golden
                scan = extract_pdf_text(b[: b.rfind(b"xref")])
                assert " ".join(scan.pages) != g.extracted_text, row.url
                assert scan.pages == r.pages[::-1], row.url
                proved_order = True
        assert n_tree >= 5, n_tree          # slice actually populated
        assert n_enc >= 1, n_enc            # encrypted path covered
        assert n_legacy_pdf >= 5, n_legacy_pdf  # fallback still covered
        assert proved_order                 # ≥1 multi-page scramble proof

    def test_tree_writer_fuzz_round_trip(self):
        # deterministic fuzz: random page structures through the tree
        # writer (plain / compressed / encrypted) must extract exactly,
        # in tree order, with the scramble-reversal property holding
        import random

        from receipt_scanner_spark.sources.pages import make_pdf_tree

        rng = random.Random(99)
        alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 $.,:#()-/"
        for trial in range(40):
            pages = [
                [
                    "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 60)))
                    for _ in range(rng.randrange(1, 6))
                ]
                for _ in range(rng.randrange(1, 5))
            ]
            compress = rng.random() < 0.5
            encrypt = rng.random() < 0.3
            pdf = make_pdf_tree(pages, compress=compress, encrypt=encrypt)
            got = extract_pdf_text(pdf).pages
            assert got == ["\n".join(p) for p in pages], (trial, compress, encrypt)
