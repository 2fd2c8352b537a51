"""Deterministic synthetic `pages` corpus + by-construction goldens.

Input-table shape per BASELINE.json input_hint:
    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

Modeled on the reference's synthetic benchmark generator
(/root/reference/benchmark/generate.js:11-112 + benchmark/receipt.html:84-109):
an ACME-style receipt (Order/Date/Total/Tax lines, golden family
'698.00' / '2016-04-25') wrapped in boilerplate chrome, with seeded
"distortions" — where the reference rotates/washes the image, we plant
the OCR-noise forms the repair rules must fix (unicode hyphens,
``04|06|2016``, ``Mar30'2016``, ``T12;45;59`` from
test/lib/text_parser/date_parser_spec.js:40-68, paren amounts from
amount_parser_spec.js:154-162).

Fully deterministic: seeded ``random.Random``, no wall clock (the
reference's generator used unseeded Math.random — fixed here per
FIXTURES.md).  Goldens are computed BY CONSTRUCTION (the generator
knows which blocks are main content, which amount is the anchored
total, and which date is earliest) — never by running the engine, so
tests are real.

Row mix: ~88% HTML, ~5% text-layer PDFs, ~2% blank PDFs (error path),
~2% images (text column carries the upstream-OCR output), ~2% empty,
~1% garbage bytes.  Hosts follow a Zipf-ish distribution to exercise
url-host crawl skew (north rule: salted repartition must defeat it).
"""

from __future__ import annotations

import datetime as _dt
import random
import zlib

import pandas as pd

_WORDS = (
    "the quick brown fox jumps over a lazy dog while merchants tally "
    "ledgers and couriers deliver parcels across rainy market towns "
    "every weekday morning before auction bells ring twice"
).split()

_ES_WORDS = (
    "el rapido zorro salta sobre un perro perezoso mientras los "
    "comerciantes cuentan libros y los mensajeros entregan paquetes por "
    "los mercados cada manana antes de que suenen las campanas"
).split()


def _prose(rng: random.Random, n: int, lang: str) -> str:
    words = _ES_WORDS if lang == "es" else _WORDS
    return " ".join(rng.choice(words) for _ in range(n))


def _fmt_amount(value_cents: int, style: str) -> str:
    whole, cents = divmod(value_cents, 100)
    us = f"{whole:,}.{cents:02d}"
    if style == "eu":
        return us.replace(",", "\x00").replace(".", ",").replace("\x00", ".")
    return us


_NOISY_DATES = [
    # (text form planted, ISO the repair+grammar must produce)
    ("Mar30'2016", "2016-03-30"),
    ("04|06|2016", "2016-04-06"),
    ("2016–02–04T20:25:01", "2016-02-04"),
    ("2016-02-01T23;59|41", "2016-02-01"),
    ("4'06'2016", "2016-04-06"),
    ("30-June-2016", "2016-06-30"),
]

_ES_DATES = [
    ("15 Dic 2016", "2016-12-15"),
    ("3 Ene 2016", "2016-01-03"),
    ("15 de Diciembre de 2016", "2016-12-15"),
]


def _plain_date(rng: random.Random) -> tuple[str, str]:
    d = _dt.date(2016, 1, 1) + _dt.timedelta(days=rng.randrange(360))
    form = rng.randrange(3)
    if form == 0:
        return (f"{d.month}/{d.day}/{d.year}", d.isoformat())
    if form == 1:
        return (d.isoformat(), d.isoformat())
    return (d.strftime("%b %d %Y"), d.isoformat())


_CHROME_LINKS = ["Home", "Products", "Pricing", "About us", "Careers", "Contact"]


def _nav_html(rng: random.Random) -> str:
    links = "".join(f'<a href="/{w.lower().replace(" ", "-")}">{w}</a> | '
                    for w in _CHROME_LINKS)
    return f"<nav>{links}<a href='/login'>Log in</a></nav>"


def _linkfarm_html(rng: random.Random) -> str:
    # High link-density block OUTSIDE chrome tags — must be dropped by the
    # link-density rule alone (the opencv.js:165-171 analog).
    items = "".join(
        f'<li><a href="/p/{i}">Related article {i} about receipts</a></li>'
        for i in range(rng.randrange(3, 7))
    )
    return f"<div class='related'><ul>{items}</ul></div>"


def _receipt_blocks(
    rng: random.Random, lang: str, ascii_only: bool = False
) -> tuple[list[str], str | None, str | None]:
    """Main-content text blocks + (expected amount text, expected date ISO)."""
    style = "eu" if lang == "es" and rng.random() < 0.6 else ("eu" if rng.random() < 0.15 else "us")
    # PDF text layers are latin-1-encoded in our minimal writer; keep them
    # ASCII ('EUR' ISO code instead of the € symbol).
    currency = {"us": "$", "eu": "EUR" if ascii_only else "€"}[style]

    item_cents = [rng.randrange(100, 80_000) for _ in range(rng.randrange(1, 5))]
    subtotal = sum(item_cents)
    tax = subtotal * 9 // 100
    total = subtotal + tax

    # dates: one primary, possibly one later "delivery" date — earliest wins
    roll = rng.random()
    if lang == "es" and roll < 0.5:
        date_text, date_iso = _ES_DATES[rng.randrange(len(_ES_DATES))]
    elif roll < 0.25:
        pool = [d for d in _NOISY_DATES if not ascii_only or d[0].isascii()]
        date_text, date_iso = pool[rng.randrange(len(pool))]
    else:
        date_text, date_iso = _plain_date(rng)

    blocks = [
        f"ACME {('Tienda' if lang == 'es' else 'Store')} #{rng.randrange(10, 99)}",
        _prose(rng, rng.randrange(8, 20), lang),
        f"Order #: {rng.randrange(10**7, 10**8)}",
        f"Date: {date_text}",
    ]
    later = _dt.date.fromisoformat(date_iso) + _dt.timedelta(days=rng.randrange(1, 30))
    if rng.random() < 0.3:
        blocks.append(f"Delivery: {later.month}/{later.day}/{later.year}")
    for i, cents in enumerate(item_cents):
        blocks.append(f"Item {i + 1} {currency}{_fmt_amount(cents, style)}")
    blocks.append(f"Subtotal {currency}{_fmt_amount(subtotal, style)}")
    blocks.append(f"Tax {currency}{_fmt_amount(tax, style)}")
    if rng.random() < 0.1:
        # paren-negative normalization exercise (amount_parser_spec.js:154-162)
        blocks.append(f"Adjustment ({_fmt_amount(min(item_cents), style)})")
    total_kw = rng.choice(["Total:", "Total due", "Balance Due"])
    blocks.append(f"{total_kw} {currency}{_fmt_amount(total, style)}")
    blocks.append(_prose(rng, rng.randrange(6, 14), lang))

    return blocks, _fmt_amount(total, style), date_iso


def _html_page(rng: random.Random, blocks: list[str], lang: str) -> bytes:
    main = "".join(f"<p>{b}</p>" for b in blocks)
    doc = (
        "<!DOCTYPE html>\n"
        f'<html lang="{lang}"><head><title>ACME receipt</title>'
        "<style>body{font:14px sans-serif}.related{color:#888}</style>"
        "<script>window.track&&window.track('pv')</script></head><body>"
        + _nav_html(rng)
        + "<header><h2><a href='/'>ACME Inc.</a></h2><a href='/account'>My account</a></header>"
        + f"<main><article>{main}</article></main>"
        + _linkfarm_html(rng)
        + "<aside><a href='/promo'>50% off banner</a></aside>"
        + "<footer><a href='/terms'>Terms</a> <a href='/privacy'>Privacy</a> (c) 2016 ACME</footer>"
        + "</body></html>"
    )
    return doc.encode("utf-8")


# --- minimal PDF writer -------------------------------------------------------

def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def make_pdf(pages: list[list[str]], compress: bool = False, blank: bool = False,
             with_image: bool | int = False) -> bytes:
    """Tiny valid-enough PDF with a text layer (or none, for the error path).

    ``with_image``: number of embedded /Image XObjects on the blank path
    (True == 1).  Image i carries pixel bytes ``bytes([i]) * (i+1)``;
    odd-indexed images are FlateDecode-compressed so the image decode
    path of extract/pdf is exercised."""
    objs: list[bytes] = []

    def content_stream(lines: list[str]) -> bytes:
        body = ["BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                body.append("0 -14 Td")
            body.append(f"({_pdf_escape(line)}) Tj")
        body.append("ET")
        raw = " ".join(body).encode("latin-1")
        if compress:
            comp = zlib.compress(raw)
            return (b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
                    + comp + b"\nendstream")
        return (b"<< /Length %d >>\nstream\n" % len(raw) + raw + b"\nendstream")

    out = bytearray(b"%PDF-1.4\n")
    if blank:
        for i in range(int(with_image)):
            pixels = bytes([i]) * (i + 1)
            if i % 2:
                data = zlib.compress(pixels)
                filt = b" /Filter /FlateDecode"
            else:
                data, filt = pixels, b""
            out += (b"%d 0 obj\n<< /Type /XObject /Subtype /Image /Width %d "
                    b"/Height 1 /BitsPerComponent 8 /ColorSpace /DeviceGray"
                    % (i + 1, i + 1)
                    + filt + b" /Length %d >>\nstream\n" % len(data)
                    + data + b"\nendstream\nendobj\n")
    else:
        for i, lines in enumerate(pages):
            out += b"%d 0 obj\n" % (i + 1) + content_stream(lines) + b"\nendobj\n"
    out += b"trailer\n<< /Size %d >>\n%%%%EOF\n" % (len(pages) + 1)
    return bytes(out)


def _content_stream_obj(lines: list[str], compress: bool) -> bytes:
    """Serialized content-stream object body (same text-run layout as
    make_pdf, so both PDF writers produce identical extracted text)."""
    body = ["BT /F1 12 Tf 72 720 Td"]
    for j, line in enumerate(lines):
        if j:
            body.append("0 -14 Td")
        body.append(f"({_pdf_escape(line)}) Tj")
    body.append("ET")
    raw = " ".join(body).encode("latin-1")
    if compress:
        comp = zlib.compress(raw)
        return (b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
                + comp + b"\nendstream")
    return b"<< /Length %d >>\nstream\n" % len(raw) + raw + b"\nendstream"


def make_pdf_tree(pages: list[list[str]], compress: bool = False,
                  encrypt: bool = False) -> bytes:
    """Full classic-xref PDF: catalog → page tree → per-page content
    streams, objects SCRAMBLED in file order (reverse).  The scramble is
    the in-band proof that the page-tree reader ran: the legacy
    file-order fallback would emit the pages REVERSED, so any corpus
    golden that matches tree order certifies the xref/page-tree branch
    (VERDICT r3 item #4).

    ``encrypt`` wraps the file in the Standard security handler with an
    EMPTY user password (RC4 V2/R3/128-bit — the
    owner-password-only files conforming readers open without a
    prompt); stream bodies are RC4'd with their per-object keys.  The
    crypt primitives are the production ones (extract/pdfcrypt), which
    are themselves pinned by FIPS KATs and an INDEPENDENT in-test
    encryptor (tests/test_pdfobj.py), so the corpus is not
    self-oracled."""
    n = len(pages)
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids ["
            + b" ".join(b"%d 0 R" % (3 + i) for i in range(n))
            + b"] /Count %d >>" % n),
    }
    for i, lines in enumerate(pages):
        objs[3 + i] = (b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R >>"
                       % (3 + n + i))
        objs[3 + n + i] = _content_stream_obj(lines, compress)

    trailer_extra = b""
    if encrypt:
        from ..extract.pdfcrypt import (
            compute_key,
            compute_o,
            compute_u,
            object_key,
            rc4,
        )

        id0 = b"rss-corpus-id000"  # fixed 16-byte /ID: deterministic
        p_value = -44
        o = compute_o(b"corpus-owner", b"", 3, 16)
        key = compute_key(b"", o, p_value, id0, 3, 16)
        u = compute_u(key, id0, 3)
        marker = b"\nstream\n"
        for num, body in list(objs.items()):
            i = body.find(marker)
            if i < 0:
                continue
            head = body[: i + len(marker)]
            rest = body[i + len(marker):]
            j = rest.rfind(b"\nendstream")
            objs[num] = head + rc4(object_key(key, num, 0), rest[:j]) + rest[j:]
        enc_num = max(objs) + 1
        objs[enc_num] = (
            b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P %d /O <%s> /U <%s> >>"
            % (p_value, o.hex().encode(), u.hex().encode())
        )
        trailer_extra = b"/Encrypt %d 0 R /ID [<%s> <%s>] " % (
            enc_num, id0.hex().encode(), id0.hex().encode(),
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs, reverse=True):  # scrambled file order
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    maxn = max(objs) + 1
    out += b"xref\n0 %d\n" % maxn + b"0000000000 65535 f \n"
    for num in range(1, maxn):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (b"trailer\n<< /Size %d /Root 1 0 R " % maxn + trailer_extra
            + b">>\nstartxref\n%d\n%%%%EOF" % xref_off)
    return bytes(out)


# --- corpus assembly ----------------------------------------------------------

def _host_weights(n_hosts: int, skew: float) -> list[float]:
    return [1.0 / (r ** skew) for r in range(1, n_hosts + 1)]


def generate_pages(
    n_rows: int = 1000,
    n_hosts: int = 50,
    skew: float = 1.2,
    seed: int = 42,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return (pages, goldens) pandas DataFrames.

    goldens: url, extracted_text (byte-exact expectation), amount, date,
    error — all by construction.
    """
    rng = random.Random(seed)
    hosts = [f"host{h:03d}.example" for h in range(n_hosts)]
    weights = _host_weights(n_hosts, skew)
    base_ts = _dt.datetime(2016, 1, 1, tzinfo=_dt.timezone.utc)

    rows, goldens = [], []
    for i in range(n_rows):
        host = rng.choices(hosts, weights)[0]
        url = f"https://{host}/receipts/{i:07d}"
        ts = base_ts + _dt.timedelta(seconds=137 * i)
        lang = "es" if rng.random() < 0.2 else "en"
        kind_roll = rng.random()

        html: bytes
        text_col: str | None = None
        if kind_roll < 0.88:  # HTML page
            blocks, amount, date_iso = _receipt_blocks(rng, lang)
            html = _html_page(rng, blocks, lang)
            expected_text = "\n".join(blocks)
            g = dict(extracted_text=expected_text, amount=amount, date=date_iso, error=None)
        elif kind_roll < 0.93:  # text-layer PDF (1-3 pages, pages joined ' ')
            blocks, amount, date_iso = _receipt_blocks(rng, lang, ascii_only=True)
            n_pages = rng.randrange(1, 4)
            per_page = [p for p in (blocks[j::n_pages] for j in range(n_pages)) if p]
            compress = rng.random() < 0.5
            # r4: half the PDF slice carries a REAL classic xref + page
            # tree (objects file-order-scrambled — tree order in the
            # golden proves the pdfobj branch ran, the legacy scan would
            # reverse the pages), and a fifth of those are additionally
            # RC4-encrypted with an empty user password.  The rest stay
            # xref-less to keep the legacy file-order fallback covered.
            tree_roll = rng.random()
            if tree_roll < 0.5:
                html = make_pdf(per_page, compress=compress)
            else:
                html = make_pdf_tree(per_page, compress=compress,
                                     encrypt=tree_roll >= 0.9)
            expected_text = " ".join("\n".join(p) for p in per_page)
            g = dict(extracted_text=expected_text, amount=None, date=None, error=None)
            # amount/date goldens must reflect the REARRANGED pdf text
            g["amount"], g["date"] = amount, date_iso
        elif kind_roll < 0.95:  # blank PDF, no images → error path
            html = make_pdf([], blank=True, with_image=False)
            g = dict(extracted_text=None, amount=None, date=None,
                     error="No images found in PDF")
        elif kind_roll < 0.97:  # image bytes; text column = upstream OCR output
            blocks, amount, date_iso = _receipt_blocks(rng, lang)
            html = b"\xff\xd8\xff\xe0" + bytes(rng.randrange(256) for _ in range(64))
            text_col = "\n".join(blocks)
            g = dict(extracted_text=text_col, amount=amount, date=date_iso, error=None)
        elif kind_roll < 0.99:  # empty bytes → empty text, null fields, no error
            html = b""
            g = dict(extracted_text="", amount=None, date=None, error=None)
        else:  # garbage → unsupported-format error value
            html = bytes([0, 1, 2, 3]) + bytes(rng.randrange(256) for _ in range(32))
            g = dict(extracted_text=None, amount=None, date=None,
                     error="Unsupported format: application/octet-stream")

        rows.append(dict(url=url, warc_ts=ts, html=html, text=text_col, lang=lang))
        goldens.append(dict(url=url, **g))

    pages_df = pd.DataFrame(rows)
    # Microsecond precision: Spark's parquet reader rejects TIMESTAMP(NANOS).
    pages_df["warc_ts"] = pages_df["warc_ts"].astype("datetime64[us, UTC]")
    return pages_df, pd.DataFrame(goldens)


def write_corpus(outdir: str, n_rows: int = 1000, n_hosts: int = 50,
                 skew: float = 1.2, seed: int = 42,
                 n_files: int = 16) -> tuple[str, str]:
    """Write pages.parquet (a DIRECTORY of ``n_files`` part files — one
    Spark input split each; a single parquet file would cap scan
    parallelism at 1 task) + goldens.parquet under ``outdir``."""
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    pages, goldens = generate_pages(n_rows, n_hosts, skew, seed)
    p = pathlib.Path(outdir)
    pages_dir = p / "pages.parquet"
    pages_dir.mkdir(parents=True, exist_ok=True)
    # Explicit schema: an all-null `text` chunk must not be inferred as a
    # different type in one part file (schema drift breaks the scan).
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    n_files = max(1, min(n_files, len(pages)))
    chunk = (len(pages) + n_files - 1) // n_files
    for i in range(n_files):
        part = pages.iloc[i * chunk : (i + 1) * chunk]
        if len(part):
            table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
            pq.write_table(table, pages_dir / f"part-{i:05d}.parquet")
    goldens_path = str(p / "goldens.parquet")
    goldens.to_parquet(goldens_path, index=False)
    return str(pages_dir), goldens_path
