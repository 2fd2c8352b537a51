"""End-to-end Spark pipeline: corpus parquet → extract_pages → goldens.

This is the north-rule gate at the Spark level: byte-identical
extracted_text per url, run through the real DataFrame plan with
Arrow-batched UDFs — not the pure-Python shortcut.
"""

import pytest
from pyspark.sql import functions as F

from receipt_scanner_spark.plans.pipeline import (
    extract_pages,
    read_pages,
    success_by_host,
    summary,
)
from receipt_scanner_spark.sources.pages import write_corpus


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    write_corpus(str(d), n_rows=600, seed=42)
    return str(d)


@pytest.fixture(scope="module")
def results(spark, corpus_dir):
    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    df = extract_pages(pages).cache()
    df.count()  # materialize once
    return df


class TestPipelineGoldens:
    def test_byte_identical_extraction_per_url(self, spark, corpus_dir, results):
        goldens = spark.read.parquet(f"{corpus_dir}/goldens.parquet")
        joined = results.alias("r").join(goldens.alias("g"), "url", "full_outer")
        mismatch = joined.filter(
            ~(
                F.col("r.extracted_text").eqNullSafe(F.col("g.extracted_text"))
                & F.col("r.amount").eqNullSafe(F.col("g.amount"))
                & F.col("r.date").eqNullSafe(F.col("g.date"))
                & F.col("r.error").eqNullSafe(F.col("g.error"))
            )
        )
        bad = mismatch.select(
            "url", "r.extracted_text", "g.extracted_text", "r.amount", "g.amount"
        ).take(5)
        assert not bad, bad
        assert results.count() == 600

    def test_spans_populated(self, results):
        row = (
            results.filter(F.col("amount").isNotNull())
            .select("spans")
            .first()
        )
        assert row.spans and any(s.parser == "amount" for s in row.spans)
        amount_span = [s for s in row.spans if s.parser == "amount"][0]
        assert amount_span.end > amount_span.start >= 0

    def test_salted_repartition_spreads_skew(self, spark, corpus_dir):
        pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
        df = extract_pages(pages, salt_partitions=8, observe=False)
        sizes = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        counts = [r["count"] for r in sizes]
        # top host holds ~30% of rows; salting must spread below that.
        assert max(counts) / sum(counts) < 0.3, counts

    def test_summary_counts(self, results):
        assert summary(results).columns == ["total", "amount", "date"]
        s = summary(results).first()
        assert s.total > 500  # errors excluded
        assert 0 < s.amount <= s.total
        assert 0 < s.date <= s.total

    def test_success_by_host(self, results):
        df = success_by_host(results)
        assert df.columns == ["host", "total", "amount", "date", "errors"]
        rows = df.collect()
        assert sum(r.total for r in rows) == 600
        assert all(r.host.endswith(".example") for r in rows)

    def test_observe_metrics(self, spark, corpus_dir):
        from receipt_scanner_spark.plans.pipeline import OBSERVATION_NAME

        pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
        df = extract_pages(pages)
        from pyspark.sql import Observation  # noqa: F401  (API presence)

        df.collect()
        # observe() metrics are exposed via listener on classic Spark; the
        # cheap contract check here: the plan carries the observation node.
        assert OBSERVATION_NAME in df._jdf.queryExecution().analyzed().toString()


class TestPlanShape:
    def test_column_pruning_reaches_scan(self, spark, corpus_dir):
        pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
        # A downstream consumer selecting 2 columns must not drag html bytes
        # through the scan of the *input* side projections it doesn't need.
        df = extract_pages(pages, observe=False).select("url", "amount")
        plan = df._jdf.queryExecution().executedPlan().toString()
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert read_schema, plan
        # html+text are required by the UDF; warc_ts/lang must be pruned.
        assert "warc_ts" not in read_schema[0]

    def test_no_shuffle_in_default_plan(self, spark, corpus_dir):
        pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
        df = extract_pages(pages, observe=False)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

    def test_exactly_one_python_stage_fused(self, spark, corpus_dir):
        pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
        df = extract_pages(pages, observe=False)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan


def _arrow_batches(df, col):
    """(rows, bytes of ``col``, bytes of its last row) of each Arrow batch
    a mapInPandas operator over ``df`` receives."""

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            sizes = [len(b) for b in pdf[col]]
            yield pd.DataFrame({"rows": [len(sizes)], "size": [sum(sizes)],
                                "last": [sizes[-1]]})

    return [tuple(r) for r in df.mapInPandas(probe, "rows long, size long, last long").collect()]


class TestArrowBatchBound:
    """plans/session.get_spark bounds every Arrow input batch at 1 MiB:
    Spark closes a batch after the row that crosses the bound, so a
    Python worker holds at most 1 MiB plus one row."""

    BOUND = 1 << 20

    def test_session_bounds_batches_by_bytes(self, spark):
        conf = spark.conf.get
        assert conf("spark.sql.execution.arrow.maxBytesPerBatch") == str(self.BOUND)
        # Spark's own default, not restated by get_spark
        assert conf("spark.sql.execution.arrow.maxRecordsPerBatch") == "10000"

    def _assert_bounded(self, spark, probe):
        """``probe(html)`` tags every row with ``"<batch id> <rows> <bytes>
        <bytes of its last row>"`` of the batch it came in."""
        import random

        rng = random.Random(3)
        rows = [(i, bytes([65 + i % 26]) * rng.randrange(10_000, 150_000)) for i in range(60)]
        assert sum(len(h) for _, h in rows) >= 3 << 20
        df = spark.createDataFrame(rows, "id int, html binary").coalesce(1)
        tags = {r.tag for r in df.select(probe("html").alias("tag")).collect()}
        batches = [tuple(map(int, t.split()[1:])) for t in tags]
        assert len(batches) >= 3, batches
        assert sum(n for n, _, _ in batches) == len(rows)
        for n, size, last in batches:
            assert size - last <= self.BOUND, batches

    def test_pandas_udf_batches_are_bounded(self, spark):
        import uuid

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def probe(html: pd.Series) -> pd.Series:
            sizes = html.map(len)
            tag = f"{uuid.uuid4().hex} {len(sizes)} {sizes.sum()} {sizes.iloc[-1]}"
            return pd.Series([tag] * len(sizes))

        self._assert_bounded(spark, probe)

    def test_arrow_udf_batches_are_bounded(self, spark):
        """The engine's fused UDF is an Arrow UDF (functions/udfs.py)."""
        import uuid

        import pyarrow as pa
        from pyspark.sql.functions import arrow_udf

        @arrow_udf("string")
        def probe(html: pa.Array) -> pa.Array:
            sizes = [len(h) for h in html.to_pylist()]
            tag = f"{uuid.uuid4().hex} {len(sizes)} {sum(sizes)} {sizes[-1]}"
            return pa.array([tag] * len(sizes), pa.string())

        self._assert_bounded(spark, probe)

    def test_row_over_the_bound_is_extracted(self, spark):
        from receipt_scanner_spark.functions.udfs import extract_row, parse_row

        filler = b"".join(b"<p>Paragraph %d of a long article, with enough words "
                          b"to be kept as a content block.</p>" % i for i in range(26_000))
        big = b"<html><body><article><p>Total $12.34 on 2016-03-04</p>" + filler
        big += b"</article></body></html>"
        assert len(big) > 2 << 20
        rows = [(f"u{i}", None, b"<html><body><p>Total $%d.00</p></body></html>" % i, None, "en")
                for i in range(6)]
        rows.insert(3, ("big", None, big, None, "en"))
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        ).coalesce(1)
        got = {r.url: r for r in extract_pages(pages, observe=False).collect()}
        assert len(got) == len(rows)
        for url, _, html, text, _ in rows:
            fmt, extracted, error = extract_row(html, text)
            amount, date, spans, _extra = parse_row(extracted)
            r = got[url]
            assert (r.format, r.extracted_text, r.error, r.amount, r.date) == (
                fmt, extracted, error, amount, date), url
            assert [s.asDict() for s in r.spans] == spans, url
        assert got["big"].amount == "12.34" and got["big"].date == "2016-03-04"

    def test_map_in_pandas_over_several_batches(self, spark):
        """sample_frames yields more rows than it reads; its output over
        several input batches equals its output over one batch."""
        import random

        from receipt_scanner_spark.operators.multimodal import sample_frames

        rng = random.Random(5)
        media = spark.createDataFrame(
            [(i, rng.randbytes(rng.randrange(50_000, 250_000))) for i in range(30)],
            "media_id long, media binary",
        ).coalesce(1)
        key = "spark.sql.execution.arrow.maxBytesPerBatch"
        bound = spark.conf.get(key)
        spark.conf.set(key, str(1 << 30))
        try:
            assert len(_arrow_batches(media, "media")) == 1
            one = sample_frames(media).localCheckpoint(eager=True)
        finally:
            spark.conf.set(key, bound)
        assert len(_arrow_batches(media, "media")) >= 3
        many = sample_frames(media)
        assert one.count() == many.count() > 30
        assert many.exceptAll(one).count() == 0
        assert one.exceptAll(many).count() == 0


class TestGoldenScorer:
    def test_gate_passes_and_counts_planted_regression(self, spark, corpus_dir, results):
        from receipt_scanner_spark.plans.pipeline import (
            benchmark_profiles,
            golden_regressions,
        )

        pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
        goldens = spark.read.parquet(f"{corpus_dir}/goldens.parquet")
        # clean run: zero regressions, green grade
        report = benchmark_profiles(pages, goldens, profiles=["default"])
        assert report == {"default": {"total": 600, "failures": 0, "success_rate": 1.0,
                                      "grade": "green"}}
        # plant a corrupted golden -> exactly that url is reported
        bad = goldens.withColumn(
            "amount",
            F.when(F.col("url").endswith("0000001"), F.lit("999.99"))
            .otherwise(F.col("amount")),
        )
        regs = golden_regressions(results, bad).collect()
        assert len(regs) == 1 and regs[0].want_amount == "999.99"
        with pytest.raises(AssertionError, match="below 1.0"):
            benchmark_profiles(pages, bad, profiles=["default"], min_rate=1.0)


def test_grade_thresholds():
    """The rate-and-grade rule of benchmark_profiles: rate = matches /
    goldens, green above 0.95, yellow above 0.85; no goldens grade 1.0
    only without mismatches."""
    from receipt_scanner_spark.plans.pipeline import _grade

    def report(total, failures):
        return _grade(total, failures)[1]

    assert report(0, 0) == {"total": 0, "failures": 0, "success_rate": 1.0,
                            "grade": "green"}
    assert report(0, 3)["success_rate"] == 0.0
    assert [report(100, f)["grade"] for f in (4, 5, 14, 15)] == [
        "green", "yellow", "yellow", "red"]
    assert report(3, 1)["success_rate"] == 0.6667
    assert _grade(3, 1)[0] == 2 / 3  # the gate compares the unrounded rate
    assert report(2, 5)["success_rate"] == 0.0


def test_fused_udf_body_looks_up_traced_names(monkeypatch):
    """perfbench/tracing.py profiles the fused UDF by replacing these
    ``functions.udfs`` module attributes with timing wrappers and then
    calling ``process_udf.func``.  The body must look each one up at
    call time; a local binding would leave a traced layer reading 0."""
    import pandas as pd

    from receipt_scanner_spark.functions import udfs
    from receipt_scanner_spark.sources.pages import make_pdf

    names = ("sniff_format", "extract_main_text", "process_pdf",
             "parse_amount", "parse_date", "extract_row", "parse_row")
    calls = dict.fromkeys(names, 0)

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return wrapper

    for name in names:
        monkeypatch.setattr(udfs, name, counted(name, getattr(udfs, name)))
    html = pd.Series([
        b"<html><body><p>Total $5.00 paid on 2016-08-13</p></body></html>",
        make_pdf([["Total $7.50", "Date 2016-08-14"]]),
        None,
    ])
    out = udfs.process_udf.func(html, pd.Series([None, None, None]))
    assert list(out["format"]) == ["html", "pdf", "empty"]
    assert list(out["amount"]) == ["5.00", "7.50", None]
    assert all(calls.values()), calls


def test_fused_udf_contains_unexpected_row_exception(monkeypatch):
    """An exception no kernel expected becomes that row's ``error``; the
    format and text computed before it are kept and the other rows of
    the batch are unchanged."""
    import pandas as pd

    from receipt_scanner_spark.functions import udfs

    html = pd.Series([
        b"<html><body><p>Total $5.00 paid on 2016-08-13</p></body></html>",
        b"<html><body><p>Total $6.00 BOOM 2016-08-14</p></body></html>",
        None,
    ])
    text = pd.Series([None, None, "Total 7.00"])
    before = udfs.process_udf.func(html, text)
    parse_amount = udfs.parse_amount

    def boom(t, config=None):
        if "BOOM" in t:
            raise RuntimeError("boom")
        return parse_amount(t, config)

    monkeypatch.setattr(udfs, "parse_amount", boom)
    after = udfs.process_udf.func(html, text)
    bad = after.iloc[1]
    assert (bad["format"], bad["extracted_text"]) == (
        before.iloc[1]["format"], before.iloc[1]["extracted_text"])
    assert "BOOM" in bad["extracted_text"]
    assert bad["error"] == "internal error: RuntimeError"
    assert [bad[c] for c in ("amount", "date", "spans", "extra")] == [None] * 4
    for i in (0, 2):
        assert after.iloc[i].to_dict() == before.iloc[i].to_dict()
    assert list(after["amount"]) == ["5.00", None, "7.00"]


def test_custom_parser_results_are_read_by_one_rule():
    """parse_text and the fused UDF read a custom parser's result the
    same way: both keys of ``{"matches": [...], "match": x}`` are
    required, so a result without "match" fails in both (the UDF keeps
    the failure as the row's error value)."""
    import pandas as pd

    from receipt_scanner_spark.functions.udfs import build_process_udf
    from receipt_scanner_spark.parsers.registry import parse_text

    def no_match(text, config):
        return {"matches": []}

    def total(text, config):
        return {"matches": ["T"], "match": "T" if "Total" in text else None}

    page = pd.Series([b"<html><body><p>Total $5.00 paid</p></body></html>"])
    for parser, want in ((no_match, KeyError), (total, {"total": "T"})):
        row = build_process_udf([parser]).func(page, pd.Series([None])).iloc[0]
        if want is KeyError:
            with pytest.raises(KeyError, match="match"):
                parse_text(row["extracted_text"], [parser])
            assert row["error"] == "internal error: KeyError"
            assert row["extra"] is None
        else:
            assert parse_text(row["extracted_text"], [parser]) == want
            assert row["error"] is None and row["extra"] == want


def test_unencodable_output_fails_its_row_only(spark):
    """A custom parser's value Arrow cannot hold (a lone surrogate in
    ``extra`` or a span, a span offset outside int32) becomes its row's
    error value; the other rows of the batch are extracted as usual."""
    from types import SimpleNamespace

    def odd(text, config):
        if "SURROGATE_MATCH" in text:
            return {"match": "\ud800", "matches": []}
        if "SURROGATE_SPAN" in text:
            return {"match": "x", "matches": [SimpleNamespace(start=0, end=1, text="\udfff")]}
        if "HUGE_SPAN" in text:
            return {"match": "x", "matches": [SimpleNamespace(start=0, end=1 << 31, text="y")]}
        return {"match": "ok", "matches": []}

    bad = {"u1": ("SURROGATE_MATCH", "UnicodeEncodeError"),
           "u3": ("SURROGATE_SPAN", "UnicodeEncodeError"),
           "u4": ("HUGE_SPAN", "OverflowError")}
    words = {"u0": "fine", "u2": "fine", **{u: w for u, (w, _) in bad.items()}}
    rows = [(u, None, b"<html><body><p>Total $5.00 on 2016-03-04 %s</p></body></html>"
             % w.encode(), None, "en") for u, w in sorted(words.items())]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary,"
                                        " text string, lang string").coalesce(1)
    got = {r.url: r for r in extract_pages(pages, parsers=["amount", "date", odd],
                                           observe=False).collect()}
    assert sorted(got) == sorted(words)
    for url, row in got.items():
        assert row.format == "html" and words[url] in row.extracted_text
        if url in bad:
            assert row.error == f"internal error: {bad[url][1]}", url
            assert [row.amount, row.date, row.spans, row.extra] == [None] * 4, url
        else:
            assert (row.error, row.amount, row.date) == (None, "5.00", "2016-03-04")
            assert row.extra == {"odd": "ok"}


def test_unencodable_text_is_left_out_of_its_error_row(monkeypatch):
    """A text Arrow cannot hold (a PDF font can map a glyph to a lone
    surrogate) fails its row: the error row keeps the format, not the
    text."""
    import pyarrow as pa

    from receipt_scanner_spark.functions import udfs

    monkeypatch.setattr(udfs, "extract_main_text", lambda html, **kw: "Total \ud800 $5.00")
    out = udfs.process_udf.func(pa.array([b"<html>x</html>", b"Total $6.00"], pa.binary()),
                                pa.array([None, None], pa.string()))
    bad, good = out.to_pylist()
    assert bad == {"format": "html", "extracted_text": None,
                   "error": "internal error: UnicodeEncodeError",
                   "amount": None, "date": None, "spans": None, "extra": None}
    assert (good["format"], good["amount"], good["error"]) == ("text", "6.00", None)


def test_output_offsets_never_wrap():
    """Offsets are summed exactly: a column of one batch over 2**31 - 1
    bytes raises instead of wrapping to a negative int32."""
    import numpy as np

    from receipt_scanner_spark.functions.udfs import _offsets

    ends = np.frombuffer(_offsets([0, 5, (1 << 31) - 6]), np.int32)
    assert ends.tolist() == [0, 0, 5, (1 << 31) - 1]
    for lengths in ([1 << 30, 1 << 30], [(1 << 31) - 1, 1], [1 << 33]):
        with pytest.raises(ValueError, match=r"int32 offset limit 2\*\*31 - 1"):
            _offsets(lengths)


_WORKER_SCRIPT = """
import sys

import pyspark.worker  # what a Spark Python worker imports first
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_type

from receipt_scanner_spark.extract.ocr import ocr_pixels
from receipt_scanner_spark.functions import udfs

assert "pandas" not in sys.modules, "importing the worker's extraction path loaded pandas"
batch = pa.ipc.open_stream(sys.stdin.buffer).read_next_batch()
outs = []
for body in (udfs.process_udf.func, udfs.build_process_udf(ocr_arrays=ocr_pixels).func):
    out = body(batch.column(0), batch.column(1))
    assert out.type == to_arrow_type(udfs.PROCESS_SCHEMA), out.type
    out.validate(full=True)
    outs.append(out)
assert "pandas" not in sys.modules, "running the Arrow body loaded pandas"
result = pa.RecordBatch.from_arrays(outs, ["default", "ocr"])
with pa.ipc.new_stream(sys.stdout.buffer, result.schema) as w:
    w.write_batch(result)
"""


def test_fused_udf_keeps_pandas_out_of_the_worker():
    """The Spark worker's extraction path never imports pandas (~70 MB per
    Python worker): a fresh interpreter imports what a worker does and
    runs the Arrow body over a batch that takes every ``extract_row``
    branch, with and without the OCR hook.  Its rows are the rows of
    the ``pd.Series`` branch."""
    import gzip
    import subprocess
    import sys
    from pathlib import Path

    import pandas as pd
    import pyarrow as pa

    from receipt_scanner_spark.extract.imaging import encode_png_gray
    from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text
    from receipt_scanner_spark.functions.udfs import build_process_udf, process_udf
    from receipt_scanner_spark.sources.pages import make_pdf, make_pdf_tree

    page = b"<html><body><p>Total $5.00 paid on 2016-08-13</p></body></html>"
    png = encode_png_gray(render_text("TOTAL $12.50\nDATE 2016-03-04", scale=2))
    cases = [
        (page, None),
        (gzip.compress(page), None),
        (make_pdf([["Total $7.50", "Date 2016-08-14"]]), None),
        (make_pdf_tree([["Total $8.50", "Date 2016-08-15"]], encrypt=True), None),
        (png, "Total $9.50 on 2016-08-16"),
        (png, None),
        (None, None),
        (b"", "Total $3.00"),
        (b"Total $4.00 on 2016-08-17", None),
        (b"PK\x03\x04not a document", None),
    ]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([h for h, _ in cases], pa.binary()), pa.array([t for _, t in cases], pa.string())],
        ["html", "text"])
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    r = subprocess.run([sys.executable, "-c", _WORKER_SCRIPT], input=sink.getvalue().to_pybytes(),
                       capture_output=True, cwd=Path(__file__).resolve().parent.parent, timeout=300)
    assert r.returncode == 0, r.stderr.decode()[-3000:]
    got = pa.ipc.open_stream(r.stdout).read_next_batch()

    def rows(out):
        return [{**d, "extra": None if d["extra"] is None else dict(d["extra"])}
                for d in out.to_pylist()]

    html = pd.Series([h for h, _ in cases], dtype=object)
    text = pd.Series([t for _, t in cases], dtype=object)
    for name, body in (("default", process_udf.func),
                       ("ocr", build_process_udf(ocr_arrays=ocr_pixels).func)):
        assert rows(got.column(name)) == body(html, text).to_dict("records"), name
    formats = [d["format"] for d in got.column("default").to_pylist()]
    assert formats == ["html", "html", "pdf", "pdf", "image/png", "image/png", "empty",
                       "empty", "text", "application/octet-stream"]
    by_case = got.column("ocr").to_pylist()
    assert [d["amount"] for d in by_case[:6]] == ["5.00", "5.00", "7.50", "8.50", "9.50", "12.50"]
    assert by_case[-1]["error"] == "Unsupported format: application/octet-stream"


@pytest.mark.parametrize("kwargs, exc, match", [
    ({"parsers": ["amout"]}, ValueError, "KeyError..amout"),
    ({"parsers": [("amount", {"parsers": ["larget"]})]}, ValueError, "KeyError..larget"),
    ({"parsers": [("date", {"parser": "frist"})]}, ValueError, "KeyError..frist"),
    ({"profile": "nope"}, ValueError, "KeyError..nope"),
    ({"parsers": [(lambda text, config: None, {})]}, ValueError, "AttributeError"),
    ({"ocr_arrays": "tesseract"}, TypeError, "must be callable"),
], ids=["parser", "amount_config", "date_config", "profile", "no_result", "ocr_arrays"])
def test_bad_config_fails_when_the_udf_is_built(kwargs, exc, match):
    """A bad name fails on the driver, not as an error value on every row.
    Only configured entries are tried on "" (unconfigured callables may
    count their calls, tests/test_snapshots.py)."""
    from receipt_scanner_spark.functions.udfs import build_process_udf

    with pytest.raises(exc, match=match):
        build_process_udf(**kwargs)


def test_one_udf_per_config(spark, monkeypatch):
    """The default config is the module's prebuilt UDF (Spark pickles its
    closure and registers its JVM function once per process), in
    extract_pages too; any other config builds its own."""
    from receipt_scanner_spark.functions import udfs
    from receipt_scanner_spark.plans import pipeline

    assert udfs.build_process_udf() is udfs.process_udf
    assert udfs.build_process_udf(None, profile=None) is udfs.process_udf
    built = []

    def build(*args, **kwargs):
        built.append(udfs.build_process_udf(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(pipeline, "build_process_udf", build)
    pipeline.extract_pages(spark.createDataFrame([], pipeline.PAGES_SCHEMA))
    assert len(built) == 1 and built[0] is udfs.process_udf
    custom = udfs.build_process_udf(["amount", ("date", {"parser": "first"})], profile="lenient")
    assert custom is not udfs.process_udf and callable(custom.func)


def test_default_pipeline_passes_text_through(spark):
    from receipt_scanner_spark.functions.udfs import process_udf

    raw = "Total 6,000.00\n####\nDate 2016-08-13"
    year0 = "paid 0000-01-02 on 2020-01-02"
    long_s = "Sep. \u017fep 5, 2016"
    df = spark.createDataFrame(
        [("u1", None, raw, "en"), ("u2", None, year0, "en"),
         ("u3", None, long_s, "en")],
        "url string, html binary, text string, lang string",
    )
    r1, r2, r3 = [
        row["r"] for row in df.orderBy("url")
        .select(process_udf(F.col("html"), F.col("text")).alias("r"))
        .collect()
    ]
    assert r1["extracted_text"] == raw  # pass-through, byte-identical
    # a year-0 date is a no-match, not a failed batch
    assert (r2["date"], r2["error"]) == ("2020-01-02", None)
    # so is a month name whose stem only case-folds to ASCII
    assert (r3["date"], r3["error"]) == (None, None)
