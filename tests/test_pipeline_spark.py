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

    def test_pandas_udf_batches_are_bounded(self, spark):
        import random
        import uuid

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def probe(html: pd.Series) -> pd.Series:
            sizes = html.map(len)
            tag = f"{uuid.uuid4().hex} {len(sizes)} {sizes.sum()} {sizes.iloc[-1]}"
            return pd.Series([tag] * len(sizes))

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
