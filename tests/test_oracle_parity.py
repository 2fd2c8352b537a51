"""Replicates the driver's correctness gate: run each queries() entry on
Spark AND its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values (columns sorted by name,
rows sorted, values normalized) — mismatches here mean mismatches in
CORRECTNESS_r{N}.json."""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"

TABLES = ["documents", "embeddings", "events"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt == "object":
            df[c] = df[c].astype(str)
        elif "float" in dt:
            df[c] = df[c].astype("float64").map(
                lambda v: None if v is None or (isinstance(v, float) and math.isnan(v))
                else round(float(v), 9)
            )
        elif "datetime" in dt:
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif "int" in dt:
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


ORACLE_NAMES = sorted(entry_mod.oracle_sql().keys())


def test_driver_dict_within_record_cap():
    """The driver records at most 50 queries() entries (r2: 56 sent,
    first 50 recorded) — pin the cap so every entry stays visible."""
    qs = entry_mod.queries()
    assert len(qs) <= 50
    assert set(entry_mod.oracle_sql()) <= set(qs)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]

    spark_df = q(spark, SF_DIR).toPandas()
    duck_df = duck.execute(sql).df()

    assert list(sorted(spark_df.columns)) == list(sorted(duck_df.columns)), (
        spark_df.columns, duck_df.columns,
    )
    assert len(spark_df) == len(duck_df), (len(spark_df), len(duck_df))

    a, b = normalize(spark_df), normalize(duck_df)
    if not a.equals(b):
        diff_mask = ~(a.eq(b) | (a.isna() & b.isna()))
        bad_rows = diff_mask.any(axis=1)
        raise AssertionError(
            f"value mismatch in {name}:\nspark:\n{a[bad_rows].head(5)}\n"
            f"duckdb:\n{b[bad_rows].head(5)}"
        )


def test_rows_only_queries_run(spark):
    qs = entry_mod.queries()
    for name in set(qs) - set(ORACLE_NAMES):
        df = qs[name](spark, SF_DIR)
        assert df.count() >= 0
        assert df.schema  # stable schema


# media_id -> exact OCR text of the decoder fixtures in
# _multimodal_pipeline_query (each fixture's comment names its text)
MULTIMODAL_OCR = {
    6: "TOTAL $7.50", 7: "JPG $5", 8: "FAX $3.25", 9: "SOF9 $4.20",
    10: "JB2 $6.75", 11: "WEBP $9.10", 12: "ANIM 1 $0.10", 13: "JPX $8.40",
    14: "TILE $2.75", 15: "HUF $1.50", 16: "APNG 0 $0.20", 17: "HT $6.00",
    18: "PCT $9.99", 19: "JTIF $9.25", 20: "CMYK $4.10", 21: "OFF $7.70",
    22: "IREF $8.15", 23: "SEPJ $7.35", 24: "COC $8.25", 25: "RC $4.10",
    26: "YCC $5.60", 27: "POC $1.85", 28: "HIER $9.81", 29: "ICO $4.20",
    30: "PNM $1.23", 31: "TGA $8.88", 32: "PCX $7.77",
}


def test_multimodal_pipeline_ocr_exact(spark):
    """Every decoder row of the multimodal entry OCRs to its exact text;
    the truncated GIF, fake video and garbage rows are OCR errors."""
    rows = {
        r.media_id: (r.ocr_text, r.ocr_error)
        for r in entry_mod.queries()["multimodal_pipeline"](spark, SF_DIR)
        .select("media_id", "ocr_text", "ocr_error")
        .collect()
    }
    for media_id, text in MULTIMODAL_OCR.items():
        assert rows[media_id] == (text, False), media_id
    for media_id in (2, 3, 4):
        assert rows[media_id][1] is True, media_id


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 300
    assert {"url", "format", "amount", "date", "error"} <= set(df.columns)
