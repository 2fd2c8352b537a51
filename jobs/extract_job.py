"""Production entry point: spark-submit extraction job with resume.

    spark-submit --py-files rss.zip jobs/extract_job.py \
        --input /data/pages --table /warehouse/extracted \
        --partition-column lang --salt-partitions 4096 --salt 16

Packaging: ``cd /root/repo && zip -r rss.zip receipt_scanner_spark`` —
the module only imports the package, so ``--py-files`` ships everything
executors need.  Run outside spark-submit, it uses the session already
active in the process as it is, or else starts a local session via
``plans/session.get_spark``; on a cluster, submit against YARN/K8s —
the code path is identical.  ``--codec`` is set on the session for the
run and put back afterwards.

Behavior (north rule): one extraction pass over the pending input, then
checkpointed per-partition commits with lineage and extraction-success
metrics (one JSON line per commit); rerunning after a kill resumes
pending partitions only, and a rerun with nothing pending prints
"nothing to do"; ``--report`` prints the snapshot metrics history.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CODEC = "spark.sql.parquet.compression.codec"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="pages parquet dir / table path")
    ap.add_argument("--table", required=True, help="output snapshot-table root")
    ap.add_argument("--partition-column", default="lang",
                    help="input partition key for checkpointed commits")
    ap.add_argument("--salt-partitions", type=int, default=None,
                    help="repartition count for crawl-skew salting (off when unset)")
    ap.add_argument("--salt", type=int, default=16, help="salt buckets per host")
    ap.add_argument("--report", action="store_true",
                    help="print snapshot metrics history and exit")
    ap.add_argument("--codec", default="zstd",
                    help="parquet compression codec for committed output"
                         " (default zstd: ~30%% smaller than snappy at web"
                         " scale for similar CPU; storage dominates cost at"
                         " 10^12 documents)")
    ap.add_argument("--summary", action="store_true",
                    help="after the run, print {total, amount, date} parse-success"
                         " counts over the whole table (the reference CLI's -s flag)")
    ap.add_argument("--profile", default=None,
                    help="stripper preprocessing profile (default/lenient/"
                         "aggressive/raw) — the reference's selectable"
                         " imagePreprocessors surface")
    ap.add_argument("--json-out", default=None,
                    help="write the whole table as one JSON object keyed by url"
                         " in NATURAL key order (the reference CLI's batch output"
                         " shape, cli.js:139-198); rows stream through"
                         " toLocalIterator so driver memory stays bounded —"
                         " meant for result-report-sized tables, not 10^12 rows")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from receipt_scanner_spark.plans.session import get_spark

    # a session already running in this process is used as it is (a
    # builder's getOrCreate would re-apply its options to it); under
    # spark-submit the session comes preconfigured; standalone runs fall
    # back to a local session
    spark = SparkSession.getActiveSession()
    if spark is None:
        if os.environ.get("SPARK_ENV_LOADED"):
            spark = SparkSession.builder.appName("rss-extract").getOrCreate()
        else:
            spark = get_spark(app_name="rss-extract")
        spark.sparkContext.setLogLevel("WARN")
    prior_codec = spark.conf.getAll.get(CODEC)
    spark.conf.set(CODEC, args.codec)
    try:
        _run(spark, args)
    finally:
        if prior_codec is None:
            spark.conf.unset(CODEC)
        else:
            spark.conf.set(CODEC, prior_codec)


def _run(spark, args: argparse.Namespace) -> None:
    from receipt_scanner_spark.table.snapshots import (
        SnapshotTable,
        run_resumable_extraction,
    )

    table = SnapshotTable(args.table)
    if args.report:
        print(json.dumps(table.metrics_history(), indent=1))
        return

    pages = spark.read.parquet(args.input)
    kwargs = {}
    if args.salt_partitions:
        kwargs = dict(salt_partitions=args.salt_partitions, salt=args.salt)
    if args.profile:
        kwargs["profile"] = args.profile
    committed = run_resumable_extraction(
        spark, pages, table, partition_column=args.partition_column, **kwargs
    )
    if not committed:
        print("nothing to do: all input partitions already committed", file=sys.stderr)
    for s in committed:
        print(json.dumps({"snapshot": s.snapshot_id, "partitions": s.partitions,
                          "metrics": s.metrics}))
    if args.summary:
        from receipt_scanner_spark.plans.pipeline import summary

        row = summary(table.read(spark)).first()
        print(json.dumps({"summary": {"total": row.total, "amount": row.amount,
                                      "date": row.date}}))
    if args.json_out:
        from receipt_scanner_spark.functions.natsort import natural_key

        ordered = table.read(spark).select(
            "url", "amount", "date", "error"
        ).orderBy(natural_key("url"), "url")
        with open(args.json_out, "w") as fh:
            fh.write("{")
            first = True
            for r in ordered.toLocalIterator():
                if not first:
                    fh.write(",")
                first = False
                fh.write(json.dumps(r["url"]) + ":" + json.dumps(
                    {"amount": r["amount"], "date": r["date"], "error": r["error"]}
                ))
            fh.write("}\n")


if __name__ == "__main__":
    main()
