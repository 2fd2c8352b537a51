"""Fixed and marginal cost of one extraction action, from a two-size fit.

One ``generate_pages`` corpus is written as two slices of the same
shape (the first ``--small`` rows and the first ``--big`` rows, each
split into the same number of parquet files, two per task slot, as the
benchmark's slices are).  In one Spark session on ``local[k]`` the tool
times ``extract_pages(read_pages(slice), observe=False)`` written to
Spark's ``noop`` sink (every row through the fused UDF, nothing
collected), alternating the two sizes for ``--rounds`` rounds after one
untimed pass of each.  Each round gives a line through its two points:

    wall = fixed_s + docs * marginal_us_per_doc / 1e6

and the tool prints the median wall per size and the median of the
per-round fits.  ``fixed_s`` is what an action costs whatever its size
(planning, scheduling, task start in the Python workers);
``marginal_us_per_doc`` is the per-document cost with ``k`` slots busy.
An empty action (``limit(0)``) short-circuits and measures neither.

Usage: python tools/fixed_cost_fit.py [--small 1500] [--big 6000]
[--rounds 7] [--seed 1] [--k nproc//2]
Run nothing else CPU-heavy at the same time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def write_slice(pages, path: Path, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    # explicit types: an all-null ``text`` part must not change the schema
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    path.mkdir(parents=True)
    step = -(-len(pages) // n_files)
    for i in range(n_files):
        part = pages.iloc[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pandas(part, schema=schema, preserve_index=False),
                       path / f"part-{i:03d}.parquet")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--small", type=int, default=1500)
    ap.add_argument("--big", type=int, default=6000)
    ap.add_argument("--rounds", type=int, default=7)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--k", type=int, default=max(1, (os.cpu_count() or 2) // 2))
    args = ap.parse_args()
    if not 0 < args.small < args.big:
        ap.error("need 0 < --small < --big")

    # the Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    from receipt_scanner_spark.plans.pipeline import extract_pages, read_pages
    from receipt_scanner_spark.plans.session import get_spark
    from receipt_scanner_spark.sources.pages import generate_pages

    tmp = Path(tempfile.mkdtemp(prefix="fixed_cost_fit-"))
    spark = None
    try:
        pages, _goldens = generate_pages(args.big, seed=args.seed)
        n_files = max(4, 2 * args.k)
        sizes = {args.small: tmp / "small", args.big: tmp / "big"}
        for n, path in sizes.items():
            write_slice(pages.iloc[:n], path, n_files)

        spark = get_spark(app_name="fixed-cost-fit", cores=args.k)
        spark.sparkContext.setLogLevel("ERROR")

        def action(path: Path) -> float:
            t0 = time.perf_counter()
            df = extract_pages(read_pages(spark, str(path)), observe=False)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        for path in sizes.values():
            action(path)  # untimed: JIT, first task of each worker
        walls = {n: [] for n in sizes}
        for r in range(args.rounds):
            order = list(sizes) if r % 2 == 0 else list(sizes)[::-1]
            for n in order:
                walls[n].append(action(sizes[n]))

        d_docs = args.big - args.small
        fits = []
        for ws, wb in zip(walls[args.small], walls[args.big]):
            marginal = (wb - ws) / d_docs
            fits.append((ws - marginal * args.small, marginal * 1e6))
        out = {
            "k": args.k,
            "seed": args.seed,
            "docs": [args.small, args.big],
            "files_per_slice": n_files,
            "rounds": args.rounds,
            "wall_s_median": [round(statistics.median(walls[n]), 4) for n in sizes],
            "fixed_s": round(statistics.median(f for f, _ in fits), 4),
            "fixed_s_range": [round(min(f for f, _ in fits), 4), round(max(f for f, _ in fits), 4)],
            "marginal_us_per_doc": round(statistics.median(m for _, m in fits), 1),
            "marginal_us_per_doc_range": [round(min(m for _, m in fits), 1),
                                          round(max(m for _, m in fits), 1)],
            "loadavg": [round(x, 2) for x in os.getloadavg()],
        }
        print(json.dumps(out))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
