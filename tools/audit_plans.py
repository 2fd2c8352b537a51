"""Regenerate PLANS.md — `.explain("formatted")` audit of every headline
plan with Exchange/BroadcastExchange counts and scale commentary.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, ".")


def summarize(df) -> tuple[int, int]:
    p = df._jdf.queryExecution().executedPlan().toString()
    return p.count("Exchange"), p.count("BroadcastExchange")


def main() -> None:
    from receipt_scanner_spark.plans import queries as Q
    from receipt_scanner_spark.plans.pipeline import extract_pages, read_pages
    from receipt_scanner_spark.plans.session import get_spark
    from receipt_scanner_spark.sources.pages import write_corpus

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="audit-plans", cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    d = tempfile.mkdtemp()
    write_corpus(d, n_rows=100, seed=42, n_files=2)
    pages = read_pages(spark, f"{d}/pages.parquet")

    rows = [
        ("extraction (default)", extract_pages(pages, observe=False),
         "map-only: scan -> one ArrowEvalPython -> project. Zero shuffles; parallelism = input splits."),
        ("extraction (salted)", extract_pages(pages, salt_partitions=8, observe=False),
         "exactly ONE added exchange, keyed (host, xxhash64(url)%salt) - the explicit crawl-skew defense."),
        ("minhash_signatures", Q.minhash_signatures(spark, sf),
         "shingles via ONE ArrowEvalPython (batched UDF; the interpreted transform(sequence) HOF it replaced measured 4.2x slower), explode->groupBy one shuffle, K min-hash aggregates fold map-side."),
        ("embedding_topk", Q.embedding_topk(spark, sf),
         "ZERO exchanges: TakeOrderedAndProject keeps per-partition top-k, driver merges k*partitions rows."),
        ("minhash_band_pairs", Q.minhash_band_pairs(spark, sf),
         "signature agg is ONE explode->groupBy shuffle; the band self-join is an equi-join on (band,bucket) so shuffle volume tracks bucket collisions, not n²."),
        ("embedding_cosine_pairs", Q.embedding_cosine_pairs(spark, sf),
         "blocked BLAS matmul: ONE applyInPandas shuffle packs ~128-row blocks; B(B+1)/2 block-pair rows; dot products never leave numpy (HOF fold / unrolled Add tree both measured 50x+ slower)."),
        ("embedding_components", Q.embedding_components(spark, sf),
         "large-star/small-star: two keyed shuffles per round, O(log n) rounds, lineage truncated per round (final plan reads the checkpointed star forest as ExistingRDD)."),
        ("asof_purchase_prior_click", Q.asof_purchase_prior_click(spark, sf),
         "as-of via union-tag + window carry-forward: ONE hash exchange on the join key (plus the dedupe window) — no range-join explosion, no per-row search."),
        ("simhash_band_candidates", Q.simhash_band_candidates(spark, sf),
         "FNV SimHash via one ArrowEvalPython; band self-join equi-keyed on (band,bucket); hamming is integral bit_count(xor) inside codegen (r3: replaced a 64-char bin()+regexp_replace string per candidate row)."),
    ]

    out = [
        "# PLANS — audited physical plans (round 3)",
        "",
        '`.explain("formatted")` audit of every headline plan, with the scale',
        "reasoning.  Re-generate with `python tools/audit_plans.py`.  Counts are",
        "`Exchange` / `BroadcastExchange` occurrences in the executed plan",
        "(AQE re-plans at runtime; counts here are the static plan).",
        "",
        "| query | exchanges | broadcasts | why this is the right plan at 100 TB |",
        "|---|---|---|---|",
    ]
    for name, df, why in rows:
        ex, bc = summarize(df)
        out.append(f"| {name} | {ex} | {bc} | {why} |")

    out += ["", "## Evidence excerpts", "",
            "### extraction default plan (map-only, one Python stage)", "```"]
    p = extract_pages(pages, observe=False)._jdf.queryExecution().executedPlan().toString()
    out += [l.rstrip()[:160] for l in p.splitlines()[:12]]
    out += [
        "```",
        "",
        "## Known non-ideal spots (tracked for later rounds)",
        "",
        "* `ngram_jaccard_pairs` computes shingles ONCE as of r4 (lazy",
        "  localCheckpoint of the per-doc array + n_sh carried through the",
        "  self-join); it remains the small-scale oracle — the scale path is",
        "  minhash_lsh_candidates.",
        "* In local mode the JVM scan phase and Python workers share task slots;",
        "  on a real cluster these overlap across executors (BASELINE.md ceiling",
        "  analysis).",
        "",
    ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
