"""Oracle-checked operator queries for the driver contract (__spark_entry__.py).

Each query is a ``(spark, sf_dir) -> DataFrame`` callable paired with a
DuckDB oracle string over the same parquet tables (``ORACLE_QUERIES``).
An entry belongs here only if its Spark side runs code defined in this
package (the dedup, ANN, as-of and text operators), directly or through
another entry, or if another entry composes it (quality_filter); a
query that exercises only Spark's built-ins tests Spark, not this
engine.  Conventions that make the oracle value-hash stable:

* every computed column is aliased identically in both engines;
* top-k queries carry a total tie-break ordering;
* float similarity scores are rounded to 6 decimals on both sides.

Scale notes are in each docstring: what shuffles, what broadcasts, and
why the plan survives 100 TB (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- dedup over documents: shingles, MinHash-LSH, n-gram Jaccard, SimHash -----

def _shingles3():
    """Distinct word-3-gram shingles of the text column, Arrow-batched
    (operators/dedup.word_shingles_udf — the JVM transform(sequence(…))
    HOF it replaces runs interpreted per element, measured 4.2× slower;
    outputs identical, so the DuckDB oracles are unaffected)."""
    from ..operators.dedup import word_shingles_udf

    return word_shingles_udf(3)(F.col("text"))


def minhash_signatures(spark: SparkSession, sf_dir: str, k: int = 8) -> DataFrame:
    """MinHash over word 3-gram shingles, K permutations emulated as
    md5(shingle || '#' || i) lexicographic minima — exact strings, so
    the oracle matches bit-for-bit.  At scale: explode→groupBy is one
    shuffle; K mins fold map-side."""
    docs = t(spark, sf_dir, "documents")
    exploded = docs.select("doc_id", F.explode(_shingles3()).alias("sh"))
    aggs = [
        F.min(F.md5(F.concat(F.col("sh"), F.lit(f"#{i}")))).alias(f"h{i}")
        for i in range(k)
    ]
    return exploded.groupBy("doc_id").agg(*aggs).orderBy("doc_id")


def minhash_signatures_sql(k: int = 8) -> str:
    mins = ",\n       ".join(
        f"MIN(md5(sh || '#{i}')) AS h{i}" for i in range(k)
    )
    return rf"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
  FROM words, UNNEST(range(GREATEST(LEN(w) - 2, 0))) AS t(i)
)
SELECT doc_id, {mins}
FROM shingles GROUP BY doc_id ORDER BY doc_id
"""


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, sort: bool = True
) -> DataFrame:
    """Word-3-gram Jaccard near-dup candidates within (lang, source)
    blocks.  Blocking bounds the pair space — the 100 TB answer is
    MinHash-LSH banding (operators/dedup.py); this exact variant is the
    oracle-checkable ground truth at small scale.  ``sort=False`` skips
    the presentation orderBy for consumers that immediately destroy the
    order (connected components) — one less range exchange."""
    docs = t(spark, sf_dir, "documents")
    # ONE shingle pass (r4; PLANS.md previously documented four
    # ArrowEvalPython recomputes: both self-join sides + two size
    # branches).  The compact PER-DOC array table (one row per doc) is
    # lazily localCheckpoint'd so the self-join's two branches read a
    # single materialization instead of re-running the Arrow UDF, and
    # n_sh rides the exploded rows through the join — first() per group
    # recovers it, deleting both broadcast size-joins outright.
    # Scale note: the checkpoint materializes O(total shingles) to
    # executor-local storage — right for this operator's role (the
    # small-scale EXACT oracle, run on samples/blocks); a full-corpus
    # near-dup pass uses minhash_lsh_candidates, which never holds
    # shingle sets past the signature fold.
    shing = (
        docs.select(
            "doc_id", "lang", "source", _shingles3().alias("sh_arr")
        )
        .withColumn("n_sh", F.size("sh_arr"))
        .localCheckpoint(eager=False)
    )
    exploded = shing.select(
        "doc_id", "lang", "source", "n_sh", F.explode("sh_arr").alias("sh")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first(F.col("a.n_sh")).alias("n_a"),
            F.first(F.col("b.n_sh")).alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )
    return out.orderBy("doc_a", "doc_b") if sort else out


NGRAM_JACCARD_SQL = r"""
WITH words AS (
  SELECT doc_id, lang, source, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, lang, source, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
  FROM words, UNNEST(range(GREATEST(LEN(w) - 2, 0))) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
ORDER BY doc_a, doc_b
"""


def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: n-gram Jaccard candidate pairs (>= 0.2) fed
    through alternating large-star/small-star connected components; each
    document gets its cluster's canonical (min) id and a keep/drop flag.
    At 100 TB the pair source swaps to minhash_lsh_candidates — the
    component step is identical (operators/dedup.py scale notes)."""
    from receipt_scanner_spark.operators.dedup import assign_components

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(spark, sf_dir, sort=False)
    return assign_components(
        docs, pairs, id_col="doc_id", pair_a="doc_a", pair_b="doc_b"
    ).orderBy("doc_id")


NEAR_DUP_COMPONENTS_SQL = r"""
WITH RECURSIVE words AS (
  SELECT doc_id, lang, source, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, lang, source, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
  FROM words, UNNEST(range(GREATEST(LEN(w) - 2, 0))) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
), und AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, r.label FROM und u JOIN reach r ON r.node = u.dst
), comp AS (
  SELECT node, MIN(label) AS component FROM reach GROUP BY node
)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS component,
       (COALESCE(c.component, d.doc_id) = d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
ORDER BY d.doc_id
"""


def minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding with md5 permutations (k=8, 4 bands x 2 rows):
    the band-bucket self-join is structurally identical to the xxhash64
    scale path in operators/dedup.py, but every hash is md5-of-string so
    DuckDB reproduces the candidate set bit-for-bit — this upgrades the
    LSH *banding* step itself to an oracle-checked operator."""
    sig = minhash_signatures(spark, sf_dir, k=8)
    bands = F.array(
        *[
            F.md5(F.concat_ws(",", f"h{2 * b}", f"h{2 * b + 1}"))
            for b in range(4)
        ]
    )
    banded = sig.select(
        "doc_id", F.posexplode(bands).alias("band", "bucket")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .orderBy("id_a", "id_b")
    )


MINHASH_BAND_PAIRS_SQL = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
  FROM words, UNNEST(range(GREATEST(LEN(w) - 2, 0))) AS t(i)
), sig AS (
  SELECT doc_id,
         MIN(md5(sh || '#0')) AS h0, MIN(md5(sh || '#1')) AS h1,
         MIN(md5(sh || '#2')) AS h2, MIN(md5(sh || '#3')) AS h3,
         MIN(md5(sh || '#4')) AS h4, MIN(md5(sh || '#5')) AS h5,
         MIN(md5(sh || '#6')) AS h6, MIN(md5(sh || '#7')) AS h7
  FROM shingles GROUP BY doc_id
), banded AS (
  SELECT doc_id, b.band, CASE b.band
           WHEN 0 THEN md5(h0 || ',' || h1)
           WHEN 1 THEN md5(h2 || ',' || h3)
           WHEN 2 THEN md5(h4 || ',' || h5)
           ELSE md5(h6 || ',' || h7) END AS bucket
  FROM sig, (SELECT UNNEST(range(4)) AS band) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATION quality, oracle-checked end-to-end:
    for every LSH-banding candidate pair, the signature-agreement
    estimate (agreeing components / k) next to the EXACT shingle
    Jaccard and the absolute error.  This closes the loop on the dedup
    family — not just "the banding matches" but "the estimate the
    banding is built on is this close to truth".  md5 permutations so
    DuckDB reproduces everything bit-for-bit; at scale the xxhash64
    path (operators/dedup.py) replaces md5 with the same structure."""
    k = 8
    # ONE shingle UDF pass + ONE signature computation (r4).  Before:
    # this composite re-derived signatures for the banding, for both
    # estimate sides, and shingle sets for both exact-Jaccard sides —
    # 6+ ArrowEvalPython recomputes of the same per-doc work.  Now the
    # compact per-doc shingle-array table is lazily localCheckpoint'd
    # (the r3 A/B that rejected checkpointing applied to the WIDE
    # exploded intermediate — the per-doc array table is 500 rows) and
    # the tiny signature table (one row per doc) is checkpointed off
    # it, so banding/estimate/exact all read materialized inputs.
    docs = t(spark, sf_dir, "documents")
    # the INNER checkpoint is eager: a lazy checkpoint stacked on a lazy
    # checkpoint makes the outer materialization recompute the inner
    # RDD inside a job whose SQL-metric accumulators belong to another
    # execution — harmless but it spams ERROR "non-existent
    # accumulator" lines (measured: 80+ per run); eager-inner is clean
    shing = (
        docs.select("doc_id", _shingles3().alias("sh_arr"))
        .withColumn("n_sh", F.size("sh_arr"))
        .localCheckpoint(eager=True)
    )
    exploded = shing.select("doc_id", F.explode("sh_arr").alias("sh"))
    sig = (
        exploded.groupBy("doc_id")
        .agg(*[
            F.min(F.md5(F.concat(F.col("sh"), F.lit(f"#{i}")))).alias(f"h{i}")
            for i in range(k)
        ])
        .localCheckpoint(eager=False)
    )
    bands = F.array(
        *[
            F.md5(F.concat_ws(",", f"h{2 * b}", f"h{2 * b + 1}"))
            for b in range(4)
        ]
    )
    banded = sig.select("doc_id", F.posexplode(bands).alias("band", "bucket"))
    ba, bb = banded.alias("a"), banded.alias("b")
    pairs = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)]
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)]
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(k)
    )
    est = pairs.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", F.round(agree / float(k), 6).alias("est_jaccard")
    )

    sizes = shing.select("doc_id", "n_sh")
    a = exploded.select(F.col("doc_id").alias("id_a"), "sh")
    b = exploded.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_inter"), F.lit(0))).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        est.join(jac, ["id_a", "id_b"])
        .select(
            "id_a", "id_b", "est_jaccard", "jaccard",
            F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias("abs_err"),
        )
        .orderBy("id_a", "id_b")
    )


MINHASH_JACCARD_ESTIMATE_SQL = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
  FROM words, UNNEST(range(GREATEST(LEN(w) - 2, 0))) AS t(i)
), sig AS (
  SELECT doc_id,
         MIN(md5(sh || '#0')) AS h0, MIN(md5(sh || '#1')) AS h1,
         MIN(md5(sh || '#2')) AS h2, MIN(md5(sh || '#3')) AS h3,
         MIN(md5(sh || '#4')) AS h4, MIN(md5(sh || '#5')) AS h5,
         MIN(md5(sh || '#6')) AS h6, MIN(md5(sh || '#7')) AS h7
  FROM shingles GROUP BY doc_id
), banded AS (
  SELECT doc_id, b.band, CASE b.band
           WHEN 0 THEN md5(h0 || ',' || h1)
           WHEN 1 THEN md5(h2 || ',' || h3)
           WHEN 2 THEN md5(h4 || ',' || h5)
           ELSE md5(h6 || ',' || h7) END AS bucket
  FROM sig, (SELECT UNNEST(range(4)) AS band) b
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), est AS (
  SELECT p.id_a, p.id_b,
         ROUND(((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT
              + (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
              + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0, 6) AS est_jaccard
  FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
), inter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN shingles a ON a.doc_id = p.id_a
  JOIN shingles b ON b.doc_id = p.id_b AND b.sh = a.sh
  GROUP BY 1, 2
), jac AS (
  SELECT p.id_a, p.id_b,
         ROUND(COALESCE(i.n_inter, 0)
               / CAST(sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0) AS DOUBLE), 6) AS jaccard
  FROM pairs p
  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
  JOIN sizes sa ON sa.doc_id = p.id_a
  JOIN sizes sb ON sb.doc_id = p.id_b
)
SELECT e.id_a, e.id_b, e.est_jaccard, j.jaccard,
       ROUND(ABS(e.est_jaccard - j.jaccard), 6) AS abs_err
FROM est e JOIN jac j ON j.id_a = e.id_a AND j.id_b = e.id_b
ORDER BY e.id_a, e.id_b
"""


def simhash_signatures_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION SimHash (numpy-vectorized FNV-1a word hashes,
    bitwise majority vote) — oracle-checked bit-for-bit: DuckDB
    reproduces the FNV-1a fold with a HUGEINT list_reduce (exact mod-
    2^64 arithmetic; corpus is pure ASCII so ord == UTF-8 byte) and the
    signed-int64 reinterpretation of the unsigned signature."""
    from receipt_scanner_spark.operators.dedup import simhash_signatures

    docs = t(spark, sf_dir, "documents")
    return simhash_signatures(docs).orderBy("doc_id")


SIMHASH_SIGNATURES_64_SQL = r"""
WITH words AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS w
  FROM documents
), tok AS (
  SELECT doc_id,
         (list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(w) + 1),
                             i -> ord(substr(w, i, 1))::HUGEINT)),
            (a, b) -> (xor(a, b) * 1099511628211::HUGEINT)
                      % 18446744073709551616::HUGEINT))::UBIGINT AS h
  FROM words WHERE w <> ''
), votes AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM tok, (SELECT UNNEST(range(64)) AS bit) b
  GROUP BY 1, 2
), sig AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS s
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(CASE WHEN g.s >= 9223372036854775808::HUGEINT
                     THEN (g.s - 18446744073709551616::HUGEINT)::BIGINT
                     ELSE g.s::BIGINT END, 0) AS simhash
FROM documents d LEFT JOIN sig g ON g.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def simhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SimHash near-dup candidates: pairs agreeing on any of
    the 4 16-bit bands of the FNV-1a signature, with exact Hamming
    distance attached.  Fully oracle-checked — the signature fold,
    band extraction (arithmetic shift + mask, identical on signed
    64-bit in both engines) and bit_count(xor) all reproduce."""
    from receipt_scanner_spark.operators.dedup import simhash_candidates

    docs = t(spark, sf_dir, "documents")
    return simhash_candidates(docs).orderBy("id_a", "id_b")


SIMHASH_BAND_CANDIDATES_SQL = r"""
WITH words AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS w
  FROM documents
), tok AS (
  SELECT doc_id,
         (list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(w) + 1),
                             i -> ord(substr(w, i, 1))::HUGEINT)),
            (a, b) -> (xor(a, b) * 1099511628211::HUGEINT)
                      % 18446744073709551616::HUGEINT))::UBIGINT AS h
  FROM words WHERE w <> ''
), votes AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM tok, (SELECT UNNEST(range(64)) AS bit) b
  GROUP BY 1, 2
), rawsig AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS s
  FROM votes GROUP BY doc_id
), sig AS (
  SELECT d.doc_id,
         COALESCE(CASE WHEN g.s >= 9223372036854775808::HUGEINT
                       THEN (g.s - 18446744073709551616::HUGEINT)::BIGINT
                       ELSE g.s::BIGINT END, 0) AS simhash
  FROM documents d LEFT JOIN rawsig g ON g.doc_id = d.doc_id
), banded AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * 16)) & 65535 AS bucket
  FROM sig, (SELECT UNNEST(range(4)) AS band) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


# --- similarity search over embeddings ----------------------------------------

def embedding_topk(spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k against one query vector — the exact
    baseline for ANN.  Arrow-batched numpy matvec against the broadcast
    query (operators/ann.cosine_to_query_udf) — the zip_with/aggregate
    fold it replaces runs interpreted per row per element (100× slower,
    same measurement as embedding_cosine_pairs).  At 100 TB the scale
    path is LSH bucketing (operators/ann.py); this exact scan stays the
    recall oracle."""
    from ..operators.ann import cosine_to_query_udf

    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    cosine = cosine_to_query_udf(qvec)(F.col("embedding"))
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", F.round(cosine, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


EMBEDDING_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       ROUND(
         list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * SQRT(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def ivf_topk_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with n_probe = n_centroids: probing every partition makes the
    approximate index EXACT by construction, so the whole IVF machinery
    (k-means centroids, partition assignment, partition-pruned probe,
    in-partition rerank) is pinned against the brute-force SQL oracle.
    The production path (ivf_topk, n_probe=4) stays rows-only — its
    recall-vs-probe tradeoff is the point, not exactness."""
    from receipt_scanner_spark.operators.ann import (
        assign_centroids,
        ivf_topk,
        train_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = train_centroids(emb, n_centroids=8, seed=42)
    indexed = assign_centroids(emb.filter(F.col("vec_id") != 0), cents)
    return ivf_topk(indexed, cents, query, k=10, n_probe=8)


IVF_TOPK_FULLPROBE_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(
         list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * SQRT(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def embedding_cosine_pairs(
    spark: SparkSession, sf_dir: str, sort: bool = True
) -> DataFrame:
    """Exact all-pairs cosine near-dup (threshold 0.35) — the small-scale
    ground truth for embedding_near_dup_candidates (hyperplane LSH).

    Physical design: BLOCK-PARTITIONED matrix multiply.  Vectors are
    packed into ~128-row blocks (applyInPandas), block pairs cross-join
    (B(B+1)/2 rows, each carrying two small matrices), and one
    mapInPandas computes the block-pair cosine submatrix with a single
    BLAS matmul.  This is both the fast shape here (a 64-wide row-at-a-
    time dot product never reaches whole-stage codegen: Spark's HOF
    lambdas run interpreted, and a 64-term unrolled Add tree trips the
    codegen size fallback — measured 175 s vs 3 s for this design at
    sf0.1's 2M pairs) and the shape that scales: at 100 TB the same
    blocking bounds memory per task, and LSH bucketing
    (operators/dedup.py) replaces the all-pairs block grid.

    Float note: BLAS summation order differs from a sequential fold in
    the last ulp; after 6-decimal rounding the values are identical to
    the DuckDB oracle on every pair at every SF (pinned by the oracle
    parity test)."""
    import numpy as np
    import pandas as pd

    emb = t(spark, sf_dir, "embeddings")
    block = 128

    # fixed-size id-range blocks: no count() action needed to size the
    # grid, and block size (hence task memory) stays constant at any
    # table size — distinct g values simply grow with the data
    vecs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.floor(F.col("vec_id") / block).alias("g"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        return pd.DataFrame(
            {
                "g": [int(pdf["g"].iloc[0])],
                "ids": [pdf["vec_id"].to_numpy().tolist()],
                "mat": [mat.tobytes()],
                "norms": [norms.tobytes()],
                "rows": [mat.shape[0]],
            }
        )

    packed = vecs.groupBy("g").applyInPandas(
        pack, "g long, ids array<long>, mat binary, norms binary, rows int"
    )

    a = packed.select(
        F.col("g").alias("ga"), F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"), F.col("norms").alias("norms_a"),
        F.col("rows").alias("rows_a"),
    )
    b = packed.select(
        F.col("g").alias("gb"), F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"), F.col("norms").alias("norms_b"),
        F.col("rows").alias("rows_b"),
    )
    grid = a.join(b, F.col("ga") <= F.col("gb"))

    def block_cosine(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ma = np.frombuffer(row.mat_a, dtype=np.float64).reshape(row.rows_a, -1)
                mb = np.frombuffer(row.mat_b, dtype=np.float64).reshape(row.rows_b, -1)
                na = np.frombuffer(row.norms_a, dtype=np.float64)
                nb = np.frombuffer(row.norms_b, dtype=np.float64)
                ids_a = np.asarray(row.ids_a)
                ids_b = np.asarray(row.ids_b)
                cos = np.round((ma @ mb.T) / np.outer(na, nb), 6)
                ia, ib = np.nonzero(cos >= 0.35)
                va, vb, vc = ids_a[ia], ids_b[ib], cos[ia, ib]
                if row.ga == row.gb:
                    # same block: strict upper triangle only
                    keep = va < vb
                    va, vb, vc = va[keep], vb[keep], vc[keep]
                # cross block (ga < gb): id ranges are disjoint with every
                # a-id < every b-id (floor(vec_id/block) blocking), so the
                # pair is already canonically ordered — nothing to do
                out_a.append(va)
                out_b.append(vb)
                out_c.append(vc)
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    out = grid.mapInPandas(block_cosine, "id_a long, id_b long, cosine double")
    # sort is presentation-only (this query's oracle compares ordered
    # output); component consumers skip it — CC re-shuffles immediately
    return out.orderBy("id_a", "id_b") if sort else out


EMBEDDING_COSINE_PAIRS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
         6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
         6) >= 0.35
ORDER BY id_a, id_b
"""


def embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-cosine similarity graph
    (>= 0.35): a dense, chain-heavy graph that exercises the alternating
    large-star/small-star operator on non-trivial topology (multi-hop
    clusters), unlike the sparse text near-dup graph."""
    from receipt_scanner_spark.operators.dedup import assign_components

    emb = t(spark, sf_dir, "embeddings").select("vec_id")
    pairs = embedding_cosine_pairs(spark, sf_dir, sort=False)
    return assign_components(
        emb, pairs, id_col="vec_id", pair_a="id_a", pair_b="id_b"
    ).orderBy("vec_id")


EMBEDDING_COMPONENTS_SQL = """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE ROUND(
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
         6) >= 0.35
), und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, r.label FROM und u JOIN reach r ON r.node = u.dst
), comp AS (
  SELECT node, MIN(label) AS component FROM reach GROUP BY node
)
SELECT e.vec_id,
       COALESCE(c.component, e.vec_id) AS component,
       (COALESCE(c.component, e.vec_id) = e.vec_id) AS keep
FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
ORDER BY e.vec_id
"""


# --- per-document text signals ------------------------------------------------

def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / diversity quality signals (the Gopher-rule family):
    type-token ratio and the count of the most-repeated word 3-gram per
    document.  Both fold map-side before their groupBy shuffles; at
    100 TB this is the standard pre-train repetition gate."""
    docs = t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.lower("text")), r"\s+")
    base = docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        words.alias("_w"),
    )
    # non-distinct 3-grams: repetition is the point, so no dedup
    # (Arrow-batched — see word_shingles_udf on the interpreted-HOF trap)
    from ..operators.dedup import word_shingles_udf

    g = docs.select(
        "doc_id",
        F.explode(word_shingles_udf(3, distinct=False)(F.col("text"))).alias("g"),
    )
    top = (
        g.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_3gram_count"))
    )
    return (
        base.select(
            "doc_id",
            "n_words",
            "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_words"), 6).alias("ttr"),
        )
        .join(top, "doc_id", "left")
        .select(
            "doc_id", "n_words", "n_distinct", "ttr",
            F.coalesce("top_3gram_count", F.lit(0)).alias("top_3gram_count"),
        )
        .orderBy("doc_id")
    )


REPETITION_STATS_SQL = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), base AS (
  SELECT doc_id, LEN(w) AS n_words,
         LEN(list_distinct(w)) AS n_distinct, w
  FROM words
), grams AS (
  SELECT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS g
  FROM base, UNNEST(range(GREATEST(LEN(w) - 2, 0))) AS t(i)
), top AS (
  SELECT doc_id, MAX(c) AS top_3gram_count FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2
  ) GROUP BY doc_id
)
SELECT b.doc_id, b.n_words, b.n_distinct,
       ROUND(b.n_distinct / CAST(b.n_words AS DOUBLE), 6) AS ttr,
       COALESCE(t.top_3gram_count, 0) AS top_3gram_count
FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id
ORDER BY b.doc_id
"""


def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin document fingerprint (Horner fold mod 2^61-1, base
    257, over whitespace-normalized lowercased UTF-8).  Map-only pandas
    UDF on the Spark side; the DuckDB oracle reproduces the exact
    integer fold with list_reduce over HUGEINT — valid because the test
    corpus is pure ASCII (codepoint == UTF-8 byte; verified for every
    SF) and the hash value < 2^61 makes the 63-bit mask a no-op."""
    from receipt_scanner_spark.functions.text import rolling_fingerprint

    docs = t(spark, sf_dir, "documents")
    return rolling_fingerprint(docs).orderBy("doc_id")


DOC_ROLLING_FINGERPRINT_SQL = r"""
SELECT doc_id,
       CASE WHEN length(norm) = 0 THEN 0
            ELSE (list_reduce(
                    list_transform(range(1, length(norm) + 1),
                                   i -> ord(substr(norm, i, 1))::HUGEINT),
                    (a, b) -> (a * 257 + b) % 2305843009213693951::HUGEINT
                  ))::BIGINT
       END AS fingerprint
FROM (
  SELECT doc_id, TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')) AS norm
  FROM documents
)
ORDER BY doc_id
"""


# --- events: as-of join -------------------------------------------------------

def asof_purchase_prior_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event gets the user's most recent click
    at-or-before the purchase (operators/asof.py — union-tag + window
    carry-forward, ONE keyed shuffle, no range-join explosion).  Oracle:
    DuckDB's native ASOF LEFT JOIN over the same deduped right side."""
    from receipt_scanner_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases,
        clicks,
        by="user_id",
        right_cols=["ts", "event_id", "value"],
        dedupe_order_col="event_id",
        prefix="click_",
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        "click_event_id", "click_ts", "click_value",
    ).orderBy("event_id")


ASOF_PURCHASE_PRIOR_CLICK_SQL = """
WITH clicks AS (
  SELECT user_id, ts, event_id, value FROM (
    SELECT user_id, ts, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
), purchases AS (
  SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.event_id AS click_event_id, c.ts AS click_ts, c.value AS click_value
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


# --- training-data preparation: quality gate + dedup composition --------------

def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data quality filtering: composite keep/drop decision from
    length, token, and character-class signals — the standard pre-train
    corpus gate, entirely JVM-side.  An entry of its own because
    training_data_prep composes it: a mismatch here localizes a
    training_data_prep failure to the quality stage."""
    docs = t(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    n_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    alpha = F.round(
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.length("text"), 6
    )
    raw_mean = F.length(trimmed) / F.greatest(n_tokens, F.lit(1))
    # keep-decision uses the RAW ratio (rounding only for display), so the
    # oracle comparison cannot diverge on round-boundary values
    keep = (
        (n_tokens >= 20)
        & (alpha >= 0.5)
        & (raw_mean >= 3.0)
        & (raw_mean <= 12.0)
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        alpha.alias("alpha_ratio"),
        F.round(raw_mean, 6).alias("mean_token_len"),
        keep.alias("keep"),
    ).orderBy("doc_id")


QUALITY_FILTER_SQL = r"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens,
         ROUND(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
               / CAST(LENGTH(text) AS DOUBLE), 6) AS alpha_ratio,
         LENGTH(TRIM(text)) AS n_trim
  FROM documents
)
SELECT doc_id, n_tokens, alpha_ratio,
       ROUND(n_trim / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 6) AS mean_token_len,
       (n_tokens >= 20 AND alpha_ratio >= 0.5
        AND n_trim / CAST(GREATEST(n_tokens, 1) AS DOUBLE) >= 3.0
        AND n_trim / CAST(GREATEST(n_tokens, 1) AS DOUBLE) <= 12.0) AS keep
FROM scored ORDER BY doc_id
"""


def training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data preparation — the composite keep/drop
    decision a pre-train corpus pipeline actually ships: quality gate ∧
    exact-dedup canonical ∧ near-dup-cluster canonical, with each
    stage's verdict exposed for auditability.  Composes quality_filter,
    an md5 exact-dedup keeper (operators/dedup.normalized_fingerprint)
    and near_dup_components; the DuckDB oracle glues the same three
    constructions into one CTE chain, so the COMPOSITION itself is
    oracle-checked, not just the parts.  At 100 TB: each stage is its
    own documented scale shape (JVM expressions / one md5 shuffle /
    LSH-candidates + log-rounds clustering), and the final join keys on
    doc_id — three co-partitionable joins."""
    from ..operators.dedup import normalized_fingerprint

    docs = t(spark, sf_dir, "documents")
    q = quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("quality_keep")
    )
    fp = normalized_fingerprint("text")
    keepers = (
        docs.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"))
    )
    e = (
        docs.select(fp.alias("fp"), "doc_id")
        .join(keepers, "fp")
        .select("doc_id", (F.col("doc_id") == F.col("keeper")).alias("exact_keep"))
    )
    nd = near_dup_components(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("near_dup_keep")
    )
    return (
        docs.select("doc_id")
        .join(q, "doc_id")
        .join(e, "doc_id")
        .join(nd, "doc_id")
        .select(
            "doc_id",
            "quality_keep",
            "exact_keep",
            "near_dup_keep",
            (
                F.col("quality_keep") & F.col("exact_keep") & F.col("near_dup_keep")
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


TRAINING_DATA_PREP_SQL = r"""
WITH RECURSIVE scored AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens,
         ROUND(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
               / CAST(LENGTH(text) AS DOUBLE), 6) AS alpha_ratio,
         LENGTH(TRIM(text)) AS n_trim
  FROM documents
), quality AS (
  SELECT doc_id,
         (n_tokens >= 20 AND alpha_ratio >= 0.5
          AND n_trim / CAST(GREATEST(n_tokens, 1) AS DOUBLE) >= 3.0
          AND n_trim / CAST(GREATEST(n_tokens, 1) AS DOUBLE) <= 12.0) AS quality_keep
  FROM scored
), fps AS (
  SELECT doc_id, md5(TRIM(LOWER(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
  FROM documents
), exact AS (
  SELECT f.doc_id,
         (f.doc_id = MIN(f2.doc_id)) AS exact_keep
  FROM fps f JOIN fps f2 ON f2.fp = f.fp
  GROUP BY f.doc_id
), words AS (
  SELECT doc_id, lang, source, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, lang, source, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
  FROM words, UNNEST(range(GREATEST(LEN(w) - 2, 0))) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
), und AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, r.label FROM und u JOIN reach r ON r.node = u.dst
), comp AS (
  SELECT node, MIN(label) AS component FROM reach GROUP BY node
), near AS (
  SELECT d.doc_id,
         (COALESCE(c.component, d.doc_id) = d.doc_id) AS near_dup_keep
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT d.doc_id, q.quality_keep, e.exact_keep, n.near_dup_keep,
       (q.quality_keep AND e.exact_keep AND n.near_dup_keep) AS keep
FROM documents d
JOIN quality q ON q.doc_id = d.doc_id
JOIN exact e ON e.doc_id = d.doc_id
JOIN near n ON n.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# --- registry ------------------------------------------------------------------

ORACLE_QUERIES: dict[str, tuple] = {
    "minhash_signatures": (minhash_signatures, minhash_signatures_sql()),
    "ngram_jaccard_pairs": (ngram_jaccard_pairs, NGRAM_JACCARD_SQL),
    "near_dup_components": (near_dup_components, NEAR_DUP_COMPONENTS_SQL),
    "minhash_band_pairs": (minhash_band_pairs, MINHASH_BAND_PAIRS_SQL),
    "minhash_jaccard_estimate": (minhash_jaccard_estimate, MINHASH_JACCARD_ESTIMATE_SQL),
    "simhash_signatures_64": (simhash_signatures_64, SIMHASH_SIGNATURES_64_SQL),
    "simhash_band_candidates": (simhash_band_candidates, SIMHASH_BAND_CANDIDATES_SQL),
    "embedding_topk": (embedding_topk, EMBEDDING_TOPK_SQL),
    "ivf_topk_fullprobe": (ivf_topk_fullprobe, IVF_TOPK_FULLPROBE_SQL),
    "embedding_cosine_pairs": (embedding_cosine_pairs, EMBEDDING_COSINE_PAIRS_SQL),
    "embedding_components": (embedding_components, EMBEDDING_COMPONENTS_SQL),
    "repetition_stats": (repetition_stats, REPETITION_STATS_SQL),
    "doc_rolling_fingerprint": (doc_rolling_fingerprint, DOC_ROLLING_FINGERPRINT_SQL),
    "asof_purchase_prior_click": (asof_purchase_prior_click, ASOF_PURCHASE_PRIOR_CLICK_SQL),
    "quality_filter": (quality_filter, QUALITY_FILTER_SQL),
    "training_data_prep": (training_data_prep, TRAINING_DATA_PREP_SQL),
}
