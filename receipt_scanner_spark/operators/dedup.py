"""Deduplication operators — the 100 TB scale paths.

Four tiers, all Spark-native (no driver-side loops, no collect on the
data path):

* ``exact_dedup_df`` — md5-of-normalized-text hash-groupBy; ONE shuffle
  on a uniformly-distributed key.  The canonical first pass.
* ``minhash_lsh_candidates`` — word-shingle MinHash signatures (K
  xxhash64 permutations, map-side min) banded into B buckets; only
  rows sharing a (band, band-hash) bucket are joined.  Candidate-pair
  volume scales with true near-dup density, not n² — THE web-scale
  near-dup algorithm (vs. the exact n-gram Jaccard in plans/queries.py
  which is the small-scale oracle for it).
* ``simhash_signatures`` — 64-bit SimHash per document computed in a
  vectorized pandas UDF (map-only, zero shuffle); near-dup candidates
  via 4×16-bit band equality (Hamming ≤ 3 heuristic).
* ``embedding_near_dup_candidates`` — random-hyperplane LSH over an
  embedding column: sign-pattern buckets, cosine verified within
  buckets only.

Determinism: every "random" ingredient (hash seeds, hyperplanes) is
derived from a fixed seed so reruns and resumes produce identical
outputs (north rule: byte-identical, resumable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def normalized_fingerprint(text_col: str = "text"):
    """md5 of lowercased whitespace-collapsed text (exact-dup key)."""
    return F.md5(F.trim(F.lower(F.regexp_replace(text_col, r"\s+", " "))))


def exact_dedup_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id row per exact-content group.  Implemented as
    min-id-per-fingerprint + semi join (no full-row shuffle of text)."""
    fp = normalized_fingerprint(text_col).alias("_fp")
    keepers = (
        df.select(fp, F.col(id_col))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


import re as _re

# Tokenization must be EXACTLY the oracle's regexp_split_to_array(
# TRIM(LOWER(text)), '\s+'): TRIM strips ASCII spaces only, RE2's \s is
# [\t\n\f\r ], and a leading/trailing non-space whitespace char yields
# an EMPTY boundary token (which then joins into a shingle with a
# leading/trailing space).  str.split() drops those empty tokens and
# uses the full Unicode whitespace set — close, but silently divergent
# on '\tfoo bar baz'-shaped text (caught by round-2 self-review; pinned
# by test_dedup.test_shingles_boundary_whitespace_matches_oracle).
_ORACLE_WS = _re.compile(r"[\t\n\f\r ]+")


def _oracle_tokens(t: str | None) -> list[str]:
    t2 = (t or "").lower().strip(" ")
    return _ORACLE_WS.split(t2)


def word_shingles_udf(n: int = 3, distinct: bool = True):
    """Arrow-batched distinct word n-gram shingles.

    Replaces the earlier JVM ``transform(sequence(...))`` construction:
    Spark evaluates HOF lambdas INTERPRETED per element, and at ~300
    shingles/doc that measured 4.2× slower than this batched Python
    join (13.4 s → 3.2 s for the sf0.1 shingle explode).  Tokenization
    mirrors the DuckDB oracle exactly (see _oracle_tokens), incl. empty
    boundary tokens; dict.fromkeys ≡ array_distinct (keeps first-seen
    order; order is irrelevant post-explode anyway)."""
    import pandas as pd  # local: udfs built lazily need no module state

    def gen(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            ws = _oracle_tokens(t)
            if len(ws) >= n:
                grams = (" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))
                out.append(
                    list(dict.fromkeys(grams)) if distinct else list(grams)
                )
            else:
                out.append([])
        return pd.Series(out)

    return pandas_udf(gen, "array<string>")


def _shingle_col(text_col: str, n: int = 3):
    """Distinct word n-gram shingles of a text column (Arrow-batched)."""
    return word_shingles_udf(n)(F.col(text_col))


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>[num_hashes]): min over shingles of
    xxhash64(shingle, seed=i).  explode→groupBy is one shuffle; the K
    mins combine map-side (partial aggregation)."""
    sh = df.select(F.col(id_col), F.explode(_shingle_col(text_col, shingle_n)).alias("sh"))
    aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) agreeing on ≥1 LSH band.

    rows-per-band r = num_hashes/bands; the match probability knee sits
    at jaccard ≈ (1/bands)^(1/r).  Defaults (32,8→r=4) knee ≈ 0.6.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_n)
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(",", *[F.element_at("sig", b * r + j + 1).cast("string") for j in range(r)])
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


# --- SimHash -------------------------------------------------------------------

_FNV_SEED = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def _fnv1a64_words(enc: list[bytes]) -> np.ndarray:
    """FNV-1a 64-bit of each byte string, vectorized: words are grouped
    by byte length, each group folds column-wise over a (k, L) byte
    matrix gathered from one concatenated buffer.  Work = total bytes,
    memory = O(largest group), no per-character Python loop.  Unsigned
    uint64 arithmetic wraps mod 2^64 exactly like the scalar
    ``(h ^ ch) * prime & 0xFFFF...`` fold it replaces (bit-identical;
    pinned by the DuckDB HUGEINT-fold oracle simhash_signatures_64)."""
    n = len(enc)
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=n)
    allb = np.frombuffer(b"".join(enc), dtype=np.uint8)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1])) if n else np.zeros(0, np.int64)
    out = np.full(n, _FNV_SEED, dtype=np.uint64)
    for L in np.unique(lens):
        if L == 0:
            continue
        idx = np.nonzero(lens == L)[0]
        sub = allb[offs[idx][:, None] + np.arange(L)[None, :]].astype(np.uint64)
        h = np.full(len(idx), _FNV_SEED, dtype=np.uint64)
        for j in range(int(L)):
            h = (h ^ sub[:, j]) * _FNV_PRIME
        out[idx] = h
    return out


def _simhash64(texts: pd.Series) -> pd.Series:
    """Vectorized 64-bit SimHash over the whole Arrow batch: FNV-1a word
    hashes via _fnv1a64_words, then per-document majority votes as 64
    bit-plane segment sums (np.add.reduceat over the doc-contiguous word
    hash array — words are appended in doc order, so doc boundaries are
    reduceat offsets).  votes = 2*ones_count - n_words, so only the ones
    need summing.  No Python loop over characters or bits; measured ~6×
    the scalar-FNV version on 300-word docs, bit-identical output."""
    masks = (np.uint64(1) << np.arange(64, dtype=np.uint64))
    n_texts = len(texts)
    enc: list[bytes] = []
    counts = np.zeros(n_texts, dtype=np.int64)
    for idx, t in enumerate(texts):
        if not t:
            continue
        words = t.lower().split()
        enc.extend(w.encode("utf-8") for w in words)
        counts[idx] = len(words)
    out = np.zeros(n_texts, dtype=np.uint64)
    if enc:
        hs = _fnv1a64_words(enc)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        nz = counts > 0
        bitsum = np.zeros((n_texts, 64), dtype=np.int64)
        for c in range(64):
            ones = ((hs >> np.uint64(c)) & np.uint64(1)).astype(np.int64)
            bitsum[nz, c] = np.add.reduceat(ones, starts[nz])
        votes = 2 * bitsum - counts[:, None]
        out = ((votes > 0) * masks).sum(axis=1, dtype=np.uint64)
    return pd.Series(out.astype(np.int64))


def simhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash LONG) — map-only, zero shuffle.  (UDF built lazily:
    pandas_udf needs an active session to resolve its return type.)"""
    simhash_udf = pandas_udf(_simhash64, "long")
    return df.select(F.col(id_col), simhash_udf(F.col(text_col)).alias("simhash"))


def simhash_candidates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", band_bits: int = 16
) -> DataFrame:
    """Candidate pairs sharing any of the 64/band_bits SimHash bands
    (catches pairs within Hamming distance < 64/band_bits)."""
    n_bands = 64 // band_bits
    sig = simhash_signatures(df, id_col, text_col)
    mask = (1 << band_bits) - 1
    banded = sig.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            # integral popcount of the XOR — branch-free inside codegen;
            # identical on signed longs to counting '1's in the two's
            # complement bit pattern (the earlier bin()+regexp_replace
            # string path materialized a 64-char string per candidate row)
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )


# --- embedding near-dup ----------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _bucket_udf(planes: np.ndarray, n_planes: int):
    """Arrow-batched sign-pattern bucket id for a vector column."""
    dim = planes.shape[1]

    @pandas_udf("long")
    def bucket(vecs: pd.Series) -> pd.Series:
        # null/ragged-tolerant: bad rows get a NULL bucket (equi-join
        # then drops them) instead of aborting the Arrow batch
        vals = vecs.to_numpy()
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vals),
            dtype=bool, count=len(vals),
        )
        out = pd.array([None] * len(vals), dtype="Int64")
        if ok.any():
            m = np.stack(vals[ok])  # (n_ok, dim) float32
            signs = (m @ planes.T) > 0
            weights = (1 << np.arange(n_planes)).astype(np.int64)
            out[ok] = (signs @ weights).astype(np.int64)
        return pd.Series(out, dtype="Int64")

    return bucket


def _hyperplanes_cache(df: DataFrame, vec_col: str, n_planes: int, seed: int) -> np.ndarray:
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if row is None or row[0] is None or len(row[0]) == 0:
        raise ValueError(
            f"cannot infer embedding dimension: no non-null, non-empty "
            f"'{vec_col}' values — pass dim= explicitly"
        )
    return _hyperplanes(len(row[0]), n_planes, seed)


def embedding_near_dup_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    min_cosine: float = 0.9,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs: bucket by hyperplane signs, verify
    cosine ≥ min_cosine INSIDE buckets only (the n² join never happens
    across buckets).

    r4 shape: bucket id and the cast vector are ONE map-only projection
    over the input (they used to be two branches joined back on id — a
    sort-merge join plus duplicate Arrow UDF runs for a table both
    columns derive from), lazily localCheckpoint'd so the self-join's
    two sides read a single materialization.  This mirrors the 100 TB
    recipe exactly: persist the bucketed-and-tagged table in one pass,
    then join it with itself on the bucket key."""
    planes = (
        _hyperplanes(dim, n_planes, seed)
        if dim is not None
        else _hyperplanes_cache(df, vec_col, n_planes, seed)
    )
    tagged = df.select(
        F.col(id_col),
        _bucket_udf(planes, n_planes)(F.col(vec_col)).alias("bucket"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).localCheckpoint(eager=False)
    a, b = tagged.alias("a"), tagged.alias("b")

    # In-bucket verify is Arrow-batched numpy (one einsum per batch), NOT
    # a zip_with/aggregate fold — Spark runs HOF lambdas interpreted per
    # row per element (measured 100× slower; see plans/queries.
    # embedding_cosine_pairs).  round(6) absorbs the BLAS vs sequential
    # summation-order ulp, as pinned by the cosine-pairs oracle.
    @pandas_udf("double")
    def pair_cosine(u: pd.Series, v: pd.Series) -> pd.Series:
        # null-tolerant (see ann.cosine_to_query_udf): NULL/ragged rows
        # yield NULL, never abort the Arrow batch
        ua, va = u.to_numpy(), v.to_numpy()
        ok = np.fromiter(
            (
                a is not None and b is not None and len(a) == len(b)
                for a, b in zip(ua, va)
            ),
            dtype=bool, count=len(ua),
        )
        out = pd.array([None] * len(ua), dtype="Float64")
        if ok.any():
            ma = np.stack(ua[ok]).astype(np.float64)
            mb = np.stack(va[ok]).astype(np.float64)
            num = np.einsum("ij,ij->i", ma, mb)
            na = np.sqrt((ma * ma).sum(axis=1))
            nb = np.sqrt((mb * mb).sum(axis=1))
            out[ok] = num / (na * nb)
        return pd.Series(out, dtype="Float64")

    cosine = pair_cosine(F.col("a._v"), F.col("b._v"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
        .distinct()
    )


# --- near-dup clustering: connected components over candidate pairs -----------


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds, every round two shuffles, no driver-side
    graph state.  This is the step the reference lacks entirely: its
    dedup surface ends at per-document results, while a training-data
    pipeline must turn near-dup *pairs* into keep/drop *clusters*.

    Returns ``(node, component)`` for every node appearing in ``edges``,
    where ``component`` is the smallest node id in the node's component.

    Scale notes (100 TB): candidate edges from MinHash-LSH are sparse
    (volume ~ true-dup density); each round is two groupBy shuffles on
    node id; ``localCheckpoint`` truncates lineage so plans stay O(1)
    per round rather than growing with iterations.  Convergence is
    detected by an order-insensitive (count, xor-of-hash) fingerprint of
    the edge set — one tiny aggregate per round.
    """
    e = (
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # checkpoint so the upstream edge lineage (e.g. an n-gram
        # Jaccard self-join) is computed once, not by BOTH the
        # convergence fingerprint and round 1.  LAZY: the fingerprint
        # aggregate right below is the materializing action, so each
        # checkpoint costs one job, not two (eager=True ran a separate
        # materialization job per round)
        .localCheckpoint(eager=False)
    )

    def _fingerprint(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    def large_star(df: DataFrame) -> DataFrame:
        und = df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = und.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        return (
            und.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(df: DataFrame) -> DataFrame:
        # orient every edge toward the larger endpoint
        o = df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = o.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        joined = o.join(m, "u")
        out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
            joined.select(F.col("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    prev = _fingerprint(e)  # materializes the lazy checkpoint above
    if prev[0] > 0:  # empty graph: skip the rounds entirely
        for _ in range(max_iterations):
            e = small_star(large_star(e)).localCheckpoint(eager=False)
            cur = _fingerprint(e)  # one action: fingerprint + checkpoint
            if cur == prev:
                break
            prev = cur

    # converged edge set is a star forest: (node > root) -> root
    return e.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    ).distinct()


def assign_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Keep/drop decision per document from near-dup candidate pairs:
    component = min doc id of the duplicate cluster (self if unique),
    keep = (doc is its cluster's canonical representative)."""
    comp = connected_components(pairs, src=pair_a, dst=pair_b)
    joined = docs.select(F.col(id_col)).join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    )
    component = F.coalesce(F.col("component"), F.col(id_col))
    return joined.select(
        F.col(id_col),
        component.alias("component"),
        (component == F.col(id_col)).alias("keep"),
    )
