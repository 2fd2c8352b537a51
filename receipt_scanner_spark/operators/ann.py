"""Approximate nearest-neighbor search over an embedding column.

Two paths, same (vec_id, cosine) output contract:

* ``brute_force_topk`` — exact cosine top-k via an Arrow-batched numpy
  matmul against the broadcast query vector (one BLAS GEMV per batch).
  One full scan per query; the recall oracle and the right answer for
  one-off queries.
* ``ivf_topk`` — IVF-style two-stage search: k-means-lite centroids
  (deterministic seeded sampling + a few Lloyd iterations, computed
  ONCE and broadcast), each vector assigned to its nearest centroid at
  index-build time; a query probes only the ``n_probe`` closest
  centroids' partitions.  At 100 TB the scan touches
  n_probe/n_centroids of the data — the scale path.

Plus ``hyperplane_topk``: random-hyperplane LSH bucket prefilter +
exact rerank, sharing the bucketing with operators/dedup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def cosine_to_query_udf(query: list[float]):
    """Arrow-batched cosine against one broadcast query vector: a single
    BLAS matvec per Arrow batch (up to 10k rows or 1 MiB).  Replaces the
    earlier zip_with + aggregate fold, which Spark runs INTERPRETED per
    row per element (measured 100× slower on this exact shape — see
    plans/queries.embedding_cosine_pairs).  float32→float64 widening is
    exact; only BLAS summation order differs from a sequential fold, in
    the last ulp, which the callers' round(6) absorbs (same argument
    pinned by the embedding_cosine_pairs oracle parity at every SF)."""
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt(q @ q))
    dim = len(query)

    @pandas_udf("double")
    def cos(vecs: pd.Series) -> pd.Series:
        # null-tolerant like the JVM expression it replaced: a NULL or
        # wrong-dimension embedding yields a NULL cosine row (np.stack
        # over a ragged batch would abort the whole task); pd.NA (not
        # NaN) so Spark sees SQL NULL — NaN sorts ABOVE every double
        # and would poison a top-k
        vals = vecs.to_numpy()
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vals),
            dtype=bool, count=len(vals),
        )
        out = pd.array([None] * len(vals), dtype="Float64")
        if ok.any():
            m = np.stack(vals[ok]).astype(np.float64)
            norms = np.sqrt((m * m).sum(axis=1))
            out[ok] = (m @ q) / (norms * qn)
        return pd.Series(out, dtype="Float64")

    return cos


def _cosine_expr(vec_col, query: list[float]):
    return cosine_to_query_udf(query)(F.col(vec_col))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k.  TakeOrderedAndProject: no global sort is
    materialized — each partition keeps its local top-k, the driver
    merges k·partitions rows."""
    return (
        df.select(id_col, F.round(_cosine_expr(vec_col, query), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# --- IVF --------------------------------------------------------------------------

def train_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 5,
    sample_rows: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic k-means-lite on a bounded sample (driver-side numpy
    on ≤ sample_rows vectors — the ONLY driver-side math, O(sample) not
    O(table)).  Returns (n_centroids, dim) float64."""
    sample = np.stack(
        [np.asarray(r[0], dtype=np.float64)
         for r in df.select(vec_col).limit(sample_rows).collect()]
    )
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), n_centroids, replace=False)]
    for _ in range(n_iters):
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def assign_centroids(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index build: (id, centroid_id, embedding).  Vectorized Arrow
    batch matmul; at scale, write this out partitioned by centroid_id
    so queries prune partitions."""
    cents = centroids.astype(np.float64)
    cdim = cents.shape[1]

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        # null/ragged-tolerant: NULL centroid assignment (never probed)
        vals = vecs.to_numpy()
        ok = np.fromiter(
            (v is not None and len(v) == cdim for v in vals),
            dtype=bool, count=len(vals),
        )
        out = pd.array([None] * len(vals), dtype="Int32")
        if ok.any():
            m = np.stack(vals[ok]).astype(np.float64)
            d = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            out[ok] = d.argmin(axis=1).astype(np.int32)
        return pd.Series(out, dtype="Int32")

    return df.select(F.col(id_col), F.col(vec_col), nearest(F.col(vec_col)).alias("centroid_id"))


def ivf_topk(
    indexed: DataFrame,
    centroids: np.ndarray,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe nearest centroid partitions, exact rerank
    inside them.  ``indexed`` is assign_centroids() output (on disk,
    partitioned by centroid_id, the filter prunes partitions)."""
    q = np.asarray(query, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probe = [int(c) for c in d.argsort()[:n_probe]]
    return (
        indexed.filter(F.col("centroid_id").isin(probe))
        .select(id_col, F.round(_cosine_expr(vec_col, query), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hyperplane_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_hamming: int = 1,
) -> DataFrame:
    """LSH prefilter: keep vectors whose hyperplane sign pattern is
    within ``max_hamming`` bits of the query's, exact-rerank those."""
    from .dedup import _hyperplanes

    dim = len(query)
    planes = _hyperplanes(dim, n_planes, seed)
    qsig = int(((np.asarray(query) @ planes.T) > 0)
               @ (1 << np.arange(n_planes)).astype(np.int64))

    @pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        # null/ragged-tolerant: NULL signature rows fail the hamming
        # filter and drop out instead of aborting the batch
        vals = vecs.to_numpy()
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vals),
            dtype=bool, count=len(vals),
        )
        out = pd.array([None] * len(vals), dtype="Int64")
        if ok.any():
            m = np.stack(vals[ok]).astype(np.float64)
            s = (m @ planes.T) > 0
            out[ok] = (
                s @ (1 << np.arange(n_planes)).astype(np.int64)
            ).astype(np.int64)
        return pd.Series(out, dtype="Int64")

    tagged = df.withColumn("_sig", sig(F.col(vec_col)))
    # integral popcount — stays inside whole-stage codegen (the earlier
    # bin()+regexp_replace path built a 64-char string per row)
    ham = F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig)))
    return (
        tagged.filter(ham <= max_hamming)
        .select(id_col, F.round(_cosine_expr(vec_col, query), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Persist the IVF index: vectors written PARTITIONED BY centroid_id,
    centroids saved alongside.  A probe query's ``centroid_id IN (...)``
    filter then prunes entire partition directories at the scan — at
    100 TB a 4/64-probe search reads ~6% of the index bytes."""
    import json
    import pathlib

    cents = train_centroids(df, vec_col, n_centroids, seed=seed)
    indexed = assign_centroids(df, cents, id_col, vec_col)
    indexed.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    meta = pathlib.Path(path) / "_centroids.json"
    meta.write_text(json.dumps(cents.tolist()))
    return cents


def load_ivf_index(spark, path: str):
    """(indexed DataFrame, centroids) from a persisted IVF index."""
    import json
    import pathlib

    cents = np.asarray(json.loads((pathlib.Path(path) / "_centroids.json").read_text()))
    return spark.read.parquet(path), cents
