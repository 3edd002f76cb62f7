"""Similarity search over embedding columns (array<float>).

[north-star training-data ops]. Three paths:
* brute-force cosine top-k — Catalyst-only baseline using F.aggregate /
  F.zip_with (JVM codegen, no Python), correct at any scale where the probe
  side is broadcastable;
* IVF ANN top-k — probes search their ``nprobe`` nearest centroid cells,
  exact cosine re-rank on candidates only;
* LSH-bucketed near-duplicate pairs — random-hyperplane signatures computed
  in one Arrow batch UDF; candidates generated by multi-table equi-join on
  bucket keys, exact cosine verify on candidates only.
The candidate joins carry (cell or bucket, vec_id) pairs, never raw vectors.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..partitioning import spread_small_input


def _cosine_col(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / (na * nb)


def cosine_topk_bruteforce(vectors: DataFrame, probes: DataFrame, k: int,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """(probe_id, rnk, vec_id, cosine) — exact top-k, probe side broadcast."""
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    joined = v.crossJoin(F.broadcast(p)).where(F.col("vec_id") != F.col("probe_id"))
    sim = _cosine_col(F.col("vec"), F.col("probe_vec"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        joined.withColumn("cosine", sim)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("probe_id", "rnk", "vec_id", "cosine")
    )


def train_ivf_centroids(vectors: DataFrame, dim: int | None = None,
                        n_centroids: int = 64,
                        sample: int = 8192, iters: int = 10, seed: int = 42,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> np.ndarray:
    """Spherical k-means coarse quantizer for IVF, trained driver-side on a
    deterministic sample (the standard FAISS-style recipe: train on a small
    sample, assign the full corpus distributed). Returns (n_centroids, dim)
    L2-normalized centroids.

    ``dim`` is accepted for API compatibility but unused — the
    dimensionality comes from the sampled vectors themselves, so callers
    need not run a separate first() job just to size this argument."""
    rows = (
        vectors.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    k = min(n_centroids, len(mat))
    cents = mat[rng.choice(len(mat), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 1e-12:
                    cents[c] = v / n
    return cents


def ivf_assignments(vectors: DataFrame, centroids: np.ndarray,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    nprobe: int = 1) -> DataFrame:
    """(vec_id, cell) IVF cell assignment — each vector to its ``nprobe``
    nearest centroids (nprobe=1 for the indexed side, >1 for probes).
    Distributed: centroids ride the closure (a few KB), assignment is one
    numpy matmul per Arrow batch."""
    cents = np.asarray(centroids, dtype=np.float64)
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("cell", LongType()),
    ])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ cents.T
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            if nprobe == 1:
                cells = np.argmax(sims, axis=1)
                yield pd.DataFrame({"vec_id": ids, "cell": cells.astype(np.int64)})
            else:
                top = np.argsort(-sims, axis=1)[:, :nprobe]
                yield pd.DataFrame({
                    "vec_id": np.repeat(ids, nprobe),
                    "cell": top.reshape(-1).astype(np.int64),
                })

    return vectors.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def cosine_topk_ivf(vectors: DataFrame, probes: DataFrame, k: int,
                    centroids: np.ndarray, nprobe: int = 4,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """IVF ANN [north-star scale path]: candidates = vectors
    whose IVF cell is among the probe's ``nprobe`` nearest cells; exact
    cosine re-rank on candidates only. The candidate join moves (cell, id)
    pairs — embeddings never shuffle."""
    idx = ivf_assignments(vectors, centroids, id_col, vec_col, nprobe=1)
    pidx = ivf_assignments(probes, centroids, id_col, vec_col, nprobe=nprobe)
    cand = (
        pidx.select(F.col("vec_id").alias("probe_id"), "cell")
        .join(idx, "cell")
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .distinct()
    )
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    p = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"))
    joined = cand.join(v, "vec_id").join(F.broadcast(p), "probe_id")
    sim = _cosine_col(F.col("vec"), F.col("probe_vec"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        joined.withColumn("cosine", sim)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("probe_id", "rnk", "vec_id", "cosine")
    )


# Exact (all-pairs) near-dup is quadratic: refuse above this row count
# unless the caller explicitly opts in (see embedding_near_duplicates).
EXACT_PAIRS_MAX_ROWS = 100_000


def embedding_near_duplicates(vectors: DataFrame, threshold: float,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              use_lsh: bool = False, dim: int | None = None,
                              n_planes: int = 8, n_tables: int = 12,
                              max_bucket: int = 10000,
                              seed: int = 42,
                              force_exact: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b) with
    cosine >= threshold, vec_a < vec_b [north-star dedup flavor].

    Brute-force path (default): exact self-join — correct at any scale where
    the pair count is tractable; the cosine is Catalyst-only (zip_with /
    aggregate codegen). LSH path (``use_lsh=True``): random-hyperplane
    bucket candidates (any shared (table, bucket)) + exact cosine verify —
    the 10^9-vector scale path; the candidate join moves only (bucket, id)
    pairs and a bucket holding more than ``max_bucket`` vectors is
    dropped from that table before the candidate join.

    Guard: the exact path launches an O(n^2) self-join, so above
    ``EXACT_PAIRS_MAX_ROWS`` rows it raises with instructions (pass
    use_lsh=True + dim, or force_exact=True) instead of silently planning a
    10^18-pair cartesian on a 10^9-vector corpus.
    """
    # the stream side of the pair join: an under-partitioned input (one
    # unsplittable file) would run the whole O(n^2) cosine evaluation in a
    # single task (guide §2.5) — spread it so the nested-loop join
    # parallelizes; pair results are partitioning-invariant
    spread = spread_small_input(vectors)
    a = spread.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    if not use_lsh:
        n = vectors.count()
        if n > EXACT_PAIRS_MAX_ROWS and not force_exact:
            raise ValueError(
                f"embedding_near_duplicates: exact all-pairs over {n} vectors "
                f"(> {EXACT_PAIRS_MAX_ROWS}) would launch an O(n^2) self-join "
                f"({n * (n - 1) // 2:,} pairs). Pass use_lsh=True with dim= "
                "for the bucketed scale path, or force_exact=True if the "
                "quadratic cost is intended."
            )
        pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    else:
        if dim is None:
            raise ValueError("dim required for the LSH path")
        sigs = hyperplane_signatures(vectors, dim, n_planes, n_tables, seed,
                                     id_col, vec_col)
        hot = (
            sigs.groupBy("table", "bucket").count()
            .where(F.col("count") > max_bucket)
            .select("table", "bucket")
        )
        sigs = sigs.join(F.broadcast(hot), ["table", "bucket"], "left_anti")
        s2 = sigs.select(F.col("vec_id").alias("vec_b"), "table", "bucket")
        cand = (
            sigs.select(F.col("vec_id").alias("vec_a"), "table", "bucket")
            .join(s2, ["table", "bucket"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
            .distinct()
        )
        pairs = cand.join(a, "vec_a").join(b, "vec_b")
    sim = _cosine_col(F.col("va"), F.col("vb"))
    return (
        pairs.withColumn("cosine", sim)
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def hyperplane_signatures(vectors: DataFrame, dim: int, n_planes: int = 16,
                          n_tables: int = 8, seed: int = 42,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """(vec_id, table, bucket) random-hyperplane LSH signatures."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("table", LongType()),
            StructField("bucket", LongType()),
        ]
    )

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pow2 = (1 << np.arange(n_planes, dtype=np.int64))
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (n, dim)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            out_id, out_t, out_b = [], [], []
            for t in range(n_tables):
                proj = mat @ planes[t].T  # (n, n_planes)
                buckets = ((proj > 0).astype(np.int64) * pow2).sum(axis=1)
                out_id.append(ids)
                out_t.append(np.full(len(ids), t, dtype=np.int64))
                out_b.append(buckets)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_id),
                    "table": np.concatenate(out_t),
                    "bucket": np.concatenate(out_b),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(sign, schema=schema)

