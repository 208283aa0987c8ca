"""Embedding quantizers shared by the dedup operators and tools/pin_centroids.py.

* :func:`hyperplane_buckets` — random-hyperplane LSH: each vector's
  sign-bit signature against seeded planes (the embedding-LSH dedup's
  candidate key).
* :func:`kmeans_centroids` — deterministic Lloyd k-means on a bounded
  driver-side sample (the IVF trainer; pins SEMDEDUP_CENTROIDS).
* :func:`ivf_cell_assign` — IVF coarse-quantizer cell per vector (the
  SemDeDup clusters).

Each corpus-wide step is one pandas-UDF matmul per Arrow batch; nothing
shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType


def hyperplane_buckets(emb: DataFrame, n_planes: int = 12, seed: int = 7,
                       dim: int = 64,
                       id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (sign-bit signature).

    Deterministic planes from a seeded RNG; one pandas-UDF matmul per batch.
    ``dim`` is a caller parameter — reading it from the data would run an
    extra Spark job before candidate generation.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))
    spark = emb.sparkSession
    bp = spark.sparkContext.broadcast(planes)

    schema = StructType([StructField("vec_id", LongType()), StructField("bucket", LongType())])

    def bucketize(it):
        pl = bp.value
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (mat @ pl) > 0
            bucket = np.zeros(len(pdf), dtype=np.int64)
            for i in range(pl.shape[1]):
                bucket |= bits[:, i].astype(np.int64) << i
            yield pd.DataFrame({"vec_id": pdf[id_col].to_numpy(), "bucket": bucket})

    return emb.select(id_col, vec_col).mapInPandas(bucketize, schema)


def kmeans_centroids(sample: np.ndarray, k: int, n_iter: int = 10, seed: int = 7) -> np.ndarray:
    """Deterministic Lloyd k-means on a BOUNDED driver-side sample — the
    IVF trainer. kmeans++ seeding from a seeded RNG; empty cells keep their
    previous centroid (deterministic, no resampling jitter). The sample (a
    few thousand rows) is the memory bound; the corpus never leaves the
    executors."""
    n = len(sample)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    idx = [int(rng.integers(n))]
    d2 = np.full(n, np.inf)
    for _ in range(1, k):
        d2 = np.minimum(d2, ((sample - sample[idx[-1]]) ** 2).sum(axis=1))
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        idx.append(int(rng.choice(n, p=probs)))
    cents = sample[idx].astype(np.float64).copy()
    for _ in range(n_iter):
        # argmin squared-L2 via |c|^2 - 2 v.c (one GEMM, no (n,k,dim) blowup)
        d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (sample @ cents.T)
        assign = np.argmin(d, axis=1)
        for j in range(k):
            pts = sample[assign == j]
            if len(pts):
                cents[j] = pts.mean(axis=0)
    return cents


def ivf_cell_assign(emb: DataFrame, n_centroids: int = 16, train: str = "first_n",
                    sample_size: int = 4096, kmeans_iters: int = 10, seed: int = 7,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    centroids=None):
    """IVF coarse-quantizer cell assignment for the SemDeDup cluster-dedup
    operators: train centroids ('first_n' = the first n vectors by id,
    engine-replicable; 'kmeans' = sampled Lloyd, the balance path),
    broadcast them, and argmin-assign every corpus vector in one float64
    GEMM per Arrow batch (|c|^2 - 2 v.c — same argmin as
    squared L2). Ties go to the lowest cell id (np.argmin first-occurrence;
    cids are in ascending id/index order by construction).

    ``centroids`` (a (k, dim) array-like) bypasses training entirely — the
    train-once / apply-everywhere path (VERDICT r6 next #3, the
    SCORED_FILTER_WEIGHTS pattern): a quantizer fitted offline (e.g. by
    :func:`kmeans_centroids`) is pinned as literals and every engine —
    Spark, the DuckDB gate oracle, a future reader — assigns against the
    same matrix. Cell ids are the centroid row indices 0..k-1.

    Returns ``(assigned, cids, cmat)``: a DataFrame (cid_ = vector id,
    cell, cvec_ = float64 vector) plus the centroid ids and matrix. The only corpus-wide cost is the narrow
    assignment map — no shuffle."""
    if centroids is not None:
        cmat = np.asarray(centroids, dtype=np.float64)
        cids = np.arange(len(cmat), dtype=np.int64)
    elif train == "kmeans":
        sample = np.array(
            [r[vec_col] for r in
             emb.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()],
            dtype=np.float64,
        )
        cmat = kmeans_centroids(sample, n_centroids, n_iter=kmeans_iters, seed=seed)
        cids = np.arange(len(cmat), dtype=np.int64)
    else:
        cents = [
            (r[id_col], np.asarray(r[vec_col], dtype=np.float64))
            for r in emb.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
        ]
        cids = np.array([c[0] for c in cents], dtype=np.int64)
        cmat = np.stack([c[1] for c in cents])  # (nc, dim)
    bc = emb.sparkSession.sparkContext.broadcast((cids, cmat))

    assign_schema = StructType(
        [StructField("cid_", LongType()), StructField("cell", LongType()),
         StructField("cvec_", ArrayType(DoubleType()))]
    )

    def assign(it):
        ids_, mat = bc.value
        c_sq = (mat * mat).sum(axis=1)  # |c|^2
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d = c_sq[None, :] - 2.0 * (v @ mat.T)  # argmin == squared-L2 argmin
            cell = ids_[np.argmin(d, axis=1)]
            yield pd.DataFrame({
                "cid_": pdf[id_col].to_numpy(),
                "cell": cell,
                "cvec_": list(v),
            })

    assigned = emb.select(id_col, vec_col).mapInPandas(assign, assign_schema)
    return assigned, cids, cmat
