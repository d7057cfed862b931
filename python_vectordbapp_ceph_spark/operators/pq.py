"""Product-quantized ANN: per-subspace codebooks + ADC scan + re-rank.

Spark-native equivalent of the reference's delegated Milvus index
family ``IVF_PQ`` (milvus-app/pythonvectordbceph_milvus.py:100-102
configures the IVF knob; PQ is the strongest compression tier Milvus
offers on it). Completes the index ladder FLAT → IVF_FLAT (ivf.py) →
SQ8 (sq.py) → PQ.

Design (scale-first):
  fit:    the dim-d space splits into ``m`` subspaces of d/m dims;
          per-subspace k-means codebooks (k=``nbits``² by default 16)
          are fit driver-side on a BOUNDED sample (same sanction as
          ivf.py's sampled KMeans fit: codebook quality converges long
          before the table is seen; numpy Lloyd iterations on ≤1e5×d
          floats are milliseconds).
  encode: one Arrow-batched pandas UDF maps each vector to ``m``
          uint8 codes (argmin per subspace, vectorized numpy) —
          a narrow map, no shuffle; the code column is d·4/m bytes →
          32× smaller than float32 at d=64, m=8.
  search: per query, an m×k lookup table of partial squared distances
          (‖q_sub − centroid‖²) is computed driver-side and embedded
          as a flat literal array; the approximate distance is
          ``sum_i LUT[i·k + code[i]]`` — pure JVM array ops inside
          whole-stage codegen, NO Python on the scan path — followed
          by TakeOrderedAndProject of the top k·refine and an exact
          re-rank over just those rows.

Approximate by construction → registered rows-only with the driver;
recall vs brute force is pytest-checked.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V


@dataclass
class PQCodebooks:
    """m subspace codebooks, each k×(d/m). centroids[i][j] = center j
    of subspace i."""

    centroids: np.ndarray  # shape (m, k, d//m)

    @property
    def m(self) -> int:
        return int(self.centroids.shape[0])

    @property
    def k(self) -> int:
        return int(self.centroids.shape[1])

    @property
    def subdim(self) -> int:
        return int(self.centroids.shape[2])


def _lloyd(x: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Tiny numpy k-means (codebooks are k≤256 × subdim≤16 — not worth
    an MLlib job per subspace on a driver-side sample)."""
    rng = np.random.default_rng(seed)
    centers = x[rng.choice(len(x), size=min(k, len(x)), replace=False)].copy()
    if len(centers) < k:  # degenerate tiny input: pad with repeats
        centers = np.vstack([centers] * (k // len(centers) + 1))[:k]
    for _ in range(iters):
        d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            pts = x[assign == j]
            if len(pts):
                centers[j] = pts.mean(axis=0)
    return centers


def fit_pq(
    df: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    fit_sample_rows: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> PQCodebooks:
    """Fit m per-subspace codebooks on a bounded sample."""
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    n = df.count()
    sample = df.select(vec_col)
    if n > fit_sample_rows:
        sample = sample.sample(fraction=min(1.0, fit_sample_rows / n * 1.1), seed=seed)
    x = np.array([list(map(float, r[0])) for r in sample.collect()])
    sub = dim // m
    centroids = np.stack(
        [
            _lloyd(x[:, i * sub : (i + 1) * sub], k, iters, seed + i)
            for i in range(m)
        ]
    )
    return PQCodebooks(centroids=centroids)


def pq_encode(
    df: DataFrame,
    books: PQCodebooks,
    vec_col: str,
    code_col: str = "pq_code",
) -> DataFrame:
    """Arrow-batched encode: argmin centroid per subspace. One narrow
    map over the table; the UDF closure carries the (m,k,subdim)
    codebook array (a few KiB), broadcast with the task."""
    from pyspark.sql.functions import pandas_udf

    cent = books.centroids
    m, _, sub = cent.shape

    @pandas_udf("array<smallint>")
    def encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:  # empty Arrow batch: np.array([]) is 1-D
            return pd.Series([], dtype=object)
        x = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        codes = np.empty((len(x), m), dtype=np.int16)
        for i in range(m):
            xs = x[:, i * sub : (i + 1) * sub]
            d2 = ((xs[:, None, :] - cent[i][None, :, :]) ** 2).sum(axis=2)
            codes[:, i] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(code_col, encode(F.col(vec_col)))


def pq_search(
    encoded: DataFrame,
    original: DataFrame,
    books: PQCodebooks,
    qvec: list[float],
    k: int,
    refine_factor: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC scan via a flat literal lookup table + exact re-rank.

    The LUT is m×k doubles (128 at m=8,k=16) folded into the plan as
    a literal array: approx dist = Σᵢ lut[i·k + code[i]] — evaluated
    by zip_with/aggregate in whole-stage codegen. Python never touches
    the scan. Re-rank joins the float vectors for k·refine rows only."""
    q = np.asarray(qvec, dtype=np.float64)
    cent = books.centroids
    m, kk, sub = cent.shape
    lut = np.empty((m, kk))
    for i in range(m):
        qs = q[i * sub : (i + 1) * sub]
        lut[i] = ((cent[i] - qs[None, :]) ** 2).sum(axis=1)
    flat = V.vector_literal(lut.ravel())
    idx = F.transform(F.col(code_col), lambda _, i: i)
    approx2 = F.aggregate(
        F.zip_with(
            F.col(code_col),
            idx,
            lambda c, i: F.element_at(
                flat, i * F.lit(kk) + c.cast("int") + F.lit(1)
            ),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    cands = (
        encoded.select(id_col, approx2.alias("_approx2"))
        .orderBy(F.col("_approx2").asc(), F.col(id_col).asc())
        .limit(k * refine_factor)
    )
    qd = V.vector_literal(qvec)
    return (
        original.join(F.broadcast(cands), id_col)
        .withColumn("distance", F.round(V.l2_distance(F.col(vec_col), qd), 6))
        .select(id_col, "distance")
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )
