"""PCA over an embedding column — the dimension-reduction step a
vector pipeline runs between embedding and indexing (project 64-dim
vectors onto the leading principal components, then hand the smaller
vectors to the IVF/SQ/PQ tiers; also the whitening/collapse companion
to q_embed_covariance's raw covariance report).

Spark-shaped in the way that matters at 100 TB: the ONLY driver-side
object is the d×d covariance matrix (d = embedding dim, a constant —
64 here, kilobytes), assembled from EXACT decimal sums so the matrix,
and therefore the eigendecomposition, is bit-identical under every
partitioning:

  - components round to the 1e-6 grid → pairwise products live
    exactly on the 1e-12 grid → Σx in DECIMAL(18,6) and Σxy in
    DECIMAL(24,12) are exact order-insensitive reductions (same
    discipline as q_embed_covariance, evaluation.py:843).
  - the (i ≤ j) moment aggregate has d(d+1)/2 groups — a CONSTANT
    group count with map-side partials; the per-row fan-out is d²-ish
    but data-independent.
  - ``numpy.linalg.eigh`` runs on the driver over the d×d matrix
    (LAPACK on a 64×64 symmetric matrix — microseconds); eigenvector
    sign is fixed deterministically (largest-|component| entry made
    positive, lowest index on ties).
  - projection back on the cluster is a whole-stage-codegen
    ``F.aggregate`` dot product against the broadcast literal
    component arrays — no Python, no shuffle.
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V

_SCALE = 10**6          # the 1e-6 value grid both moment paths share
_PROD_SCALE = _SCALE * _SCALE


def covariance_matrix(
    df: DataFrame, vec_col: str, dim: int, method: str = "arrow"
) -> np.ndarray:
    """Exact (rounded-6-grid) covariance matrix of the first ``dim``
    components, deterministic under any partitioning.

    Two physical strategies for the same exact math:

    - ``method="arrow"`` (default): per-partition integer gram via
      mapInPandas — values land on the 1e-6 grid as scaled int64,
      numpy computes chunked X^T·X grams (chunks sized so int64 can't
      overflow), partials accumulate in arbitrary-precision Python
      ints, and the cross-partition reduce sums DECIMAL(38,0) in
      Spark. Integer sums are order-insensitive, so the result is
      bit-identical under any partitioning — the same contract as the
      SQL path, at ~1/10th the cost: the SQL path materializes
      n·d(d+1)/2 pair rows through a hash aggregate, the arrow path
      ships n·d doubles once and does the O(n·d²) math in vectorized
      numpy with only d(d+1)/2-row partials leaving each partition.
    - ``method="sql"``: the all-JVM original. The (i ≤ j) component
      pairs are generated INSIDE each row by two chained generators
      (posexplode of the vector, then posexplode of its j ≥ i
      suffix) — no row id, no self-join: a row-id pairing
      (monotonically_increasing_id on two branches) is only correct
      for deterministic file scans and silently mis-pairs under
      upstream shuffles or nondeterministic sources, and it shuffles
      n·d rows. Here rows never leave their input partition until the
      d(d+1)/2-group aggregate's map-side partials.

    The paths round to the grid independently (Spark HALF_UP decimal
    vs numpy away-from-zero half-up on float64): a value sitting
    within one double ULP of a .5 grid boundary can round differently
    BETWEEN paths (each path is itself deterministic); the paths
    agree to ~1e-9 on real data and the cross-path test pins that."""
    if method == "arrow":
        return _covariance_matrix_arrow(df, vec_col, dim)
    if method != "sql":
        raise ValueError(f"unknown covariance method {method!r}")
    base = df.select(
        F.transform(
            F.slice(F.col(vec_col), 1, dim),
            lambda c: F.round(c.cast("double"), 6),
        ).alias("_v")
    )
    a = base.select("_v", F.posexplode("_v").alias("di", "va"))
    p = (
        a.select(
            "di",
            "va",
            F.posexplode(
                F.slice(F.col("_v"), F.col("di") + 1, F.lit(dim) - F.col("di"))
            ).alias("_p", "vb"),
        )
        .select("di", (F.col("di") + F.col("_p")).alias("dj"), "va", "vb")
        .groupBy("di", "dj")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("va").cast("decimal(18,6)")).alias("sx"),
            F.sum(F.col("vb").cast("decimal(18,6)")).alias("sy"),
            F.sum((F.col("va") * F.col("vb")).cast("decimal(24,12)")).alias("sxy"),
        )
        .collect()  # bounded: d(d+1)/2 rows, never data-sized
    )
    cov = np.zeros((dim, dim))
    for r in p:
        c = (float(r["sxy"]) - float(r["sx"]) * float(r["sy"]) / r["n"]) / r["n"]
        cov[r["di"], r["dj"]] = c
        cov[r["dj"], r["di"]] = c
    return cov


def _covariance_matrix_arrow(
    df: DataFrame, vec_col: str, dim: int
) -> np.ndarray:
    """Exact integer-gram covariance (see covariance_matrix): numpy
    does the O(n·d²) work inside each partition, Spark reduces the
    d(d+1)/2 DECIMAL partials across partitions."""
    out_schema = (
        "i int, j int, n long, sx decimal(38,0), sy decimal(38,0), "
        "sxy decimal(38,0)"
    )
    iu, ju = np.triu_indices(dim)

    def part_moments(batches):
        import pandas as pd

        n = 0
        sx = np.zeros(dim, dtype=object)        # arbitrary precision
        gram = np.zeros((dim, dim), dtype=object)
        for pdf in batches:
            col = pdf.iloc[:, 0]
            if len(col) == 0:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in col])
            if x.shape[1] != dim:
                raise ValueError(
                    f"covariance_matrix: expected {dim}-dim vectors, "
                    f"got {x.shape[1]}"
                )
            # grid rounding: half-up AWAY FROM ZERO (Spark HALF_UP)
            xi = (np.sign(x) * np.floor(np.abs(x) * _SCALE + 0.5)).astype(
                np.int64
            )
            # chunk so the int64 gram cannot overflow: per-element
            # |product| ≤ m², chunk_sum ≤ rows·m² kept < 2^62
            m = int(np.max(np.abs(xi))) if xi.size else 0
            rows_safe = (
                xi.shape[0] if m == 0
                else max(1, int((2**62) // (m * m + 1)))
            )
            for s in range(0, xi.shape[0], rows_safe):
                c = xi[s:s + rows_safe]
                gram += np.matmul(c.T, c).astype(object)
                sx += c.sum(axis=0, dtype=np.int64).astype(object)
                n += c.shape[0]
        yield pd.DataFrame(
            {
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "n": np.full(len(iu), n, dtype="int64"),
                "sx": [Decimal(int(sx[a])) for a in iu],
                "sy": [Decimal(int(sx[b])) for b in ju],
                "sxy": [Decimal(int(gram[a, b])) for a, b in zip(iu, ju)],
            }
        )

    base = df.select(
        F.slice(F.col(vec_col), 1, dim).cast("array<double>").alias("_v")
    ).filter(F.col("_v").isNotNull())
    p = (
        base.mapInPandas(part_moments, out_schema)
        .groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("sxy").alias("sxy"),
        )
        .collect()  # bounded: d(d+1)/2 rows, never data-sized
    )
    cov = np.zeros((dim, dim))
    d6, d12 = Decimal(_SCALE), Decimal(_PROD_SCALE)
    for r in p:
        if not r["n"]:
            continue
        sxy = float(Decimal(r["sxy"]) / d12)
        sx = float(Decimal(r["sx"]) / d6)
        sy = float(Decimal(r["sy"]) / d6)
        c = (sxy - sx * sy / r["n"]) / r["n"]
        cov[r["i"], r["j"]] = c
        cov[r["j"], r["i"]] = c
    return cov


def pca_fit(
    df: DataFrame, vec_col: str, dim: int, q: int, method: str = "arrow"
) -> tuple[np.ndarray, np.ndarray]:
    """Top-q principal components (q×dim) + their eigenvalues,
    descending, with deterministic sign convention."""
    cov = covariance_matrix(df, vec_col, dim, method=method)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:q]
    comps, evs = [], []
    for idx in order:
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))  # argmax takes lowest on ties
        if v[pivot] < 0:
            v = -v
        comps.append(v)
        evs.append(float(vals[idx]))
    return np.vstack(comps), np.array(evs)


def project_col(vec_col: str, component: np.ndarray) -> Column:
    """JVM-side dot product of the vector column against one literal
    component — codegen'd, no Python in the hot path."""
    comp = V.vector_literal(component)
    return F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            comp,
            lambda x, c: x * c,
        ),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )


def pca_project(
    df: DataFrame, vec_col: str, components: np.ndarray, prefix: str = "pc"
) -> DataFrame:
    """Append rounded projections onto the top components."""
    out = df
    for j, comp in enumerate(components, start=1):
        out = out.withColumn(
            f"{prefix}{j}", F.round(project_col(vec_col, comp), 6)
        )
    return out
