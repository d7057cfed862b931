"""SQ8 scalar-quantized ANN: per-dimension 8-bit codes + exact re-rank.

Spark-native equivalent of the reference's delegated Milvus index
family ``IVF_SQ8`` (milvus-app/pythonvectordbceph_milvus.py:100-102
configures the IVF coarse layer; SQ8 is the in-list compression tier
Milvus offers on the same knob).

Design (scale-first):
  fit:    one aggregate pass computes per-dimension min/max (dim
          independent MIN/MAX expressions — a single partial+final
          hash aggregate, no explode, no shuffle of vector data).
  encode: code[i] = clamp(round((v[i]-min[i])/scale[i]), 0, 255)
          stored as ``array<smallint>`` — a narrow map. On parquet
          the code column is ~4× smaller than the float32 vectors,
          so the scan stage of every search reads a quarter of the
          bytes; the full-precision column is only fetched for the
          re-rank survivors (column pruning does the work).
  search: approximate distance against RECONSTRUCTED values
          (min[i] + code[i]*scale[i] — asymmetric distance, query
          kept exact) → TakeOrderedAndProject of the top
          k*refine_factor — then an exact re-rank joins the original
          vectors for just those candidates.

Approximate by construction → registered rows-only with the driver;
recall vs brute force is pytest-checked, and quantization error is
bounded by scale/2 per dimension.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V


@dataclass
class SQ8Params:
    """Per-dimension affine quantizer: x ≈ mins[i] + code*scales[i]."""

    mins: list[float]
    scales: list[float]  # (max-min)/255, floored at a tiny epsilon

    @property
    def dim(self) -> int:
        return len(self.mins)


def fit_sq8(df: DataFrame, vec_col: str, dim: int) -> SQ8Params:
    """One aggregate pass → per-dimension [min, max]. ``dim``
    MIN/MAX expression pairs ride a single partial+final aggregate:
    the shuffle carries 2×dim doubles per partition, never rows."""
    v = F.col(vec_col).cast("array<double>")
    aggs = []
    for i in range(dim):
        aggs.append(F.min(F.element_at(v, i + 1)).alias(f"_mn{i}"))
        aggs.append(F.max(F.element_at(v, i + 1)).alias(f"_mx{i}"))
    row = df.agg(*aggs).collect()[0]
    if row["_mn0"] is None:
        raise ValueError(
            "fit_sq8: input has no rows — per-dimension ranges are "
            "undefined on an empty table (defer quantizer fit)"
        )
    mins = [float(row[f"_mn{i}"]) for i in range(dim)]
    maxs = [float(row[f"_mx{i}"]) for i in range(dim)]
    scales = [max((mx - mn) / 255.0, 1e-12) for mn, mx in zip(mins, maxs)]
    return SQ8Params(mins=mins, scales=scales)


def sq8_encode(
    df: DataFrame, params: SQ8Params, vec_col: str, code_col: str = "code"
) -> DataFrame:
    """Narrow map adding the 8-bit code column; no shuffle."""
    v = F.col(vec_col).cast("array<double>")
    mins, scales = V.vector_literal(params.mins), V.vector_literal(params.scales)
    idx = F.transform(v, lambda _, i: i)
    code = F.zip_with(
        v,
        idx,
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (x - F.element_at(mins, i + F.lit(1)))
                    / F.element_at(scales, i + F.lit(1))
                ).cast("int"),
            ),
        ).cast("smallint"),
    )
    return df.withColumn(code_col, code)


def sq8_search(
    encoded: DataFrame,
    original: DataFrame,
    params: SQ8Params,
    qvec: list[float],
    k: int,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "code",
) -> DataFrame:
    """Asymmetric-distance scan over codes + exact re-rank.

    Stage 1 reads ONLY (id, code) — column pruning keeps the float32
    vectors out of the scan — and takes the k*refine_factor nearest
    by reconstructed distance (TakeOrderedAndProject: no global
    sort). Stage 2 joins the originals for those few candidates and
    re-ranks exactly. The join side is k*refine rows → broadcast."""
    mins, scales = V.vector_literal(params.mins), V.vector_literal(params.scales)
    qlit = V.vector_literal(qvec)
    idx = F.transform(F.col(code_col), lambda _, i: i)
    # reconstructed[i] = mins[i] + code[i]*scales[i]; asymmetric L2
    diff = F.zip_with(
        F.col(code_col),
        idx,
        lambda c, i: F.element_at(mins, i + F.lit(1))
        + c.cast("double") * F.element_at(scales, i + F.lit(1))
        - F.element_at(qlit, i + F.lit(1)),
    )
    approx2 = F.aggregate(
        diff, F.lit(0.0), lambda acc, d: acc + d * d
    )
    cands = (
        encoded.select(id_col, approx2.alias("_approx2"))
        .orderBy(F.col("_approx2").asc(), F.col(id_col).asc())
        .limit(k * refine_factor)
    )
    return (
        original.join(F.broadcast(cands), id_col)
        .withColumn(
            "distance", F.round(V.l2_distance(F.col(vec_col), qlit), 6)
        )
        .select(id_col, "distance")
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_sq8_search(
    index,
    params: SQ8Params,
    qvec: list[float],
    k: int,
    nprobe: int = 4,
    refine_factor: int = 4,
    code_col: str = "code",
) -> DataFrame:
    """The composed IVF_SQ8 path (the exact index the reference
    configures in Milvus): coarse cluster pruning cuts the scan to
    nprobe/nlist of the rows, the SQ8 code column cuts the bytes per
    scanned row ~4×, and the exact re-rank restores full precision
    for the k·refine survivors. ``index`` is an ivf.IVFIndex whose
    ``assigned`` table already carries the SQ8 ``code`` column
    (encode once at build time, after cluster assignment)."""
    probes = index.probe_clusters(qvec, nprobe)
    cand = index.assigned.filter(F.col("cluster_id").isin(probes))
    original = index.assigned.select(index.id_col, index.vec_col)
    return sq8_search(
        cand,
        original,
        params,
        qvec,
        k,
        refine_factor=refine_factor,
        vec_col=index.vec_col,
        id_col=index.id_col,
        code_col=code_col,
    )
