"""Vector column expressions — all JVM-side higher-order functions.

Replaces the reference's numpy/sklearn per-row math with JVM-side
Catalyst expressions:

  - L2 normalize   (reference: sklearn ``normalize(..., norm="l2")``,
    s3vectors-app/pythonvectordbceph.py:47, milvus twin :52)
  - L2 / cosine / dot distance (reference delegates to the backend:
    ``distanceMetric='euclidean'`` s3vectors-app/pythonvectordbceph.py:114,
    ``metric_type="L2"`` milvus-app/pythonvectordbceph_milvus.py:101)
  - float32 cast    (reference: np.float32 cast, pythonvectordbceph.py:191)
  - dimension check (reference: backend dim-checked index,
    pythonvectordbceph.py:113)

All math accumulates in DOUBLE, left-to-right over the array, which is
bit-identical to the DuckDB oracle's list_transform/list_sum pipeline —
that determinism is what lets the driver value-hash distance columns.

No Python UDFs here: every expression runs in the JVM, so a 100 TB
scan of embeddings never crosses the JVM/Python boundary. The
higher-order functions the kernels are built from (``aggregate``,
``zip_with``, ``transform``) implement ``CodegenFallback`` in Spark
4.1: the whole-stage-codegen stage calls them, and each evaluates its
lambda per element, interpreted.
"""

from __future__ import annotations

import math
import struct
from typing import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.utils import get_active_spark_context


def vector_literal(values: Iterable[float]) -> Column:
    """One ``array<double>`` Literal holding the whole vector.

    ``F.array(*[F.lit(x) for x in v])`` costs one py4j round trip per
    element plus the analysis of a dim-child CreateArray (~0.3 s for a
    384-dim query on the driver). Here the values cross the gateway as
    ONE big-endian byte buffer, are copied into a JVM ``double[]`` and
    wrapped by ``functions.lit`` — a constant number of py4j calls at
    any dim. Catalyst's constant folding turned the per-element form
    into the same array literal, so the values computed from it are
    unchanged."""
    vals = [float(x) for x in values]
    sc = get_active_spark_context()
    jvm = sc._jvm  # noqa: SLF001
    arr = sc._gateway.new_array(jvm.double, len(vals))  # noqa: SLF001
    buf = bytearray(struct.pack(f">{len(vals)}d", *vals))
    jvm.java.nio.ByteBuffer.wrap(buf).asDoubleBuffer().get(arr)
    return Column(jvm.org.apache.spark.sql.functions.lit(arr))


def check_query_vector(qvec: Iterable[float], dim: int) -> list[float]:
    """The query vector as floats, or ValueError when it cannot be
    searched: a wrong-length query zips into a NULL distance for every
    row and a NaN/inf element into NaN distances, so an unchecked bad
    query returns k plausible-looking rows instead of failing."""
    try:
        vals = [float(x) for x in qvec]
    except (TypeError, ValueError) as e:
        raise ValueError(f"query vector has a non-numeric element: {e}") from e
    if len(vals) != dim:
        raise ValueError(
            f"query vector has {len(vals)} dimensions, expected {dim}"
        )
    if not all(math.isfinite(x) for x in vals):
        raise ValueError("query vector has a NaN or infinite element")
    return vals


def squared_l2(a: Column | str, b: Column | str) -> Column:
    """Sum of squared differences, accumulated in double."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b

    def sqdiff(x, y):
        d = x.cast("double") - y.cast("double")
        # multiply, not **2: pow() is allowed 1-ulp error in libm, while
        # d*d is IEEE-exact in every engine — keeps the oracle hashable
        return d * d

    return F.aggregate(
        F.zip_with(a, b, sqdiff),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance (the reference's search metric)."""
    return F.sqrt(squared_l2(a, b))


def dot(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column | str) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )


def l2_normalize(v: Column | str) -> Column:
    """Scale to unit L2 norm; zero vectors pass through unchanged
    (sklearn's behavior, which the reference relies on).

    The norm is bound as a LAMBDA VARIABLE (single-element transform,
    the idiom of ``operators.dedup.shingles``). Captured as a subtree
    inside the per-element lambda it would be re-evaluated for every
    element — O(d²) per row: 1.09 s against 0.07 s over 700 rows at
    384 dims on local[4]. The values are unchanged: the same norm
    divides each element."""
    v = F.col(v) if isinstance(v, str) else v

    def scale(norm):
        return F.when(norm == 0.0, v.cast("array<double>")).otherwise(
            F.transform(v, lambda x: x.cast("double") / norm)
        )

    return F.element_at(F.transform(F.array(l2_norm(v)), scale), 1)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a||b|) — on pre-normalized vectors this equals dot.

    NULL (not an error) when either vector has zero norm: under Spark
    4's default ANSI mode a bare division raises DIVIDE_BY_ZERO and
    would kill the whole job on one degenerate row (hypothesis-found).
    """
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


def as_float32(v: Column | str) -> Column:
    """array<float> cast — the storage dtype of the reference
    (np.float32 cast before put_vectors, pythonvectordbceph.py:191)."""
    v = F.col(v) if isinstance(v, str) else v
    return v.cast("array<float>")


def dim_ok(v: Column | str, dim: int) -> Column:
    """Boolean dimension check (what the backend index enforced)."""
    v = F.col(v) if isinstance(v, str) else v
    return v.isNotNull() & (F.size(v) == dim)


DISTANCE_FNS = {
    "l2": l2_distance,
    "euclidean": l2_distance,
    "sqeuclidean": squared_l2,
    "cosine": cosine_distance,
    "dot": dot,
}


def distance(a: Column | str, b: Column | str, metric: str = "l2") -> Column:
    try:
        return DISTANCE_FNS[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(DISTANCE_FNS)}")
