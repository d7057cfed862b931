"""Binary-quantized ANN: 1-bit-per-dimension codes + Hamming pruning
+ exact re-rank.

The most aggressive compression tier of the reference's delegated
index family (milvus-app/pythonvectordbceph_milvus.py:100-102
configures IVF_FLAT; Milvus offers BIN_* indexes on the same knob,
and 1-bit codes are the RaBitQ/binary-hashing end of that spectrum):
32× smaller than float32, and the candidate scan becomes TWO
codegen'd integer instructions per row (xor + popcount).

Design (scale-first):
  fit:    one aggregate pass computes the per-dimension MEAN — the
          sign threshold. dim independent AVG expressions ride a
          single partial+final aggregate (no explode; the shuffle
          carries dim doubles per partition).
  encode: bit i = v[i] > mean[i], packed little-endian into
          ceil(dim/64) longs (`array<bigint>` — one long for the
          64-dim test embeddings). Pure higher-order-function
          bit math, JVM-side.
  search: hamming(code, qcode) = Σ bit_count(xor(longs)) — stays
          inside whole-stage codegen; top k·refine_factor by Hamming
          (TakeOrderedAndProject, no shuffle of the base) → exact
          re-rank of just the survivors against the float vectors
          (column pruning keeps the wide column out of the scan).

Approximate by construction → registered rows-only with the driver;
recall vs brute force is pytest-bounded (sign bits preserve angular
locality: for L2-normalized vectors Hamming approximates angle).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V


@dataclass
class BQParams:
    """Per-dimension sign thresholds (the fitted means)."""

    means: list[float]

    @property
    def dim(self) -> int:
        return len(self.means)

    @property
    def n_words(self) -> int:
        return (self.dim + 63) // 64


def fit_bq(df: DataFrame, vec_col: str, dim: int) -> BQParams:
    """One aggregate pass → per-dimension mean threshold."""
    v = F.col(vec_col).cast("array<double>")
    row = df.agg(
        *[F.avg(F.element_at(v, i + 1)).alias(f"_m{i}") for i in range(dim)]
    ).collect()[0]
    if row["_m0"] is None:
        raise ValueError(
            "fit_bq: input has no rows — thresholds are undefined on an "
            "empty table (defer quantizer fit until data arrives)"
        )
    return BQParams(means=[float(row[f"_m{i}"]) for i in range(dim)])


def bq_encode(df: DataFrame, vec_col: str, params: BQParams, out_col: str = "bq_code") -> DataFrame:
    """Pack sign bits into ``array<bigint>`` (little-endian within and
    across words): bit (w*64+b) set ⟺ v[w*64+b] > mean[w*64+b].

    The cast vector is bound as a lambda variable (single-element
    transform): the optimizer inlines a once-referenced ``_v`` column
    into the per-bit lambda, which then re-ran the whole-array cast for
    every bit — O(d²) per row."""
    dim, n_words = params.dim, params.n_words
    means = V.vector_literal(params.means)
    words = F.expr(
        "element_at(transform(array(_v), vd ->"
        f" transform(sequence(0, {n_words - 1}), w ->"
        f"  aggregate(sequence(0, 63), 0L, (acc, b) ->"
        f"   if(w * 64 + b < {dim} and"
        f"      element_at(vd, w * 64 + b + 1) > element_at(_mn, w * 64 + b + 1),"
        f"      acc + shiftleft(1L, b), acc)))), 1)"
    )
    return (
        df.withColumn("_v", F.col(vec_col).cast("array<double>"))
        .withColumn("_mn", means)
        .withColumn(out_col, words)
        .drop("_v", "_mn")
    )


def encode_query(qvec: list[float], params: BQParams) -> list[int]:
    """Driver-side twin of bq_encode for a single query vector."""
    words = []
    for w in range(params.n_words):
        acc = 0
        for b in range(64):
            i = w * 64 + b
            if i < params.dim and qvec[i] > params.means[i]:
                acc |= 1 << b
        # wrap to signed 64-bit to match Spark's LongType
        if acc >= 1 << 63:
            acc -= 1 << 64
        words.append(acc)
    return words


def hamming(code_col, qwords: list[int]):
    """Σ bit_count(xor) over the packed words — all codegen."""
    terms = [
        F.bit_count(F.element_at(code_col, w + 1).bitwiseXOR(F.lit(qw)))
        for w, qw in enumerate(qwords)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def bq_search(
    encoded: DataFrame,
    qvec: list[float],
    params: BQParams,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "bq_code",
    k: int = 5,
    refine_factor: int = 4,
) -> DataFrame:
    """Hamming-pruned top-k: cheap integer scan picks k·refine
    candidates, exact L2 re-ranks them. The candidate stage reads
    ONLY (id, code) — column pruning keeps the float vectors on disk
    until the re-rank join."""
    qwords = encode_query(qvec, params)
    cands = (
        encoded.select(id_col, code_col)
        .withColumn("_hd", hamming(F.col(code_col), qwords))
        .orderBy("_hd", id_col)
        .limit(k * refine_factor)
        .select(id_col, "_hd")
    )
    qarr = V.vector_literal(qvec)
    exact = encoded.join(F.broadcast(cands), id_col).select(
        id_col,
        "_hd",
        F.round(V.l2_distance(F.col(vec_col).cast("array<double>"), qarr), 6).alias(
            "distance"
        ),
    )
    return exact.orderBy("distance", id_col).limit(k)
