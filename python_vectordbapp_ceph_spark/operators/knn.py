"""Top-k nearest-neighbor search — the reference's read query.

Reference behavior being reproduced (Spark-first, not a port):
  - embed query → ``query_vectors(..., topK=k, returnDistance=True)``
    (s3vectors-app/search.py:49-58) / ``client.search(limit=k,
    output_fields=[...])`` (milvus-app/search.py:13-19), metric L2.

Plan shapes (scale notes):
  - single query vector: the query is ONE array literal
    (``V.vector_literal``) projected as ``_q``, and the distance column
    ``round(distance(vec, _q), 6)`` is built once per (column, metric)
    and reused by every search — CollapseProject inlines the literal,
    so the optimized plan is the literal-array distance column →
    ``orderBy(dist).limit(k)``. Catalyst plans TakeOrderedAndProject —
    a per-partition top-k + tiny final merge on the driver. No shuffle
    of the base table; at 100 TB this is a full scan + k-row merge,
    the optimal exact plan.
  - query BATCH: broadcast the (small) query side, BroadcastNestedLoop
    join, then per-query window ``row_number() <= k``. The big side is
    never shuffled for the join (broadcast); the window shuffles only
    (qid) partitions of candidate rows. For large k×N, pre-filter with
    the IVF operator (operators/ivf.py) to prune partitions first.

Distance ties are broken by the id column so results are deterministic
and oracle-hashable.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V


_Q = "_q"


@lru_cache(maxsize=None)
def _query_distance(vec_col: str, metric: str) -> Column:
    """``round(distance(vec_col, _q), 6)`` — built once per (column,
    metric): constructing the higher-order zip_with/aggregate Column
    costs tens of py4j calls, paid per search before. Reusing it is
    safe, a Column is an unresolved expression bound at analysis."""
    return F.round(V.distance(F.col(vec_col), F.col(_Q), metric), 6)


def topk_by_distance(
    df: DataFrame,
    qvec: list[float],
    k: int,
    cols: list[str],
    vec_col: str,
    id_col: str,
    metric: str = "l2",
) -> DataFrame:
    """``cols`` + ``distance`` of the k rows of ``df`` nearest ``qvec``,
    ties broken by ``id_col``: the shared plan of exact and IVF search.

    nulls LAST: cosine distance is NULL for zero-norm vectors and a
    null/wrong-dim embedding yields a NULL distance, while plain asc()
    is NULLS FIRST — degenerate rows must not outrank every real
    neighbor."""
    return (
        df.select("*", V.vector_literal(qvec).alias(_Q))
        .select(*cols, _query_distance(vec_col, metric).alias("distance"))
        .orderBy(F.col("distance").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def knn_topk(
    df: DataFrame,
    qvec: list[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "l2",
    output_cols: list[str] | None = None,
) -> DataFrame:
    """Exact top-k for ONE query vector.

    TakeOrderedAndProject plan: no shuffle, scales linearly in rows.
    """
    return topk_by_distance(
        df, qvec, k, output_cols or [id_col], vec_col, id_col, metric
    )


def knn_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "q_embedding",
    q_id_col: str = "q_id",
    metric: str = "l2",
) -> DataFrame:
    """Exact top-k per query for a BATCH of query vectors.

    ``queries`` is small (broadcast); base table is scanned once.
    Returns (q_id, vec_id, distance) with deterministic tie-breaks.
    """
    joined = df.crossJoin(F.broadcast(queries))
    dist = F.round(V.distance(F.col(vec_col), F.col(q_vec_col), metric), 6)
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("distance").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("distance", dist)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(q_id_col, id_col, "distance")
    )


def similarity_topk(
    df: DataFrame,
    qvec: list[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine-similarity top-k (descending similarity)."""
    sim = F.round(
        V.cosine_similarity(F.col(vec_col), V.vector_literal(qvec)), 6
    )
    return (
        df.withColumn("similarity", sim)
        .select(id_col, "similarity")
        .orderBy(F.col("similarity").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def mmr_topk(
    df: DataFrame,
    qvec: list[float],
    k: int,
    fetch_k: int = 50,
    lambda_: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick the candidate maximizing
    λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s) — relevance minus
    redundancy, the standard RAG reranker when near-duplicate
    neighbors would waste the context budget.

    Plan: the DISTRIBUTED stage is exact cosine top-``fetch_k``
    (TakeOrderedAndProject — no shuffle of the base table); the greedy
    selection is inherently sequential, so it runs on the driver over
    the fetch_k×dim candidate matrix — bounded by construction
    (fetch_k defaults to 50; 50×384 floats, not data-scale). This
    candidates-then-rerank split is how every production vector stack
    runs MMR; the re-rank never touches the cluster.

    Returns (id, relevance, mmr_score, mmr_rank) for the k selected.
    """
    import numpy as np

    # id type follows the input (string keys in the collection path,
    # longs in the test tables) — never hardcoded
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, relevance double, mmr_score double, mmr_rank int"
    )
    cand = (
        df.withColumn(
            "_sim",
            F.round(
                V.cosine_similarity(F.col(vec_col), V.vector_literal(qvec)), 6
            ),
        )
        .select(id_col, vec_col, "_sim")
        .orderBy(F.col("_sim").desc_nulls_last(), F.col(id_col).asc())
        .limit(fetch_k)
        .collect()  # bounded: fetch_k rows by construction
    )
    if not cand:
        return df.sparkSession.createDataFrame([], out_schema)
    ids = [r[id_col] for r in cand]
    rel = np.array([r["_sim"] for r in cand], dtype=np.float64)
    mat = np.array([r[vec_col] for r in cand], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    pair = unit @ unit.T  # candidate-candidate cosine
    selected: list[int] = []
    scores: list[float] = []
    remaining = list(range(len(cand)))
    for _ in range(min(k, len(cand))):
        if selected:
            redundancy = pair[np.ix_(remaining, selected)].max(axis=1)
        else:
            redundancy = np.zeros(len(remaining))
        mmr = lambda_ * rel[remaining] - (1.0 - lambda_) * redundancy
        best = int(np.argmax(mmr))  # ties: lowest index = best relevance
        scores.append(float(mmr[best]))
        selected.append(remaining.pop(best))
    rows = [
        (ids[i], float(rel[i]), round(s, 6), rank + 1)
        for rank, (i, s) in enumerate(zip(selected, scores))
    ]
    return df.sparkSession.createDataFrame(rows, out_schema)
