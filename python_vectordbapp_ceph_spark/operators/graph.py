"""Iterative graph analytics over similarity/interaction edge sets.

Complements operators/dedup.py::dedup_components (which labels
components): PageRank scores node CENTRALITY — on a near-dup graph the
high-rank nodes are the canonical/most-copied documents, the natural
survivor choice when "keep the most central copy" beats "keep min id".

Spark-first design, same loop discipline as dedup_components:
  - one input step for all three operators (_graph_input: NULL ids
    dropped, materialized once) and one driver-finish gate
    (_driver_graph: pairs that fit under ``driver_finish_edges // 2``
    are collected once and finished in numpy on the driver);
  - edges symmetrized once, degrees precomputed (one aggregation);
  - each iteration is one join (ranks onto edge sources) + one
    groupBy(dst) aggregation — both shuffle on node id, so successive
    iterations reuse the same hash partitioning;
  - loop-carried rank table is checkpointed via cache.materialize
    (localCheckpoint by default, reliable dir for cluster runs) so the
    plan does not nest iteration-over-iteration;
  - dangling mass (nodes with no out-edges cannot exist here — the
    symmetrized similarity graph has deg ≥ 1 for every node in an
    edge) so no dangling-redistribution term is needed.

Float iteration ⇒ results are engine-order-dependent in the last ulps
⇒ registered rows-only with the driver; absolute values pinned by
pytest on closed-form graphs (star, cycle) instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import collect_bounded, materialize, tracked_persist


def _pagerank_driver(
    edges_pdf, damping: float, iterations: int
) -> "tuple[list, list]":
    """The rank loop on a collected symmetrized edge table — same
    per-iteration math as the distributed loop (contrib = rank/deg
    scattered onto dst, rank = base + damping*in_mass); float sum
    ORDER differs (np.add.at vs shuffle-order aggregation), which the
    operator's rows-only contract already covers. Returns (ids,
    ranks) aligned. ``edges_pdf`` is the (ids, inv_src, inv_dst)
    dense-index triple from _symmetrize_driver — symmetrized,
    self-loop-free, deduplicated, already reindexed (re-deriving the
    index here cost a second full np.unique per call)."""
    ids, inv_src, inv_dst = edges_pdf
    n = len(ids)
    if n == 0:
        return ids, np.zeros(0)
    deg = np.bincount(inv_src, minlength=n)
    w = 1.0 / deg[inv_src]
    base = (1.0 - damping) / n
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        in_mass = np.zeros(n)
        np.add.at(in_mass, inv_dst, rank[inv_src] * w)
        rank = base + damping * in_mass
    return ids, rank


def _symmetrize_driver(pdf):
    """Driver-side twin of the union+filter+distinct edge build, used
    by all three graph operators below the gate: symmetrize, drop self-loops, dedup via
    dense-reindexed integer codes (type-agnostic — string/uuid ids
    dedup through their np.unique index, same trick as
    dedup._min_label_numpy). Replaces a full distributed shuffle +
    distinct of the doubled pair set that the driver finisher was
    about to collect anyway. Returns (ids, inv_src, inv_dst): the
    sorted node-id universe plus dense edge indices into it — the
    form every driver finisher consumes directly."""
    a = pdf["src"].to_numpy()
    b = pdf["dst"].to_numpy()
    keep = a != b
    s = np.concatenate([a[keep], b[keep]])
    d = np.concatenate([b[keep], a[keep]])
    empty = np.array([], dtype=np.int64)
    if len(s) == 0:
        return s, empty, empty
    # one unique suffices: the set is symmetric, so every node occurs
    # in s; d resolves by binary search into the same universe
    ids, inv_s = np.unique(s, return_inverse=True)
    inv_d = np.searchsorted(ids, d)
    codes = np.unique(inv_s.astype(np.int64) * len(ids) + inv_d)
    return ids, codes // len(ids), codes % len(ids)


def _graph_input(
    pairs: DataFrame, id_a: str, id_b: str, checkpoint_dir: str | None
) -> DataFrame:
    """The one input step of the graph operators: ``(src, dst)`` with
    NULL endpoints dropped, materialized once — the distributed
    symmetrize references it twice, and an unmaterialized upstream
    funnel would run once per reference. A NULL id is no node on any
    path (the distributed ``src != dst`` filter drops it as well)."""
    return materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).dropna(),
        checkpoint_dir,
    )


def _driver_graph(p0: DataFrame, driver_finish_edges: int):
    """The driver-finish gate on the pairs: 2·|pairs| symmetrized
    edges fit under ``driver_finish_edges`` iff |pairs| ≤
    ``driver_finish_edges // 2``. Returns the _symmetrize_driver
    triple when they fit (one bounded collect), else None."""
    pdf = collect_bounded(p0, driver_finish_edges // 2)
    return None if pdf is None else _symmetrize_driver(pdf)


def _symmetrized(p0: DataFrame) -> DataFrame:
    """Both orientations of every pair, self-loops dropped: the
    distributed twin of _symmetrize_driver, without its dedup."""
    return p0.union(
        p0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    damping: float = 0.85,
    iterations: int = 10,
    checkpoint_dir: str | None = None,
    driver_finish_edges: int = 1 << 20,
) -> DataFrame:
    """PageRank over an UNDIRECTED pair set (each pair becomes two
    directed edges; pairs with a NULL id are dropped). Returns (id,
    rank); ranks over the edge-covered nodes sum to ~1.

    Driver finish (the one gate shared with kcore and
    dedup_components): ``iterations`` distributed rounds each pay a
    join + aggregate + checkpoint of a frontier that, on a near-dup
    graph, is a few hundred thousand edges — scheduling-bound, not
    data-bound. When the pairs number at most ``driver_finish_edges
    // 2`` (default 1 Mi symmetrized edges ≈ 16 MB) they are
    collected ONCE over Arrow (``cache.collect_bounded``) and the loop
    runs as numpy scatter-adds; beyond it the distributed loop runs
    unchanged, after one wasted bounded collect. Rank values differ
    from the distributed path only in float summation order — the
    same ulp-level freedom that already makes this operator
    rows-only."""
    p0 = _graph_input(pairs, id_a, id_b, checkpoint_dir)
    tri = _driver_graph(p0, driver_finish_edges)
    if tri is not None:
        ids, ranks = _pagerank_driver(tri, damping, iterations)
        # pandas frame → Arrow path: a list-of-tuples createDataFrame
        # measured ~1.7 s at 81k rows vs ~0.1 s over Arrow
        id_t = p0.schema["src"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            pd.DataFrame({"id": ids, "rank": ranks}), f"id {id_t}, rank double"
        )
    edges = materialize(_symmetrized(p0).distinct(), checkpoint_dir)
    # deg feeds BOTH eager materializations below (nodes, the weighted
    # edge table) — persist it so the full-edge groupBy shuffle runs
    # once per call, not twice (same discipline kcore applies to its
    # identical degree table)
    deg = tracked_persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    nodes = materialize(deg.select(F.col("src").alias("id")), checkpoint_dir)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    out = edges.join(deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    out = materialize(out, checkpoint_dir)
    for _ in range(iterations):
        contribs = (
            out.join(
                ranks.select(F.col("id").alias("src"), "rank"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("in_mass"))
        )
        ranks = materialize(
            nodes.join(
                contribs.select(F.col("dst").alias("id"), "in_mass"),
                "id",
                "left",
            ).select(
                "id",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("rank"),
            ),
            checkpoint_dir,
        )
    return ranks


def kcore(
    pairs: DataFrame,
    k: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    driver_finish_edges: int = 1 << 20,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly remove
    nodes of degree < k (with their edges) until the graph is stable;
    the survivors are the k-core. On a similarity/interaction graph
    the dense core is the spam-farm / template-cluster signal the
    degree histogram (q_degree_hist) only hints at — SEO link farms
    and mass-produced boilerplate form tight cores; organic content
    does not.

    Returns (id,) — the nodes of the k-core. Deterministic for any
    input (the k-core is unique: it is the maximal subgraph with
    min-degree ≥ k, independent of peel order).

    Scale shape, same loop discipline as pagerank/dedup_components:
    each round is one degree aggregation + one semi-join edge filter,
    both shuffling on node id (AQE coalesces the tail rounds as the
    frontier collapses); the loop-carried edge set is checkpointed so
    plans don't nest. Rounds needed = peel depth, typically O(10) on
    heavy-tailed graphs; every round strictly shrinks the edge set or
    terminates, and each round's cost is proportional to the CURRENT
    (shrinking) edge set, not the input.

    Driver finish: the gate shared with pagerank and dedup_components.
    Pairs numbering at most ``driver_finish_edges // 2`` are collected
    once and peeled in numpy; pairs with a NULL id are dropped on
    both paths."""
    p0 = _graph_input(pairs, id_a, id_b, checkpoint_dir)
    # the k-core is UNIQUE, so the driver peel (behind the same gate as
    # pagerank) equals the distributed result exactly
    tri = _driver_graph(p0, driver_finish_edges)
    if tri is not None:
        ids, si, di = tri
        while len(si):
            # dense-index peel: degree by bincount, weakness by index
            # lookup — the per-round np.isin over raw ids was an
            # O(E·log V) search each round for the same info
            deg = np.bincount(si, minlength=len(ids))
            weak = (deg > 0) & (deg < k)
            if not weak.any():
                break
            bad = weak[si] | weak[di]
            si, di = si[~bad], di[~bad]
        survivors = ids[np.flatnonzero(np.bincount(si, minlength=len(ids)))]
        id_t = p0.schema["src"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            pd.DataFrame({"id": survivors}), f"id {id_t}"
        )
    edges = materialize(_symmetrized(p0).distinct(), checkpoint_dir)
    for _ in range(max_iter):
        # persisted: the degree table feeds BOTH the stop check and
        # the keep-filter semi-joins — unpersisted it would be
        # recomputed (one extra shuffle over the frontier) per round.
        # The stop check only asks "any weak node?": isEmpty() is one
        # job, where count() is two under AQE.
        deg = tracked_persist(
            edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        )
        if deg.filter(F.col("deg") < k).isEmpty():
            deg.unpersist()
            break
        keep = deg.filter(F.col("deg") >= k).select("src")
        new_edges = materialize(
            edges.join(keep, "src", "left_semi")
            .join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            ),
            checkpoint_dir,
        )
        deg.unpersist()
        edges = new_edges
    else:
        raise RuntimeError(
            f"kcore: not stable after {max_iter} peel rounds; raise max_iter"
        )
    return edges.select(F.col("src").alias("id")).distinct()
