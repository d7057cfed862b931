"""PageRank (operators/graph.py): absolute values on closed-form
graphs — the evidence backing the rows-only q_pagerank registration.
Also the graph operators' shared input step (NULL ids) and their one
driver-finish gate, cache.collect_bounded.
"""

import pytest

from python_vectordbapp_ceph_spark.cache import release_caches
from python_vectordbapp_ceph_spark.operators.graph import kcore, pagerank


def test_pagerank_star_closed_form(spark):
    """Star with center 0 and k=4 leaves: stationary solution
    rc = (1 + d·k) / (N(1 + d)), rl = (1-d)/N + d·rc/k."""
    d = 0.85
    k, n = 4, 5
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, k + 1)], "id_a long, id_b long"
    )
    try:
        ranks = {r.id: r.rank for r in pagerank(pairs, iterations=60).collect()}
    finally:
        release_caches()
    rc = (1 + d * k) / (n * (1 + d))
    rl = (1 - d) / n + d * rc / k
    # power iteration converges as d^t on the star's oscillating mode:
    # d^60 ≈ 6e-5, so assert within 5e-4 (exactness isn't the claim —
    # the driver registration is rows-only for precisely this reason)
    assert ranks[0] == pytest.approx(rc, abs=5e-4)
    for leaf in range(1, k + 1):
        assert ranks[leaf] == pytest.approx(rl, abs=5e-4)
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    # symmetry is exact regardless of convergence
    assert len({round(ranks[i], 12) for i in range(1, k + 1)}) == 1


def test_pagerank_cycle_uniform(spark):
    """On a cycle every node has identical degree/neighborhood: the
    uniform vector 1/N is a fixpoint from iteration one."""
    n = 6
    pairs = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "id_a long, id_b long"
    )
    try:
        ranks = [r.rank for r in pagerank(pairs, iterations=5).collect()]
    finally:
        release_caches()
    assert len(ranks) == n
    for r in ranks:
        assert r == pytest.approx(1.0 / n, abs=1e-9)


def test_pagerank_reliable_checkpoint_identical(spark, tmp_path):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "id_a long, id_b long"
    )
    try:
        a = {r.id: round(r.rank, 9) for r in pagerank(pairs, iterations=8).collect()}
        b = {
            r.id: round(r.rank, 9)
            for r in pagerank(
                pairs, iterations=8, checkpoint_dir=str(tmp_path / "ck")
            ).collect()
        }
    finally:
        release_caches()
    assert a == b


def test_kcore_planted_core_survives_and_tail_peels(spark):
    """A 5-clique (every node degree 4) plus a chain of pendants
    hanging off it: 3-core = exactly the clique, and the chain must
    peel over MULTIPLE rounds (each round only exposes the next chain
    node), exercising the iterative path."""
    from python_vectordbapp_ceph_spark.operators.graph import kcore

    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    chain = [(4, 10), (10, 11), (11, 12), (12, 13)]
    pairs = spark.createDataFrame(clique + chain, "id_a long, id_b long")
    got = sorted(r.id for r in kcore(pairs, k=3).collect())
    assert got == [0, 1, 2, 3, 4]


def test_kcore_empty_when_k_exceeds_connectivity(spark):
    from python_vectordbapp_ceph_spark.operators.graph import kcore

    ring = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "id_a long, id_b long"
    )
    # every ring node has degree 2 → 3-core is empty, 2-core is the ring
    assert kcore(ring, k=3).count() == 0
    assert sorted(r.id for r in kcore(ring, k=2).collect()) == list(range(6))


def test_pagerank_driver_finish_matches_distributed(spark):
    import math

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 6)],
        "id_a long, id_b long",
    )
    fast = {r.id: r.rank for r in pagerank(pairs, iterations=6).collect()}
    dist = {
        r.id: r.rank
        for r in pagerank(pairs, iterations=6, driver_finish_edges=0).collect()
    }
    assert set(fast) == set(dist)
    for i in fast:
        assert math.isclose(fast[i], dist[i], rel_tol=1e-9), (i, fast[i], dist[i])


def test_kcore_driver_finish_exactly_equals_distributed(spark):
    rows = [(a, b) for a in range(5) for b in range(a + 1, 5)]  # K5 core
    rows += [(0, 10), (10, 11), (11, 12)]                       # a tail
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    fast = sorted(r.id for r in kcore(pairs, k=4).collect())
    dist = sorted(
        r.id for r in kcore(pairs, k=4, driver_finish_edges=0).collect()
    )
    assert fast == dist == [0, 1, 2, 3, 4]


def _pr(pairs, **kw):
    return {r.id: r.rank for r in pagerank(pairs, iterations=6, **kw).collect()}


def _kc(pairs, **kw):
    return {r.id: 1 for r in kcore(pairs, k=2, **kw).collect()}


def _cc(pairs, **kw):
    from python_vectordbapp_ceph_spark.operators.dedup import dedup_components

    return {r.id: r.comp for r in dedup_components(pairs, **kw).collect()}


@pytest.mark.parametrize(
    "op, rows, nodes",
    [
        (_pr, [(1, 2), (2, 3), (3, None), (None, 4), (1, 3)], {1, 2, 3}),
        (_kc, [(1, None), (2, None), (1, 2)], set()),
        (_cc, [(1, 2), (2, 3), (3, None), (None, 4), (1, 3)], {1, 2, 3}),
    ],
    ids=["pagerank", "kcore", "dedup_components"],
)
def test_null_ids_are_no_nodes_on_either_path(spark, op, rows, nodes):
    """A pair with a NULL id is dropped: the driver finish and the
    distributed path (``driver_finish_edges=0``) give the same result,
    and NULL is never a node."""
    import math

    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    try:
        fast = op(pairs)
        dist = op(pairs, driver_finish_edges=0)
    finally:
        release_caches()
    assert set(fast) == set(dist) == nodes
    for i in fast:
        assert math.isclose(fast[i], dist[i], rel_tol=1e-9), (i, fast[i], dist[i])


@pytest.mark.parametrize(
    "n, cap, rows, whole, jobs",
    [
        (10, 20, None, True, 1),    # under cap: the collect decides
        (10, 10, None, True, 2),    # exactly cap: one probe past the cap
        (10, 9, None, False, 2),    # cap + 1: the same probe says no
        (10, 0, None, False, 0),    # gate off
        (10, 9, 10, False, 0),      # known rows over cap: no job
        (10, 20, 10, True, 1),      # known rows under cap: the collect only
    ],
    ids=["under", "exact", "cap_plus_1", "cap_0", "rows_over", "rows_under"],
)
def test_collect_bounded(spark, monkeypatch, n, cap, rows, whole, jobs):
    """The one driver-finish gate: the frame when it fits, else None;
    no collect pulls more than ``cap`` rows; and the jobs it costs."""
    from conftest import jobs_of

    from python_vectordbapp_ceph_spark.cache import collect_bounded, materialize

    df = materialize(spark.range(n))
    df_cls = type(df)
    sizes = []
    orig_to_pandas = df_cls.toPandas

    def spy(self):
        pdf = orig_to_pandas(self)
        sizes.append(len(pdf))
        return pdf

    monkeypatch.setattr(df_cls, "toPandas", spy)
    pdf, ran = jobs_of(spark, lambda: collect_bounded(df, cap, rows))
    if whole:
        assert sorted(pdf["id"]) == list(range(n))
    else:
        assert pdf is None
    assert all(s <= cap for s in sizes), sizes
    assert ran == jobs
