"""Dedup family: exact survivors, LSH recall vs exact Jaccard,
ANSI-mode safety of the hash pipelines."""

import random

import pytest
from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash_candidates,
)

WORDS = [f"w{i}" for i in range(50)]


def _corpus():
    """30 random docs + a near-duplicate of each (1 word changed) +
    5 exact-normalized duplicates."""
    rng = random.Random(7)
    rows = []
    for i in range(30):
        toks = [rng.choice(WORDS) for _ in range(30)]
        rows.append((i, " ".join(toks)))
        near = list(toks)
        near[rng.randrange(len(near))] = rng.choice(WORDS)
        rows.append((100 + i, " ".join(near)))
    for i in range(5):
        base = rows[i][1]
        rows.append((200 + i, base.upper() + "!!!"))  # same after normalize
    return rows


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_corpus(), "doc_id long, text string")


def test_exact_dedup_survivors(docs):
    out = exact_dedup(docs)
    ids = {r.doc_id for r in out.collect()}
    # normalized duplicates lose to the min-id original
    assert all(200 + i not in ids for i in range(5))
    assert all(i in ids for i in range(5))
    # near-dups (different text) survive exact dedup
    assert 100 in ids or 100 in {r.doc_id for r in docs.collect()}


def test_minhash_runs_under_ansi(spark, docs):
    """Regression: crc32*mult overflowed long under default ANSI mode."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    sigs = minhash_signatures(docs, num_hashes=16, shingle_n=3)
    row = sigs.first()
    assert len(row.signature) == 16


def test_lsh_recall_vs_exact_jaccard(spark, docs):
    truth = jaccard_pairs(
        docs.withColumn("blk", F.lit(1)), block_col="blk",
        shingle_n=3, threshold=0.8,
    )
    true_pairs = {(r.id_a, r.id_b) for r in truth.collect()}
    assert len(true_pairs) >= 10  # the built near-dups are above 0.8

    sigs = minhash_signatures(docs, num_hashes=16, shingle_n=3)
    cands = {(r.id_a, r.id_b)
             for r in minhash_lsh_candidates(sigs, bands=8).collect()}
    recall = len(true_pairs & cands) / len(true_pairs)
    assert recall >= 0.9


def test_simhash_runs_and_finds_near_dups(docs):
    cands = {(r.id_a, r.id_b) for r in simhash_candidates(docs, bands=4).collect()}
    # exact-normalized dups always collide on every band
    assert any(a < 200 <= b for a, b in cands)


def test_jaccard_values_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d", "x"), (2, "a b c e", "x"), (3, "p q r s", "x")],
        "doc_id long, text string, src string",
    )
    out = {(r.id_a, r.id_b): r.jaccard
           for r in jaccard_pairs(df, block_col="src", shingle_n=1).collect()}
    # tokens {a,b,c,d} vs {a,b,c,e}: 3/5
    assert out[(1, 2)] == 0.6
    assert out[(1, 3)] == 0.0


def test_srp_near_dup_recall_on_planted_clusters(spark):
    """Hyperplane-LSH (SRP) must recover planted near-duplicate pairs:
    clusters of tiny perturbations around random centers, plus noise
    vectors. Recall of cosine>=0.95 ground truth must be high and no
    reported pair may be below the verify threshold (precision = 1 by
    construction)."""
    import numpy as np

    from python_vectordbapp_ceph_spark.operators.dedup import srp_near_dups

    rng = np.random.default_rng(7)
    dim = 32
    rows = []
    vid = 0
    for c in range(10):  # 10 clusters x 3 members = planted dups
        center = rng.standard_normal(dim)
        for _ in range(3):
            v = center + rng.standard_normal(dim) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(100):  # noise
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r.id_a, r.id_b)
        for r in srp_near_dups(
            df, dim=dim, threshold=0.95, n_bits=16, bands=8
        ).collect()
    }
    planted = {
        (c * 3 + i, c * 3 + j)
        for c in range(10)
        for i in range(3)
        for j in range(i + 1, 3)
    }
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall}"
    # every reported pair really is a near-dup (exact verify stage)
    import math

    by_id = {r_[0]: r_[1] for r_ in rows}
    for ia, ib in got:
        va, vb = by_id[ia], by_id[ib]
        cos = sum(x * y for x, y in zip(va, vb)) / (
            math.sqrt(sum(x * x for x in va)) * math.sqrt(sum(x * x for x in vb))
        )
        assert cos >= 0.95 - 1e-6


def test_dedup_components_collapse_chains(spark):
    """A~B, B~C, plus an isolated pair D~E: components must be
    {A,B,C} -> A and {D,E} -> D; survivors keep exactly one per
    component plus untouched rows."""
    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.operators.dedup import (
        dedup_components,
        dedup_survivors,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    try:
        comps = {r.id: r.comp for r in dedup_components(pairs).collect()}
        assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 99)],
            "doc_id long, text string",
        )
        kept = {r.doc_id for r in dedup_survivors(docs, pairs).collect()}
        assert kept == {1, 10, 99}
    finally:
        release_caches()


def test_dedup_components_guard_bounds_driver_collect(spark, monkeypatch):
    """The driver-finish threshold must gate the toPandas() collect by
    the ACTUAL surviving edge count every round — a frontier bigger
    than ``driver_finish_edges`` forces another distributed round
    instead of a driver collect (the r5 limit(1).count() bug collected
    the whole round-2 frontier regardless of size)."""
    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.operators.dedup import dedup_components

    # chain 1-2-...-9: 8 pairs → 16 symmetrized edges; min-label
    # contraction shortens the chain by one node per round, so with
    # threshold 2 several distributed rounds MUST run before the
    # 2-edge remnant is eligible for the driver finisher
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "id_a long, id_b long"
    )

    # patch the CONCRETE DataFrame class (pyspark.sql.DataFrame is an
    # abstract parent in Spark 4 whose toPandas is overridden)
    df_cls = type(pairs)
    collected_sizes = []
    orig_to_pandas = df_cls.toPandas

    def spy(self):
        pdf = orig_to_pandas(self)
        collected_sizes.append(len(pdf))
        return pdf

    monkeypatch.setattr(df_cls, "toPandas", spy)
    try:
        comps = {
            r.id: r.comp
            for r in dedup_components(pairs, driver_finish_edges=2).collect()
        }
        assert comps == {i: 1 for i in range(1, 10)}
        assert collected_sizes, "driver finisher should run on the tiny remnant"
        assert all(n <= 2 for n in collected_sizes), (
            f"driver collect exceeded driver_finish_edges: {collected_sizes}"
        )
    finally:
        release_caches()


def test_dedup_components_reliable_checkpoint_identical(spark, tmp_path):
    """checkpoint_dir switches localCheckpoint → reliable checkpoint;
    the labeling must be identical."""
    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (5, 6)], "id_a long, id_b long"
    )
    try:
        local = {r.id: r.comp for r in dedup_components(pairs).collect()}
        reliable = {
            r.id: r.comp
            for r in dedup_components(
                pairs, checkpoint_dir=str(tmp_path / "ckpt")
            ).collect()
        }
        assert local == reliable == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 5: 5, 6: 5}
    finally:
        release_caches()


def test_prefix_filter_path_equals_cross_join_path(spark):
    """AllPairs prefix filtering must be lossless: identical pairs and
    jaccard values as the blocked cross join at the same threshold."""
    from conftest import SF_DIR

    from python_vectordbapp_ceph_spark.io import load_table
    from python_vectordbapp_ceph_spark.operators.dedup import jaccard_pairs

    d = load_table(spark, SF_DIR, "documents")
    kw = dict(block_col="source", shingle_n=1, threshold=0.5)
    cross = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(d, **kw).collect()
    }
    prefix = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(d, prefix_filter=True, **kw).collect()
    }
    assert cross == prefix and len(cross) > 0


def test_lsh_recall_query_floor(spark):
    from conftest import SF_DIR

    from python_vectordbapp_ceph_spark.queries.textops import q_lsh_recall

    row = q_lsh_recall(spark, SF_DIR).collect()[0]
    assert row.n_exact > 0
    assert row.recall_ppm >= 950_000, row


def test_lsh_precision_query_floor(spark):
    """The precision companion of the recall gate: at the 2-rows/band
    recall-oriented operating point precision is low by design (the
    trade the docstring prices) but must stay above the floor that
    keeps the verify stage affordable, and the candidate count must
    stay far below the sample's all-pairs volume."""
    from conftest import SF_DIR
    from python_vectordbapp_ceph_spark.queries.textops import q_lsh_precision

    row = q_lsh_precision(spark, SF_DIR).collect()[0]
    assert row.n_candidates > 0
    assert row.precision_ppm >= 20_000  # >= 2%
    # sample <= 2000 docs -> all-pairs would be ~2M; candidates must
    # be well under it
    assert row.n_candidates < 500_000


def test_drop_list_broadcast_gated_both_sides(spark):
    """The survivor finisher's drop-list anti-join must be an EXPLICIT
    broadcast below the id gate and a plain (AQE-planned) join above
    it — at 100 TB dup rates the drop list is billions of ids, over
    Spark's 8 GB broadcast cap, so the unconditional hint was an
    executor OOM waiting to happen. Pin both sides of the gate with
    autoBroadcastJoinThreshold disabled so only the HINT can introduce
    a static broadcast."""
    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.operators.dedup import dedup_survivors
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 99)],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        below = dedup_survivors(docs, pairs)  # default gate ≫ 3 drop ids
        plan_below = explain_str(below)
        assert "BroadcastHashJoin" in plan_below, plan_below

        above = dedup_survivors(docs, pairs, broadcast_ids=0)
        plan_above = explain_str(above)
        # no hint → with autoBroadcast off the static plan must shuffle;
        # on a real cluster AQE may still convert from the RUNTIME size,
        # which is exactly the desired above-gate behavior
        assert "SortMergeJoin" in plan_above or "ShuffledHashJoin" in plan_above, plan_above

        kept_b = {r.doc_id for r in below.collect()}
        kept_a = {r.doc_id for r in above.collect()}
        assert kept_b == kept_a == {1, 10, 99}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        release_caches()


def test_pipeline_drop_lists_respect_gate(spark, monkeypatch):
    """decontaminate routes its drop list through gate_broadcast —
    with the gate forced to 0 the plan carries no broadcast hint yet
    results are unchanged. (prepare_training_corpus joins its drop
    list plainly and leaves the broadcast choice to AQE.)"""
    import python_vectordbapp_ceph_spark.operators.dedup as dd
    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.pipelines import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today", "train"),
            (2, "the quick brown fox jumps over the lazy dog today", "test"),
            (3, "completely unrelated text about spark physical plans", "train"),
            (4, "another unrelated document mentioning parquet readers", "valid"),
        ],
        "doc_id long, text string, split string",
    )
    try:
        kept_default = {r.doc_id for r in decontaminate(docs).collect()}
        monkeypatch.setattr(dd, "BROADCAST_ID_GATE", 0)
        kept_gated = {r.doc_id for r in decontaminate(docs).collect()}
        # doc 1 is a train-side near-dup of eval doc 2 → dropped; the
        # eval copy and clean train rows survive on BOTH gate sides
        assert kept_default == kept_gated == {2, 3, 4}
    finally:
        release_caches()


@pytest.mark.slow
def test_dedup_components_distributed_labels_equal_driver_finish(spark):
    """The distributed contraction rounds (driver finish off) must give
    EXACTLY the (id, comp) labeling of the default driver finish:
    component = min reachable id is algorithm-independent. A long
    chain, a dense block and an isolated pair cover the propagation
    shapes."""
    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.operators.dedup import dedup_components

    # chain short enough for the distributed path inside max_iter=20
    # (min-label contraction shortens a path roughly one node per round)
    chain = [(i, i + 1) for i in range(1, 13)]          # diameter 12
    block = [(100 + a, 100 + b) for a in range(6) for b in range(a + 1, 6)]
    pairs = spark.createDataFrame(
        chain + block + [(500, 501)], "id_a long, id_b long"
    )
    try:
        dist = {r.id: r.comp for r in dedup_components(
            pairs, driver_finish_edges=0).collect()}
        fast = {r.id: r.comp for r in dedup_components(pairs).collect()}
        assert dist == fast
        assert dist[12] == 1 and dist[105] == 100 and dist[501] == 500
    finally:
        release_caches()


def test_dedup_components_supports_string_ids(spark):
    """The driver finisher (frontier below driver_finish_edges — i.e.
    nearly always) must handle string/uuid ids; the int64-coerced
    numpy path crashed on them."""
    from python_vectordbapp_ceph_spark.operators.dedup import (
        dedup_components,
    )

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    got = {r.id: r.comp for r in dedup_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_dedup_components_driver_finish_is_two_jobs(spark):
    """A pair set under the gate costs one materialization of the pairs
    and one bounded collect — no checkpoint of the symmetrized edges
    before the gate."""
    from conftest import jobs_of

    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    try:
        comps, jobs = jobs_of(spark, lambda: dedup_components(pairs))
        assert jobs == 2
        got = {r.id: r.comp for r in comps.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    finally:
        release_caches()


def test_jaccard_pairs_warns_on_unpersisted_shingle_input(spark, caplog):
    """shingle_col= skips the internal persist; an input that is not
    persisted would be recomputed once per self-join side, so it warns
    (and a persisted one does not)."""
    import logging

    from python_vectordbapp_ceph_spark.operators.dedup import shingles

    d = spark.createDataFrame(
        [(1, "s", "a b c d"), (2, "s", "a b c e")],
        "doc_id int, source string, text string",
    )
    sh = d.select("doc_id", "source", shingles("text", 1).alias("_sh"))
    with caplog.at_level(logging.WARNING, logger="python_vectordbapp_ceph_spark"):
        jaccard_pairs(sh, block_col="source", threshold=0.5, shingle_col="_sh")
    assert any("not persisted" in r.getMessage() for r in caplog.records)
    caplog.clear()
    sh = sh.persist()
    try:
        with caplog.at_level(logging.WARNING,
                             logger="python_vectordbapp_ceph_spark"):
            jaccard_pairs(sh, block_col="source", threshold=0.5,
                          shingle_col="_sh")
    finally:
        sh.unpersist()
    assert not any("not persisted" in r.getMessage() for r in caplog.records)
