"""Training-corpus curation pipeline: each funnel stage removes what
it should, survivors carry annotations + normalized embeddings."""

import pytest
from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.pipelines import (
    near_dup_drop_list,
    prepare_training_corpus,
)

from conftest import SF_DIR


def test_near_dup_drop_list(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),  # near-dup of 1
            (3, "completely different text about spark query engines at scale"),
        ],
        "doc_id long, text string",
    )
    drops = {r.doc_id for r in near_dup_drop_list(docs, jaccard_threshold=0.5).collect()}
    assert drops == {2}  # larger id of the verified pair drops


def _spark_plan_nodes(node, into_caches):
    """Physical plan nodes under ``node``, through AQE wrappers and
    query stages; with ``into_caches`` also the plans cached behind
    InMemoryTableScans."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _spark_plan_nodes(node.executedPlan(), into_caches)
    if cls.endswith("QueryStageExec"):
        return _spark_plan_nodes(node.plan(), into_caches)
    out = [node]
    if cls == "InMemoryTableScanExec" and into_caches:
        out += _spark_plan_nodes(node.relation().cachedPlan(), into_caches)
    children = node.children()
    for i in range(children.size()):
        out += _spark_plan_nodes(children.apply(i), into_caches)
    return out


def test_verify_funnel_shingles_computed_once(spark):
    """The shingle table feeds BOTH halves of the verify self-join and
    the MinHash signatures; every consumer must read the persisted
    intermediate (InMemoryTableScan), not recompute the
    normalize→split→shingle pipeline."""
    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.pipelines import decontaminate
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    # doc 6 copies doc 0 into the test split: a non-empty dirty list, so
    # AQE keeps decontaminate's funnel in the materialized plan
    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with shared shingle words", "train")
         for i in range(6)]
        + [(6, "some text body number 0 with shared shingle words", "test")],
        "doc_id long, text string, split string",
    )
    try:
        for out in (near_dup_drop_list(docs), decontaminate(docs)):
            plan = explain_str(out, "simple")
            assert plan.count("InMemoryTableScan") >= 2, plan
            # the signature side: every node hashing shingles (xxhash64)
            # reads a cache below it and normalizes no text
            # (regexp_replace) on the way down — the shingling ran
            # once, inside the cache
            root = out._jdf.queryExecution().sparkPlan()
            sig_nodes = [n for n in _spark_plan_nodes(root, into_caches=True)
                         if "xxhash64" in n.expressions().toString()]
            assert sig_nodes, plan
            for n in sig_nodes:
                below = _spark_plan_nodes(n, into_caches=False)
                names = [m.getClass().getSimpleName() for m in below]
                assert "InMemoryTableScanExec" in names, names
                assert not any("regexp_replace" in m.expressions().toString()
                               for m in below), names
    finally:
        release_caches()


def test_prepare_training_corpus(spark):
    out = prepare_training_corpus(spark, SF_DIR, min_quality=0.0, lang=None)
    rows = out.collect()
    assert len(rows) > 0
    by_id = {r.doc_id: r for r in rows}
    # unique survivors
    assert len(by_id) == len(rows)
    # annotations present and embeddings normalized where joined
    sample = rows[0]
    assert sample.quality is not None and sample.n_tokens > 0
    with_emb = [r for r in rows if r.embedding is not None]
    assert with_emb, "documents⋈embeddings join produced no embeddings"
    norm = sum(x * x for x in with_emb[0].embedding) ** 0.5
    assert abs(norm - 1.0) < 1e-6


def test_deterministic_split_stable_under_repartition(spark):
    """Membership is a pure function of the id: repartitioning (which
    shifts randomSplit) changes nothing."""
    from python_vectordbapp_ceph_spark.operators.split import deterministic_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {(r.doc_id, r.split) for r in deterministic_split(df, "doc_id").collect()}
    b = {(r.doc_id, r.split)
         for r in deterministic_split(df.repartition(17), "doc_id").collect()}
    assert a == b
    frac = {}
    for _, s in a:
        frac[s] = frac.get(s, 0) + 1
    assert 0.75 < frac["train"] / 2000 < 0.85
    assert 0.05 < frac["valid"] / 2000 < 0.15
    assert 0.05 < frac["test"] / 2000 < 0.15


def test_decontaminate_drops_only_dirty_train(spark):
    """A train doc near-duplicating a test doc is dropped; the test doc
    and clean train docs survive."""
    from python_vectordbapp_ceph_spark.pipelines import decontaminate

    base = "the quick brown fox jumps over the lazy dog every single day"
    rows = [
        (1, base, "train"),                              # contaminated
        (2, base.replace("dog", "cat"), "test"),          # near-dup of 1
        (3, "completely unrelated text about spark engines", "train"),
        (4, base.replace("day", "night"), "valid"),       # near-dup of 1 too
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, split string")
    out = {(r.doc_id, r.split) for r in
           decontaminate(docs, jaccard_threshold=0.5).collect()}
    assert out == {(2, "test"), (3, "train"), (4, "valid")}


def test_pack_sequences_invariants(spark):
    """Every doc packed exactly once; no pack over budget unless a
    single oversized doc; deterministic across repartitionings."""
    from python_vectordbapp_ceph_spark.operators.packing import (
        pack_sequences,
        pack_stats,
    )

    rows = [(i, 10 + (i * 37) % 300) for i in range(500)]  # some > budget
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    budget = 256
    packed = pack_sequences(df, budget=budget, n_buckets=8).collect()
    assert len(packed) == 500
    assert len({r.doc_id for r in packed}) == 500

    by_pack = {}
    for r in packed:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pack in by_pack.values():
        total = sum(r.n_tokens for r in pack)
        if total > budget:
            assert len(pack) == 1  # only an oversized solo doc may exceed

    again = pack_sequences(df.repartition(13), budget=budget, n_buckets=8).collect()
    assert {(r.doc_id, r.pack_id) for r in again} == {
        (r.doc_id, r.pack_id) for r in packed
    }

    stats = pack_stats(
        pack_sequences(df, budget=budget, n_buckets=8), budget=budget
    ).collect()
    assert all(s.n_docs >= 1 for s in stats)
    assert sum(s.n_docs for s in stats) == 500


def test_quality_and_lang_filters_reduce(spark):
    loose = prepare_training_corpus(spark, SF_DIR, min_quality=0.0, lang=None).count()
    strict = prepare_training_corpus(spark, SF_DIR, min_quality=0.5, lang="en").count()
    assert strict <= loose


def test_scrub_pii_redacts_all_kinds(spark):
    from python_vectordbapp_ceph_spark.functions.text import scrub_pii

    rows = spark.createDataFrame(
        [
            ("mail a.b+c@sub.example.org now", "mail <EMAIL> now"),
            ("call 555-867-5309 or +1 nothing", "call <PHONE> or +1 nothing"),
            ("host 192.168.001.1 down", "host <IP> down"),
            ("ssn 078-05-1120 leaked", "ssn <ID> leaked"),
            ("clean text stays clean", "clean text stays clean"),
            # phone-vs-ip overlap: dotted octets must become IP, not PHONE
            ("a 10.0.3.7 b 555 867 5309 c", "a <IP> b <PHONE> c"),
        ],
        "raw string, want string",
    )
    from pyspark.sql import functions as F

    bad = rows.withColumn("got", scrub_pii("raw")).filter(
        F.col("got") != F.col("want")
    )
    assert bad.count() == 0, bad.collect()


def test_chunk_text_windows_and_edges(spark):
    from python_vectordbapp_ceph_spark.functions.text import chunk_text

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),   # 5 words, size 3 stride 2 -> starts 0,2,4
            (2, "solo"),        # 1 word -> one short chunk
            (3, ""),            # empty -> no chunks
            (4, "   "),         # whitespace only -> no chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_text(docs, "text", size=3, stride=2)
    got = {
        (r.doc_id, r.chunk_id): (r.chunk, r.chunk_words)
        for r in out.collect()
    }
    assert got == {
        (1, 0): ("a b c", 3),
        (1, 1): ("c d e", 3),
        (1, 2): ("e", 1),
        (2, 0): ("solo", 1),
    }
