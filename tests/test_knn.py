"""KNN correctness: Spark plans vs numpy brute force; IVF recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.operators.ivf import build_ivf
from python_vectordbapp_ceph_spark.operators.knn import knn_topk, knn_topk_batch

N, DIM, K = 200, 8, 10
RNG = np.random.default_rng(42)
VECS = RNG.uniform(-1, 1, size=(N, DIM)).astype(np.float32)
QUERY = RNG.uniform(-1, 1, size=DIM).tolist()


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        [(i, VECS[i].tolist()) for i in range(N)],
        "vec_id long, embedding array<float>",
    )


def brute_topk(qvec, k):
    d = np.sqrt(((VECS.astype(np.float64) - np.array(qvec)) ** 2).sum(axis=1))
    order = np.lexsort((np.arange(N), np.round(d, 6)))
    return [int(i) for i in order[:k]]


def test_knn_matches_brute_force(vec_df):
    got = [r.vec_id for r in knn_topk(vec_df, QUERY, K).collect()]
    assert got == brute_topk(QUERY, K)


def test_knn_plan_is_take_ordered(vec_df):
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    plan = explain_str(knn_topk(vec_df, QUERY, K))
    assert "TakeOrderedAndProject" in plan


def test_knn_batch_matches_per_query(spark, vec_df):
    qids = [3, 7, 11]
    queries = spark.createDataFrame(
        [(int(q), VECS[q].tolist()) for q in qids],
        "q_id long, q_embedding array<float>",
    )
    got = knn_topk_batch(vec_df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r.vec_id)
    for q in qids:
        assert by_q[q] == brute_topk(VECS[q].tolist(), 5)


def test_zero_vector_does_not_outrank_real_neighbors(spark):
    """Regression: cosine distance is NULL for zero-norm vectors and
    plain asc() sorted NULLS FIRST — the degenerate row used to be the
    #1 hit of every search."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    hits = knn_topk(df, [1.0, 0.0], k=2, metric="cosine").collect()
    assert [h.vec_id for h in hits] == [1, 2]
    assert all(h.distance is not None for h in hits)


def test_ivf_full_probe_equals_exact(vec_df):
    index = build_ivf(vec_df, nlist=4)
    got = [r.vec_id for r in index.search(QUERY, k=K, nprobe=4).collect()]
    assert got == brute_topk(QUERY, K)


def test_ivf_on_disk_partition_pruning(vec_df, tmp_path, spark):
    """The 100 TB story: cluster-id partitioned layout turns a probe
    into PartitionFilters at the parquet scan — Spark reads only
    nprobe/nlist of the files."""
    from python_vectordbapp_ceph_spark.operators.ivf import build_ivf, write_partitioned
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    index = build_ivf(vec_df, nlist=4)
    path = str(tmp_path / "ivf")
    write_partitioned(index, path)
    table = spark.read.parquet(path)
    probes = index.probe_clusters(QUERY, 2)
    probed = table.filter(F.col("cluster_id").isin(probes))
    plan = explain_str(probed)
    assert "PartitionFilters" in plan and "cluster_id" in plan
    # pruned scan reads a strict subset
    assert probed.count() < table.count()


def test_ivf_pruned_probe_recall(vec_df):
    index = build_ivf(vec_df, nlist=4)
    got = {r.vec_id for r in index.search(QUERY, k=K, nprobe=2).collect()}
    exact = set(brute_topk(QUERY, K))
    assert len(got & exact) / K >= 0.6
    # and the pruned probe reads strictly fewer candidate rows
    probes = index.probe_clusters(QUERY, 2)
    n_cand = index.assigned.filter(F.col("cluster_id").isin(probes)).count()
    assert n_cand < N


def test_ivf_search_batch_matches_single_probe(vec_df, spark):
    """Batch IVF probe must return, per query, exactly what the
    single-query probe returns at the same nprobe; full probe must
    equal exact brute force."""
    from pyspark.sql import functions as F

    from python_vectordbapp_ceph_spark.operators.ivf import build_ivf, search_batch
    from python_vectordbapp_ceph_spark.operators.knn import knn_topk_batch

    index = build_ivf(vec_df, nlist=4)
    queries = spark.createDataFrame(
        [(r.vec_id, [float(x) for x in r.embedding])
         for r in vec_df.orderBy("vec_id").limit(5).collect()],
        "q_id long, q_embedding array<double>",
    )
    batch = search_batch(index, queries, k=3, nprobe=2)
    got = {(r.q_id, r.vec_id) for r in batch.collect()}
    for q in queries.collect():
        single = index.search(q.q_embedding, k=3, nprobe=2)
        want = {(q.q_id, r[index.id_col]) for r in single.collect()}
        assert {(a, b) for a, b in got if a == q.q_id} == want

    # full probe == exact brute force
    full = search_batch(index, queries, k=3, nprobe=4)
    exact = knn_topk_batch(vec_df, queries, k=3)
    assert {(r.q_id, r.vec_id) for r in full.collect()} == {
        (r.q_id, r.vec_id) for r in exact.collect()
    }


def test_ivf_search_batch_distributed_equals_driver_path(vec_df, spark):
    """Above max_driver_batch the probe list derives DISTRIBUTED
    (broadcast-centroid crossJoin + rank), never via collect(): the
    driver-side probe_clusters helper must not be called, and the
    results must be row-identical to the driver path on the same
    queries."""
    from python_vectordbapp_ceph_spark.operators import ivf as IVF

    index = IVF.build_ivf(vec_df, nlist=4)
    queries = spark.createDataFrame(
        [(r.vec_id, [float(x) for x in r.embedding])
         for r in vec_df.orderBy("vec_id").limit(8).collect()],
        "q_id long, q_embedding array<double>",
    )
    want = {(r.q_id, r.vec_id, r.distance)
            for r in IVF.search_batch(index, queries, k=3, nprobe=2).collect()}

    def boom(self, qvec, nprobe):
        raise AssertionError("driver-side probe ranking in distributed path")

    orig = IVF.IVFIndex.probe_clusters
    IVF.IVFIndex.probe_clusters = boom
    try:
        got_df = IVF.search_batch(
            index, queries, k=3, nprobe=2, max_driver_batch=0
        )
        got = {(r.q_id, r.vec_id, r.distance) for r in got_df.collect()}
    finally:
        IVF.IVFIndex.probe_clusters = orig
    assert got == want


def test_ivf_search_batch_large_query_set_never_collects(vec_df, spark):
    """A 100k-row query DataFrame must flow through search_batch with
    no driver-side materialization of vectors (the guard the API needs
    because it accepts ANY DataFrame, not just real query batches).
    Synthetic queries are built JVM-side from range() — creating them
    costs no driver memory either."""
    from pyspark.sql import functions as F

    from python_vectordbapp_ceph_spark.operators import ivf as IVF

    index = IVF.build_ivf(vec_df, nlist=4)
    dim = len(vec_df.select("embedding").first()[0])
    queries = spark.range(100_000).select(
        F.col("id").alias("q_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: ((F.col("id") + i) % 7).cast("double") / 7.0,
        ).alias("q_embedding"),
    )

    def boom(self, qvec, nprobe):
        raise AssertionError("driver-side probe ranking on a 100k batch")

    orig = IVF.IVFIndex.probe_clusters
    IVF.IVFIndex.probe_clusters = boom
    try:
        out = IVF.search_batch(index, queries, k=2, nprobe=1)
        # aggregate-only check: k rows per query, no collect of rows
        n = out.groupBy().count().first()[0]
    finally:
        IVF.IVFIndex.probe_clusters = orig
    assert n == 200_000


# --- SQ8 scalar quantization ------------------------------------------------

def test_sq8_reconstruction_error_bounded(vec_df):
    """Quantization error per dimension is at most scale/2 + rounding."""
    from python_vectordbapp_ceph_spark.operators.sq import fit_sq8, sq8_encode

    params = fit_sq8(vec_df, "embedding", DIM)
    enc = sq8_encode(vec_df, params, "embedding").collect()
    for row in enc:
        for i, (x, c) in enumerate(zip(row.embedding, row.code)):
            assert 0 <= c <= 255
            recon = params.mins[i] + c * params.scales[i]
            assert abs(float(x) - recon) <= params.scales[i] / 2 + 1e-9


def test_sq8_search_recall_vs_brute_force(vec_df):
    """With a refine re-rank the SQ8 path should recover (nearly) the
    exact top-k; on this data the 8-bit grid is fine enough for full
    recall at refine_factor=4."""
    from python_vectordbapp_ceph_spark.operators.sq import (
        fit_sq8,
        sq8_encode,
        sq8_search,
    )

    params = fit_sq8(vec_df, "embedding", DIM)
    enc = sq8_encode(vec_df, params, "embedding")
    got = [r.vec_id for r in sq8_search(enc, vec_df, params, QUERY, K).collect()]
    expected = brute_topk(QUERY, K)
    assert len(set(got) & set(expected)) >= K - 1
    # re-ranked distances are exact — the returned order must agree
    # with brute force on the common prefix
    common = [g for g in got if g in expected]
    assert common == [e for e in expected if e in common]


def test_sq8_code_scan_prunes_vector_column(vec_df, tmp_path, spark):
    """Stage 1 of sq8_search reads only (id, code): after writing the
    encoded table to parquet, the candidate scan's ReadSchema must not
    include the float vector column."""
    from python_vectordbapp_ceph_spark.operators.sq import fit_sq8, sq8_encode
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    params = fit_sq8(vec_df, "embedding", DIM)
    path = str(tmp_path / "sq8")
    sq8_encode(vec_df, params, "embedding").write.parquet(path)
    enc = spark.read.parquet(path)

    from python_vectordbapp_ceph_spark.operators.sq import sq8_search

    plan = explain_str(sq8_search(enc, vec_df, params, QUERY, K), "formatted")
    blocks = [
        b for b in plan.split("\n\n")
        if "Scan parquet" in b and "sq8" in b and "ReadSchema" in b
    ]
    assert blocks, plan
    for b in blocks:
        schema_line = next(l for l in b.split("\n") if "ReadSchema" in l)
        assert "embedding" not in schema_line, b


# --- PQ product quantization ------------------------------------------------

def test_pq_codes_in_range_and_deterministic(vec_df):
    from python_vectordbapp_ceph_spark.operators.pq import fit_pq, pq_encode

    books = fit_pq(vec_df, "embedding", DIM, m=4, k=16)
    enc1 = {r.vec_id: list(r.pq_code) for r in pq_encode(vec_df, books, "embedding").collect()}
    enc2 = {r.vec_id: list(r.pq_code) for r in pq_encode(vec_df, books, "embedding").collect()}
    assert enc1 == enc2
    for codes in enc1.values():
        assert len(codes) == 4
        assert all(0 <= c < 16 for c in codes)


def test_pq_search_recall_vs_brute_force(vec_df):
    """PQ is lossier than SQ8; with an 8x refine re-rank it must still
    recover most of the exact top-k on this data."""
    from python_vectordbapp_ceph_spark.operators.pq import (
        fit_pq,
        pq_encode,
        pq_search,
    )

    books = fit_pq(vec_df, "embedding", DIM, m=4, k=16)
    enc = pq_encode(vec_df, books, "embedding")
    got = [r.vec_id for r in pq_search(enc, vec_df, books, QUERY, K).collect()]
    expected = brute_topk(QUERY, K)
    assert len(set(got) & set(expected)) >= int(K * 0.7)
    common = [g for g in got if g in expected]
    assert common == [e for e in expected if e in common]


def test_pq_adc_scan_stays_jvm_side(vec_df):
    """The ADC candidate stage must be pure Catalyst expressions —
    no Python UDF (BatchEvalPython/ArrowEvalPython) in the scan plan.
    The pandas encode UDF is upstream of the checkpointed codes and
    must not appear either once codes are materialized."""
    from python_vectordbapp_ceph_spark.operators.pq import (
        fit_pq,
        pq_encode,
        pq_search,
    )
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    books = fit_pq(vec_df, "embedding", DIM, m=4, k=16)
    enc = pq_encode(vec_df, books, "embedding").localCheckpoint()
    plan = explain_str(pq_search(enc, vec_df, books, QUERY, K), "simple")
    assert "EvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ivf_sq8_composed_search_recall(vec_df):
    """IVF pruning + SQ8 codes + exact re-rank: full-probe must equal
    exact brute force; pruned probe must keep most of the top-k."""
    from python_vectordbapp_ceph_spark.operators.ivf import build_ivf
    from python_vectordbapp_ceph_spark.operators.sq import (
        fit_sq8,
        ivf_sq8_search,
        sq8_encode,
    )

    index = build_ivf(vec_df, nlist=4)
    params = fit_sq8(vec_df, "embedding", DIM)
    index.assigned = sq8_encode(index.assigned, params, "embedding")

    full = [r.vec_id for r in ivf_sq8_search(index, params, QUERY, K, nprobe=4).collect()]
    assert full == brute_topk(QUERY, K)

    pruned = {r.vec_id for r in ivf_sq8_search(index, params, QUERY, K, nprobe=2).collect()}
    assert len(pruned & set(brute_topk(QUERY, K))) / K >= 0.6


def test_bq_encode_bits_match_thresholds(vec_df):
    """Each packed bit must equal (v[i] > mean[i])."""
    from python_vectordbapp_ceph_spark.operators.bq import bq_encode, fit_bq

    params = fit_bq(vec_df, "embedding", DIM)
    for row in bq_encode(vec_df, "embedding", params).collect():
        code = row.bq_code
        for i, x in enumerate(row.embedding):
            bit = (code[i // 64] >> (i % 64)) & 1
            assert bit == (1 if float(x) > params.means[i] else 0)


def test_bq_query_encoding_matches_spark_encoding(vec_df):
    """encode_query (driver-side) must agree with bq_encode (JVM-side)
    on identical input vectors."""
    from python_vectordbapp_ceph_spark.operators.bq import (
        bq_encode,
        encode_query,
        fit_bq,
    )

    params = fit_bq(vec_df, "embedding", DIM)
    enc = {r.vec_id: list(r.bq_code) for r in
           bq_encode(vec_df, "embedding", params).collect()}
    for q in (3, 7, 11):
        assert encode_query([float(x) for x in VECS[q]], params) == enc[q]


def test_bq_search_recall_vs_brute_force(vec_df):
    """1-bit codes are coarse; with refine_factor=8 the exact re-rank
    should recover most of the true top-k, and the ranked common
    prefix must agree with brute force."""
    from python_vectordbapp_ceph_spark.operators.bq import (
        bq_encode,
        bq_search,
        fit_bq,
    )

    params = fit_bq(vec_df, "embedding", DIM)
    enc = bq_encode(vec_df, "embedding", params)
    got = [
        r.vec_id
        for r in bq_search(enc, QUERY, params, k=K, refine_factor=8).collect()
    ]
    expected = brute_topk(QUERY, K)
    assert len(set(got) & set(expected)) >= K // 2
    common = [g for g in got if g in expected]
    assert common == [e for e in expected if e in common]


def test_bq_hamming_scan_is_jvm_only(vec_df):
    """The candidate stage (xor+popcount ordering) must contain no
    Python evaluation — pure codegen integer ops."""
    from python_vectordbapp_ceph_spark.operators.bq import (
        bq_encode,
        encode_query,
        fit_bq,
        hamming,
    )

    params = fit_bq(vec_df, "embedding", DIM)
    enc = bq_encode(vec_df, "embedding", params)
    qwords = encode_query(QUERY, params)
    cands = (
        enc.select("vec_id", "bq_code")
        .withColumn("_hd", hamming(F.col("bq_code"), qwords))
        .orderBy("_hd", "vec_id")
        .limit(K)
    )
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ivf_incremental_add_matches_rebuild_assignment(vec_df, spark):
    """assign_new must put each added vector in the cluster whose
    centroid is truly nearest (numpy argmin oracle) — the list the
    build's own kernel gives it — without touching centroids or
    existing assignments."""
    import numpy as np

    from python_vectordbapp_ceph_spark.operators.ivf import assign_new, ivf_add

    index = build_ivf(vec_df, nlist=4)
    before_centroids = [list(c) for c in index.centroids]
    new = spark.createDataFrame(
        [(1000 + i, RNG.uniform(-1, 1, size=DIM).astype(np.float32).tolist())
         for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    assigned = assign_new(index, new)
    got = {r.vec_id: r.cluster_id for r in assigned.collect()}
    cents = np.array(index.centroids)
    for r in new.collect():
        d2 = ((cents - np.array(r.embedding, dtype=np.float64)) ** 2).sum(axis=1)
        want = int(np.lexsort((np.arange(len(cents)), d2))[0])
        assert got[r.vec_id] == want, (r.vec_id, got[r.vec_id], want)
    # re-adding the build's own rows reproduces every build assignment
    built = {r.vec_id: r.cluster_id for r in index.assigned.collect()}
    readded = assign_new(index, vec_df).collect()
    assert {r.vec_id: r.cluster_id for r in readded} == built

    bigger = ivf_add(index, new)
    assert bigger.centroids == before_centroids
    assert bigger.assigned.count() == index.assigned.count() + 20
    # the extended index finds an added vector as its own nearest hit
    probe_vec = [float(x) for x in new.collect()[0].embedding]
    top = bigger.search(probe_vec, k=1, nprobe=4).collect()[0]
    assert top.vec_id == 1000


def test_assign_new_drops_unassignable_rows_keeps_duplicate_ids(
    vec_df, spark, caplog
):
    """NULL and wrong-dimension vectors have no nearest centroid: they
    are dropped with one logged count per kind, never dumped into
    cluster 0. Every other input row survives — a duplicate id
    delivered twice in one batch stays twice (at-least-once append) —
    and lands in its true nearest list."""
    import logging
    import math

    from python_vectordbapp_ceph_spark.operators.ivf import assign_new

    index = build_ivf(vec_df, nlist=4)
    good = [0.5] * DIM
    batch = spark.createDataFrame(
        [
            (100, good),
            (100, [-0.5] * DIM),       # duplicate id, different payload
            (101, None),               # null -> dropped
            (102, [1.0] * (DIM - 1)),  # dim DIM-1 -> dropped
            (103, [1.0] * (DIM + 1)),  # dim DIM+1 -> dropped
        ],
        "vec_id long, embedding array<float>",
    )
    with caplog.at_level(logging.WARNING, logger="python_vectordbapp_ceph_spark"):
        rows = assign_new(index, batch).collect()
    msgs = [r.getMessage() for r in caplog.records]
    assert any("dropping 1 row(s) with NULL" in m for m in msgs)
    assert any("dropping 2 row(s) whose embedding dimension" in m for m in msgs)
    assert sorted(r.vec_id for r in rows) == [100, 100]
    for r in rows:
        want = min(
            range(len(index.centroids)),
            key=lambda c: (math.dist(r.embedding, index.centroids[c]), c),
        )
        assert r.cluster_id == want


def test_ivf_append_partitioned_only_touches_batch_clusters(vec_df, spark, tmp_path):
    """On-disk incremental add: append-mode partitionBy writes only the
    clusters the batch lands in; other cluster dirs keep their exact
    file lists."""
    import os

    import numpy as np

    from python_vectordbapp_ceph_spark.operators.ivf import (
        assign_new,
        build_ivf,
        write_partitioned,
    )

    index = build_ivf(vec_df, nlist=4)
    path = str(tmp_path / "ivf")
    write_partitioned(index, path)

    def files_per_cluster():
        out = {}
        for d in os.listdir(path):
            if d.startswith("cluster_id="):
                out[d] = sorted(os.listdir(os.path.join(path, d)))
        return out

    before = files_per_cluster()
    # a batch aimed at ONE centroid: tiny perturbations of centroid 0
    target = np.array(index.centroids[0])
    new = spark.createDataFrame(
        [(2000 + i, (target + 1e-4 * i).astype(np.float32).tolist())
         for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    assigned = assign_new(index, new)
    clusters = {r.cluster_id for r in assigned.select("cluster_id").distinct().collect()}
    assert clusters == {0}

    from python_vectordbapp_ceph_spark.operators.ivf import append_partitioned

    append_partitioned(assigned, path)
    after = files_per_cluster()
    for d in before:
        if d == "cluster_id=0":
            assert set(before[d]) < set(after[d]), "batch files should append"
        else:
            assert before[d] == after[d], f"{d} rewritten by incremental add"
    # read-back sees old + new rows through the same layout
    back = spark.read.parquet(path)
    assert back.count() == N + 5


def test_streaming_ivf_ingest_end_to_end(vec_df, spark, tmp_path):
    """Stream of vector batches → foreachBatch IVF assign + append:
    all streamed rows land in the partitioned layout in their nearest
    cluster, and a probe over the re-read index finds a planted
    vector. Second drain from the same checkpoint processes nothing
    new (exactly-once offsets)."""
    import numpy as np

    from python_vectordbapp_ceph_spark.operators.ivf import (
        IVFIndex,
        build_ivf,
        write_partitioned,
    )
    from python_vectordbapp_ceph_spark.streaming.ivf_ingest import stream_into_ivf

    index = build_ivf(vec_df, nlist=4)
    path = str(tmp_path / "ivf")
    write_partitioned(index, path)

    # file-based stream: two JSON batches of new vectors, one equal to
    # a centroid (the planted probe target)
    src = tmp_path / "src"
    src.mkdir()
    planted = [float(x) for x in index.centroids[1]]
    batch1 = [(3000 + i, RNG.uniform(-1, 1, size=DIM).tolist()) for i in range(8)]
    batch2 = [(4000, planted)]
    import json

    (src / "b1.json").write_text(
        "\n".join(json.dumps({"vec_id": i, "embedding": v}) for i, v in batch1)
    )
    (src / "b2.json").write_text(
        "\n".join(json.dumps({"vec_id": i, "embedding": v}) for i, v in batch2)
    )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .json(str(src))
    )
    q = stream_into_ivf(stream, index, path, str(tmp_path / "ck"))
    q.awaitTermination(120)

    back = spark.read.parquet(path)
    assert back.count() == N + 9
    rows = {r.vec_id: r.cluster_id for r in back.filter("vec_id >= 3000").collect()}
    assert len(rows) == 9
    cents = np.array(index.centroids)
    assert rows[4000] == 1  # the planted centroid copy lands in its own list

    # probe through a fresh index view over the on-disk layout
    reopened = IVFIndex(
        assigned=back, centroids=index.centroids,
        vec_col="embedding", id_col="vec_id",
    )
    top = reopened.search(planted, k=1, nprobe=1).collect()[0]
    assert top.vec_id == 4000 and top.distance == 0.0

    # replay from the same checkpoint: no new rows
    q2 = stream_into_ivf(stream, index, path, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    assert spark.read.parquet(path).count() == N + 9


def test_rebuild_ivf_refits_drifted_index(vec_df, spark, tmp_path):
    """Incremental adds drift away from the original quantizer; a
    rebuild refits on the CURRENT data, reassigns every row exactly
    once, swaps the layout atomically, and restores nprobe=1 recall
    for the drifted region."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        IVFIndex,
        append_partitioned,
        assign_new,
        build_ivf,
        rebuild_ivf,
        write_partitioned,
    )

    index = build_ivf(vec_df, nlist=2)
    path = str(tmp_path / "ivf")
    write_partitioned(index, path)

    # a far-away blob the original 2 centroids know nothing about
    far = np.float32(10.0) + RNG.uniform(-0.1, 0.1, size=(20, DIM)).astype(
        np.float32
    )
    far_df = spark.createDataFrame(
        [(5000 + i, far[i].tolist()) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    append_partitioned(assign_new(index, far_df), path)

    rebuilt = rebuild_ivf(spark, path, nlist=3)
    back = spark.read.parquet(path)
    assert back.count() == N + 20
    assert back.select("vec_id").distinct().count() == N + 20

    # with k=3 on (2 original blobs + planted far blob), the far blob
    # gets a cluster of its own — no original vector shares it
    far_clusters = {
        r.cluster_id for r in back.filter("vec_id >= 5000").collect()
    }
    assert len(far_clusters) == 1
    orig_clusters = {
        r.cluster_id for r in back.filter("vec_id < 5000").collect()
    }
    assert far_clusters.isdisjoint(orig_clusters)

    # nprobe=1 probe for a drifted vector now lands in its own list
    top = rebuilt.search([float(x) for x in far[0]], k=1, nprobe=1).collect()[0]
    assert top.vec_id == 5000

    # swap left no scratch dirs behind
    assert not (tmp_path / "ivf._rebuild").exists()
    assert not (tmp_path / "ivf._old").exists()


def test_mmr_prefers_diverse_over_near_duplicate(spark):
    """λ=0.5: after picking the best match, its near-duplicate (cos≈1
    to the selected) scores below a slightly-less-relevant but
    orthogonal candidate — the diversity property MMR exists for."""
    from python_vectordbapp_ceph_spark.operators.knn import mmr_topk

    # q at 15°: candidate 1 (0°) is most relevant; 2 (-5.7°) is its
    # near-duplicate (cos(1,2)≈0.995 > its relevance 0.935); 3 (60°)
    # is less relevant but diverse (cos(1,3)=0.5)
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.995, -0.0997]),
        (3, [0.5, 0.866]),
        (4, [-1.0, 0.0]),
    ]
    q = [0.9659, 0.2588]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = mmr_topk(df, q, k=2, fetch_k=4, lambda_=0.5)
    picked = [r.vec_id for r in got.orderBy("mmr_rank").collect()]
    assert picked == [1, 3]

    # λ=1 degenerates to pure relevance: the near-dup wins again
    got = mmr_topk(df, q, k=2, fetch_k=4, lambda_=1.0)
    picked = [r.vec_id for r in got.orderBy("mmr_rank").collect()]
    assert picked == [1, 2]

    # empty input → empty result with the contract schema
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = mmr_topk(empty, [1.0, 0.0], k=2)
    assert out.count() == 0 and "mmr_rank" in out.columns


def test_mmr_string_id_column(spark):
    """MMR output id type follows the input schema (collection keys
    are strings)."""
    from python_vectordbapp_ceph_spark.operators.knn import mmr_topk

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "key string, embedding array<float>",
    )
    out = mmr_topk(df, [1.0, 0.0], k=2, fetch_k=2, id_col="key")
    assert dict(out.dtypes)["key"] == "string"
    assert [r.key for r in out.orderBy("mmr_rank").collect()] == ["a", "b"]


def test_ivf_save_load_roundtrip_and_pruning(vec_df, tmp_path, spark):
    """save_ivf/load_ivf: a reconstructed index returns EXACTLY the
    in-session index's results (same centroids, same assignment, same
    probe order), and its probe scan prunes at the file-listing level
    — only the probed clusters' files enter the plan. This is the
    Milvus-style index durability the reference delegates to its
    backend: no KMeans refit on restart."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        build_ivf,
        load_ivf,
        save_ivf,
    )

    index = build_ivf(vec_df, nlist=4)
    path = str(tmp_path / "ivf_full")
    save_ivf(index, path)
    loaded = load_ivf(spark, path)

    assert loaded.centroids == [
        [float(x) for x in c] for c in index.centroids
    ]
    assert (loaded.vec_col, loaded.id_col) == (index.vec_col, index.id_col)
    want = [
        (r.vec_id, r.cluster_id, r.distance)
        for r in index.search(QUERY, k=K, nprobe=2).collect()
    ]
    got = [
        (r.vec_id, r.cluster_id, r.distance)
        for r in loaded.search(QUERY, k=K, nprobe=2).collect()
    ]
    assert got == want

    # partition pruning: the probed plan carries PartitionFilters on
    # cluster_id (file-listing-level pruning over the partitioned
    # layout) and reads a strict subset of the rows
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    probes = set(loaded.probe_clusters(QUERY, 2))
    probed = loaded.assigned.filter(F.col("cluster_id").isin(list(probes)))
    plan = explain_str(probed)
    assert "PartitionFilters" in plan and "cluster_id" in plan
    assert probed.count() < loaded.assigned.count()


def test_collection_index_save_load_across_sessions(spark, tmp_path):
    """VectorCollection.save_index/load_index: a second collection
    handle (the 'new session') serves approx searches from the saved
    index without create_index, matching the builder's results."""
    from python_vectordbapp_ceph_spark.collection import VectorCollection
    from python_vectordbapp_ceph_spark.embed import stub_text_embedding

    cpath = str(tmp_path / "coll")
    coll = VectorCollection(
        spark=spark, path=cpath, dim=384, name="b1"
    ).ensure_exists()
    rows = spark.createDataFrame(
        [(f"k{i}", f"u{i}", stub_text_embedding(f"text {i}"), None, None, None)
         for i in range(12)],
        "key string, url string, embedding array<float>, "
        "tags map<string,string>, props map<string,string>, ingest_ts timestamp",
    )
    coll.upsert(rows)
    coll.create_index(nlist=3, nprobe=3)
    ipath = str(tmp_path / "idx")
    coll.save_index(ipath)
    q = stub_text_embedding("text 7")
    want = [(r.key, r.distance) for r in coll.search(q, k=2, approx=True).collect()]

    fresh = VectorCollection(spark=spark, path=cpath, dim=384, name="b1")
    assert fresh.list_indexes() == []
    fresh.load_index(ipath, nprobe=3)
    assert fresh.list_indexes() == ["b1_ivf"]
    assert fresh.describe_index()["nlist"] == 3
    got = [(r.key, r.distance) for r in fresh.search(q, k=2, approx=True).collect()]
    assert got == want and got[0][0] == "k7"


def test_persisted_ivf_composes_with_streaming_maintenance(
    vec_df, tmp_path, spark
):
    """save_ivf -> stream_into_ivf(<path>/assigned) -> load_ivf: the
    persisted index IS the live index. A fresh load after the stream
    drains sees the streamed vectors in the right inverted lists with
    the original centroids (no refit), and a probe targeting a
    streamed vector finds it at distance 0."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        build_ivf,
        load_ivf,
        save_ivf,
    )
    from python_vectordbapp_ceph_spark.streaming.ivf_ingest import (
        stream_into_ivf,
    )

    index = build_ivf(vec_df, nlist=4)
    path = str(tmp_path / "ivf")
    save_ivf(index, path)
    n0 = load_ivf(spark, path).assigned.count()

    # stream two new vectors: one exactly on a centroid's territory
    probe_vec = [float(x) for x in index.centroids[0]]
    new = spark.createDataFrame(
        [(9001, probe_vec), (9002, [v + 0.01 for v in probe_vec])],
        "vec_id long, embedding array<float>",
    )
    src = str(tmp_path / "src")
    new.coalesce(1).write.parquet(src)
    q = stream_into_ivf(
        spark.readStream.schema(new.schema).parquet(src),
        index,
        f"{path}/assigned",
        str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)

    spark.catalog.refreshByPath(f"{path}/assigned")
    loaded = load_ivf(spark, path)
    assert loaded.assigned.count() == n0 + 2
    assert loaded.centroids == [
        [float(x) for x in c] for c in index.centroids
    ], "no refit: the _meta sidecar stays valid across streamed appends"
    hits = loaded.search(probe_vec, k=2, nprobe=1).collect()
    assert hits[0].vec_id == 9001 and hits[0].distance == 0.0


def test_rebuild_saved_ivf_refreshes_centroids_and_sidecar(
    vec_df, tmp_path, spark
):
    """After streamed drift-y appends, rebuild_saved_ivf refits AND
    rewrites the _meta sidecar — a subsequent load_ivf searches the
    NEW lists with the NEW centroids (full-probe equals brute force
    over the grown corpus), where a bare rebuild_ivf would have left
    stale centroids ranking probes against reassigned cluster ids."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        build_ivf,
        load_ivf,
        rebuild_saved_ivf,
        save_ivf,
    )
    from python_vectordbapp_ceph_spark.operators.knn import knn_topk

    index = build_ivf(vec_df, nlist=4)
    root = str(tmp_path / "ivf")
    save_ivf(index, root)

    # append a shifted cloud the original centroids never saw
    extra = spark.createDataFrame(
        [(1000 + i, [float(5 + (i % 3)), *([5.0] * (DIM - 1))])
         for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    from python_vectordbapp_ceph_spark.operators.ivf import (
        append_partitioned,
        assign_new,
    )

    append_partitioned(assign_new(index, extra), f"{root}/assigned")
    spark.catalog.refreshByPath(f"{root}/assigned")

    rebuilt = rebuild_saved_ivf(spark, root, nlist=4)
    loaded = load_ivf(spark, root)
    assert loaded.centroids == [
        [float(x) for x in c] for c in rebuilt.centroids
    ], "sidecar carries the refit centroids"

    # full probe over the loaded, rebuilt index == exact brute force
    # over the grown corpus (including the appended cloud)
    base = spark.read.parquet(f"{root}/assigned").drop("cluster_id")
    probe = [5.0] * DIM
    want = [r.vec_id for r in knn_topk(base, probe, 5).collect()]
    got = [r.vec_id for r in loaded.search(probe, k=5, nprobe=4).collect()]
    assert got == want and all(v >= 1000 for v in got)


def test_load_ivf_missing_path_raises_file_not_found(spark, tmp_path):
    """A missing index directory (or one without a sidecar) must raise
    the intended FileNotFoundError, not a raw AnalysisException from
    the parquet reader — callers branch on 'no index' (ADVICE r9)."""
    from python_vectordbapp_ceph_spark.operators.ivf import load_ivf

    with pytest.raises(FileNotFoundError):
        load_ivf(spark, str(tmp_path / "never_saved"))
    # directory exists but holds no sidecar → same intended error
    (tmp_path / "half").mkdir()
    with pytest.raises(FileNotFoundError):
        load_ivf(spark, str(tmp_path / "half"))


def test_rebuild_saved_ivf_defaults_to_saved_geometry(vec_df, tmp_path, spark):
    """A default-arg rebuild must keep the SAVED index's nlist (read
    from the sidecar), not silently reset the geometry to a constant —
    and after the rebuild the sidecar lives INSIDE the swapped assigned
    directory (one visibility point: a reader sees old data + old
    centroids or new + new, never mixed), with no stale legacy sibling
    left behind."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        build_ivf,
        load_ivf,
        rebuild_saved_ivf,
        save_ivf,
    )

    index = build_ivf(vec_df, nlist=6)
    root = str(tmp_path / "ivf6")
    save_ivf(index, root)

    rebuilt = rebuild_saved_ivf(spark, root)  # no nlist argument
    assert len(rebuilt.centroids) == 6, "geometry preserved by default"
    loaded = load_ivf(spark, root)
    assert len(loaded.centroids) == 6
    assert (tmp_path / "ivf6" / "assigned" / "_meta").exists()
    assert not (tmp_path / "ivf6" / "_meta").exists()
    # the sidecar is metadata, not data: scans of the assigned layout
    # must not see it as rows or a partition
    assert "cluster_id" in dict(loaded.assigned.dtypes)
    assert loaded.assigned.count() == N


def test_load_ivf_reads_legacy_sibling_sidecar(vec_df, tmp_path, spark):
    """Indexes saved by the pre-r10 layout (sidecar at root/_meta,
    beside — not inside — assigned) must keep loading unchanged."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        _write_meta,
        build_ivf,
        load_ivf,
        write_partitioned,
    )

    index = build_ivf(vec_df, nlist=4)
    root = str(tmp_path / "legacy")
    write_partitioned(index, f"{root}/assigned")
    _write_meta(vec_df.sparkSession, index, f"{root}/_meta")  # old spot

    loaded = load_ivf(spark, root)
    assert loaded.centroids == [[float(x) for x in c] for c in index.centroids]
    want = [r.vec_id for r in index.search(QUERY, k=K, nprobe=2).collect()]
    got = [r.vec_id for r in loaded.search(QUERY, k=K, nprobe=2).collect()]
    assert got == want


def test_rebuild_ivf_reads_columns_and_geometry_from_sidecar(spark, tmp_path):
    """A default-arg rebuild_ivf on a saved layout takes vec_col,
    id_col and nlist from the layout's _meta sidecar (read under the
    lease) and stages a fresh sidecar with the data."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        load_ivf,
        rebuild_ivf,
        save_ivf,
    )

    df = spark.createDataFrame(
        [(f"k{i}", VECS[i].tolist()) for i in range(N)],
        "key string, vec array<float>",
    )
    root = str(tmp_path / "ivf")
    save_ivf(build_ivf(df, nlist=5, vec_col="vec", id_col="key"), root)
    rebuilt = rebuild_ivf(spark, f"{root}/assigned")
    assert (rebuilt.vec_col, rebuilt.id_col) == ("vec", "key")
    assert len(rebuilt.centroids) == 5
    loaded = load_ivf(spark, root)
    assert loaded.centroids == rebuilt.centroids
    assert loaded.assigned.count() == N


def test_rebuild_saved_ivf_moves_legacy_sidecar_inside(vec_df, tmp_path, spark):
    """A pre-r10 layout (sidecar beside ``assigned``) rebuilds with its
    saved geometry; afterwards the sidecar lives inside ``assigned``
    and the stale sibling is gone."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        _write_meta,
        load_ivf,
        rebuild_saved_ivf,
        write_partitioned,
    )

    index = build_ivf(vec_df, nlist=3)
    root = str(tmp_path / "legacy")
    write_partitioned(index, f"{root}/assigned")
    _write_meta(spark, index, f"{root}/_meta")
    rebuilt = rebuild_saved_ivf(spark, root)
    assert len(rebuilt.centroids) == 3
    assert (tmp_path / "legacy" / "assigned" / "_meta").exists()
    assert not (tmp_path / "legacy" / "_meta").exists()
    assert load_ivf(spark, root).centroids == rebuilt.centroids


def _interrupt_swap(root):
    """The crash window of a rebuild: live layout renamed aside, new
    layout never arrived."""
    import os

    os.rename(f"{root}/assigned", f"{root}/assigned._old")


def test_load_ivf_does_not_heal_under_live_writer(vec_df, spark, tmp_path):
    """Live writer mid-swap (lease held): the reader must NOT rename
    the old layout back — it raises with the recovery hint and leaves
    the layout exactly as found, so the writer's tmp->path rename
    cannot nest into a reader-restored directory."""
    import os

    from python_vectordbapp_ceph_spark.operators.ivf import load_ivf, save_ivf
    from python_vectordbapp_ceph_spark.operators.lease import (
        acquire_writer_lease,
        sibling_lease_path,
    )

    root = str(tmp_path / "idx")
    save_ivf(build_ivf(vec_df, nlist=4), root)
    assigned = f"{root}/assigned"
    writer = acquire_writer_lease(
        spark, assigned, lease_path=sibling_lease_path(assigned), timeout_ms=0,
    )
    try:
        _interrupt_swap(root)
        with pytest.raises(IOError, match="mid-swap"):
            load_ivf(spark, root)
        assert not os.path.exists(assigned)          # untouched
        assert os.path.exists(assigned + "._old")    # untouched
        # the writer completes its swap unimpeded; the next load works
        os.rename(assigned + "._old", assigned)
    finally:
        writer.release()
    assert load_ivf(spark, root).assigned.count() == N


def test_load_ivf_waits_out_a_completing_swap(vec_df, spark, tmp_path):
    """A reader that lands in the (milliseconds-wide) swap window of a
    writer that then FINISHES must succeed via the poll, not raise."""
    import os
    import threading
    import time

    from python_vectordbapp_ceph_spark.operators.ivf import load_ivf, save_ivf
    from python_vectordbapp_ceph_spark.operators.lease import (
        acquire_writer_lease,
        sibling_lease_path,
    )

    root = str(tmp_path / "idx")
    save_ivf(build_ivf(vec_df, nlist=4), root)
    assigned = f"{root}/assigned"
    writer = acquire_writer_lease(
        spark, assigned, lease_path=sibling_lease_path(assigned), timeout_ms=0,
    )
    _interrupt_swap(root)

    def _finish_swap():
        time.sleep(0.5)
        os.rename(assigned + "._old", assigned)
        writer.release()

    t = threading.Thread(target=_finish_swap)
    t.start()
    try:
        assert load_ivf(spark, root).assigned.count() == N
    finally:
        t.join()


def test_persisted_ivf_batch_probe_prunes_partitions(vec_df, tmp_path, spark):
    """search_batch over a LOADED index must prune the scan to the
    UNION of the probed clusters — PartitionFilters at the file
    listing, strictly fewer rows read than the full layout — and
    return exactly the in-session index's results (VERDICT r9 ask #4:
    the single-query probe was plan-pinned on the persisted layout,
    the batch path wasn't)."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        build_ivf,
        load_ivf,
        save_ivf,
        search_batch,
    )
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    index = build_ivf(vec_df, nlist=4)
    root = str(tmp_path / "ivfb")
    save_ivf(index, root)
    loaded = load_ivf(spark, root)

    queries = spark.createDataFrame(
        [(i, VECS[i * 3].tolist()) for i in range(4)],
        "q_id long, q_embedding array<float>",
    )
    got_df = search_batch(loaded, queries, k=5, nprobe=2)
    plan = explain_str(got_df)
    # a REAL partition filter (the probed-cluster IN list), not the
    # vacuous `PartitionFilters: [isnotnull(...)]` every scan carries
    import re

    assert re.search(
        r"PartitionFilters: \[[^\]]*cluster_id[^\]]*\bIN\b", plan
    ), plan

    # the probed union is a strict subset of the files/rows
    probed = {
        cid
        for i in range(4)
        for cid in loaded.probe_clusters(
            [float(x) for x in VECS[i * 3]], 2
        )
    }
    if len(probed) < 4:  # only meaningful when some cluster escapes
        pruned_rows = loaded.assigned.filter(
            F.col("cluster_id").isin(list(probed))
        ).count()
        assert pruned_rows < loaded.assigned.count()

    want = sorted(
        [(r.q_id, r.vec_id, r.distance)
         for r in search_batch(index, queries, k=5, nprobe=2).collect()]
    )
    got = sorted([(r.q_id, r.vec_id, r.distance) for r in got_df.collect()])
    assert got == want


def _old_topk(df, qvec, k, cols, id_col="vec_id"):
    """The per-element literal form searches used before vector_literal."""
    from python_vectordbapp_ceph_spark.functions import vector as V

    qlit = F.array(*[F.lit(float(x)) for x in qvec]).cast("array<double>")
    return (
        df.withColumn("distance", F.round(V.l2_distance(F.col("embedding"), qlit), 6))
        .select(*cols, "distance")
        .orderBy(F.col("distance").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def _plan_classes(jplan) -> list:
    """(class name, dataType) of every node and expression in a plan."""
    import json

    out = []

    def walk(o):
        if isinstance(o, dict):
            if "class" in o:
                out.append((o["class"].rsplit(".", 1)[-1], o.get("dataType")))
            for v in o.values():
                walk(v)
        elif isinstance(o, list):
            for v in o:
                walk(v)

    walk(json.loads(jplan.toJSON()))
    return out


@pytest.mark.parametrize("kind", ["exact", "ivf"])
def test_search_plans_one_array_literal(vec_df, kind):
    """The query vector reaches Catalyst as ONE array<double> literal:
    no dim-child CreateArray to build or analyze, and one literal in
    the optimized plan."""
    if kind == "exact":
        out = knn_topk(vec_df, QUERY, K)
    else:
        out = build_ivf(vec_df, nlist=4).search(QUERY, K, nprobe=2)
    qe = out._jdf.queryExecution()
    assert not [c for c, _ in _plan_classes(qe.analyzed()) if c == "CreateArray"]
    opt = _plan_classes(qe.optimizedPlan())
    assert not [c for c, _ in opt if c == "CreateArray"]
    arrays = [t for c, t in opt if c == "Literal" and isinstance(t, dict)]
    assert arrays == [{"type": "array", "elementType": "double", "containsNull": True}]


def test_search_results_bit_identical_to_per_element_literal(vec_df):
    """Exact, filtered and IVF top-10 keys and distances equal, bit for
    bit, the per-element literal expression they replaced."""
    rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731
    filtered = vec_df.filter(F.col("vec_id") % 3 == 0)
    index = build_ivf(vec_df, nlist=4)
    for qi in range(3):
        q = RNG.uniform(-1, 1, size=DIM).tolist()
        assert rows(knn_topk(vec_df, q, K)) == rows(_old_topk(vec_df, q, K, ["vec_id"]))
        assert rows(knn_topk(filtered, q, K)) == rows(
            _old_topk(filtered, q, K, ["vec_id"])
        )
        cand = index.assigned.filter(
            F.col("cluster_id").isin(index.probe_clusters(q, 2))
        )
        assert rows(index.search(q, K, nprobe=2)) == rows(
            _old_topk(cand, q, K, ["vec_id", "cluster_id"])
        )


@pytest.mark.parametrize(
    "qvec", [[0.1] * (DIM - 1), [0.1] * (DIM + 1), [0.1] * (DIM - 1) + [float("nan")]]
)
def test_ivf_search_rejects_bad_query_vector(vec_df, qvec):
    index = build_ivf(vec_df, nlist=4)
    with pytest.raises(ValueError, match="query vector"):
        index.search(qvec, K, nprobe=2)


def test_ivf_dim_probe_null_safe_without_ansi(spark):
    """With ANSI off size(NULL) is -1, not NULL: the dim probe must
    skip a NULL vector rather than report a -1-dimensional input."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        rows = [(0, None)] + [(i, VECS[i].tolist()) for i in range(1, 20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        index = build_ivf(df.coalesce(1), nlist=2)
        assert len(index.centroids[0]) == DIM
        all_null = spark.createDataFrame(
            [(0, None), (1, None)], "vec_id long, embedding array<float>"
        )
        with pytest.raises(ValueError, match="every embedding is NULL"):
            build_ivf(all_null, nlist=2)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


# --- interrupted IVF swap: load_ivf heals it under the writer lease ---


def _swap_vec_df(spark, n=40, dim=4):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _interrupt_assigned_swap(spark, assigned: str) -> None:
    """Recreate the crash window: live path renamed aside, new layout
    never arrived."""
    from python_vectordbapp_ceph_spark.operators.merge import _fs

    fs, hpath = _fs(spark, assigned)
    assert fs.rename(hpath(assigned), hpath(assigned + "._old"))


def test_load_ivf_recovers_interrupted_swap(spark, tmp_path):
    import os

    from python_vectordbapp_ceph_spark.operators.ivf import (
        build_ivf,
        load_ivf,
        save_ivf,
    )

    base = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    root = str(tmp_path / "ivf")
    save_ivf(build_ivf(base, nlist=2), root)
    # crash shape: rebuild renamed the live dir aside and died before
    # renaming the new layout in
    os.rename(f"{root}/assigned", f"{root}/assigned._old")
    idx = load_ivf(spark, root)   # heals via lease.recover_swap
    assert idx.assigned.count() == 20
    assert os.path.isdir(f"{root}/assigned")
    assert not os.path.exists(f"{root}/assigned._old")


def test_load_ivf_heals_interrupted_swap_when_no_writer(spark, tmp_path):
    """Crashed writer, lease free: load_ivf recovers under the lease
    and returns a working index."""
    from python_vectordbapp_ceph_spark.operators import ivf as IVF
    from python_vectordbapp_ceph_spark.operators import lease as L

    root = str(tmp_path / "idx")
    IVF.save_ivf(IVF.build_ivf(_swap_vec_df(spark), nlist=4), root)
    _interrupt_assigned_swap(spark, f"{root}/assigned")
    idx = IVF.load_ivf(spark, root)
    assert idx.assigned.count() == 40
    hits = idx.search([0.0, 3.0, 6.0, 9.0], k=3, nprobe=4).collect()
    assert len(hits) == 3
    # the lease was released by the recovery — a writer can acquire
    lease = L.acquire_writer_lease(
        spark, f"{root}/assigned",
        lease_path=L.sibling_lease_path(f"{root}/assigned"), timeout_ms=0,
    )
    lease.release()
