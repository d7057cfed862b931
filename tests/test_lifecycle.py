"""The FULL corpus-refresh lifecycle as ONE composed test (r10 verdict
ask #4): streaming ingest → bloom-dedup ledger append → in-line
compaction + retention vacuum → durable IVF build → incremental
streaming IVF add → persisted-layout search — the pieces each have
their own tests; this is the composition a production deployment
actually runs, at sfx10 volume (10 key-shifted copies of sf0.1:
50k documents, 20k embeddings).

Reference anchor: this is the reference's whole ingest-then-search
story (s3vectors-app/pythonvectordbceph.py:121-212 event ingest +
search.py:49-58 query path) run as one pipeline against the Spark
rebuild's durable layouts.
"""

import json
import os
import re
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.operators.ivf import (
    build_ivf,
    load_ivf,
    save_ivf,
    search_batch,
)
from python_vectordbapp_ceph_spark.operators.shards import read_ledger
from python_vectordbapp_ceph_spark.plans.inspect import explain_str
from python_vectordbapp_ceph_spark.streaming.ivf_ingest import stream_into_ivf
from python_vectordbapp_ceph_spark.streaming.shard_ingest import stream_append
from tests.test_lease import wait_released

SFX10 = "/tmp/sfx10"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def sfx10_dir():
    """Materialize the sfx10 scale point once if absent (~3 min; the
    round driver and bench tooling build the same directory)."""
    if not os.path.isdir(os.path.join(SFX10, "documents.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "make_sf1.py")],
            check=True, capture_output=True, timeout=1800,
        )
    return SFX10


def _count_parquet(root):
    return sum(
        len([f for f in files if f.endswith(".parquet")])
        for r, _, files in os.walk(root)
        if "_commits" not in r and "ckpt" not in r
    )


@pytest.mark.slow
def test_corpus_refresh_lifecycle_sfx10(spark, sfx10_dir, tmp_path):
    t0 = time.time()

    # ---- phase 1: the corpus refresh streams into the shard ledger --
    # 13 drop files (~3.8k docs each); every 5th is a FULL re-delivery
    # of the previous drop, so the bloom+zonemap dedup gate does real
    # work while the lease, compaction, and graced vacuum are all live
    docs = (
        spark.read.parquet(f"{sfx10_dir}/documents.parquet")
        .select(
            "doc_id",
            F.greatest(
                (F.col("n_chars").cast("bigint") / F.lit(4)).cast("bigint"),
                F.lit(1),
            ).alias("n_tokens"),
        )
    )
    n_docs = docs.count()
    n_files = 13
    src = str(tmp_path / "src")
    from pyspark.sql import Window

    per = n_docs // n_files + 1
    ordered = docs.withColumn(
        "_f",
        ((F.row_number().over(Window.orderBy("doc_id")) - 1) / per)
        .cast("int"),
    )
    for i in range(n_files):
        ordered.filter(F.col("_f") == i).drop("_f").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        if i % 5 == 3:  # full re-delivery of the previous drop
            ordered.filter(F.col("_f") == i - 1).drop("_f").coalesce(1) \
                .write.mode("append").parquet(src)

    led = str(tmp_path / "led")
    q = stream_append(
        spark.readStream.schema("doc_id long, n_tokens long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        led,
        str(tmp_path / "ckpt_led"),
        budget=100_000,
        max_segments=4,
        vacuum_keep=2,
        dedup=True,
    )
    assert q.awaitTermination(600), "ledger stream did not drain"
    spark.catalog.refreshByPath(led)
    t_ledger = time.time()

    rows = read_ledger(spark, led)
    assert rows.count() == n_docs, "every doc exactly once (dedup ate redeliveries)"
    assert rows.select("doc_id").distinct().count() == n_docs
    # one coherent token sequence across every append + compaction
    seq = rows.select("n_tokens", "cum").orderBy("cum").collect()
    prev = 0
    for r in seq:
        assert r.cum == prev + r.n_tokens, "token sequence tore"
        prev = r.cum
    # bounded-by-policy layout + the lease released after termination
    n_commits = len([n for n in os.listdir(os.path.join(led, "_commits"))
                     if n.endswith(".json")])
    assert n_commits <= 2
    wait_released(os.path.join(led, "_commits", "_writer.lease"))
    ledger_files = _count_parquet(led)
    assert ledger_files <= 40, f"ledger file count unbounded: {ledger_files}"

    # ---- phase 2: durable IVF build + incremental streaming add -----
    embs = spark.read.parquet(f"{sfx10_dir}/embeddings.parquet")
    n_vecs = embs.count()
    base = embs.filter(F.pmod(F.col("vec_id"), F.lit(4)) != 3)
    fresh = embs.filter(F.pmod(F.col("vec_id"), F.lit(4)) == 3)
    idx_root = str(tmp_path / "ivf")
    save_ivf(build_ivf(base, nlist=32), idx_root)
    t_built = time.time()

    vec_src = str(tmp_path / "vec_src")
    fresh.coalesce(2).write.parquet(vec_src)
    loaded = load_ivf(spark, idx_root)
    q2 = stream_into_ivf(
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        ).option("maxFilesPerTrigger", 1).parquet(vec_src),
        loaded,
        f"{idx_root}/assigned",
        str(tmp_path / "ckpt_ivf"),
    )
    assert q2.awaitTermination(600), "IVF maintenance stream did not drain"
    spark.catalog.refreshByPath(f"{idx_root}/assigned")
    t_added = time.time()

    # the persisted index IS the live index: a fresh load sees the
    # streamed adds with the same centroids
    final = load_ivf(spark, idx_root)
    assert final.assigned.count() == n_vecs

    # ---- phase 3: search the persisted layout ------------------------
    # 6 probe queries: half from the base build, half streamed in —
    # each must find ITSELF at distance 0 (the reference's
    # upsert-then-search contract), and the probed plan must prune
    # partitions with a real IN filter
    qrows = (
        embs.filter(F.col("vec_id").isin([1, 2, 5, 3, 7, 11]))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_embedding"),
        )
    )
    pruned = search_batch(final, qrows, k=10, nprobe=8)
    plan = explain_str(pruned)
    assert re.search(
        r"PartitionFilters: \[[^\]]*cluster_id[^\]]*\bIN\b", plan
    ), "probe did not prune partitions"
    got = pruned.collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    for qid, hits in by_q.items():
        best = min(hits, key=lambda r: (r.distance, r.vec_id))
        assert best.vec_id == qid and best.distance == 0.0

    # pruned-probe recall vs the full-probe (exact-over-layout) answer
    exact = search_batch(final, qrows, k=10, nprobe=32).collect()
    exact_by_q = {}
    for r in exact:
        exact_by_q.setdefault(r.q_id, set()).add(r.vec_id)
    recalls = [
        len({h.vec_id for h in hits} & exact_by_q[qid]) / 10
        for qid, hits in by_q.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls

    # ---- evidence row (tools/plans_appendix.md) ----------------------
    print("LIFECYCLE_SFX10 " + json.dumps({
        "docs": n_docs,
        "vecs": n_vecs,
        "wall_ledger_sec": round(t_ledger - t0, 1),
        "wall_ivf_build_sec": round(t_built - t_ledger, 1),
        "wall_ivf_add_sec": round(t_added - t_built, 1),
        "wall_total_sec": round(time.time() - t0, 1),
        "ledger_parquet_files": ledger_files,
        "ivf_parquet_files": _count_parquet(idx_root),
        "ledger_commits": n_commits,
    }))
