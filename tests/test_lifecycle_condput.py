"""The corpus-refresh lifecycle with the publish/lease machinery
FORCED onto the conditional-put protocol end-to-end — the proof that
the S3 migration (operators/publish.py + the epoch lease) is a
selection change, not a protocol change, for the WHOLE production
story and not just the unit surfaces: streaming ingest → bloom-dedup
ledger append (manifest commits via conditional create, writer lease
via the fencing-token epoch protocol) → compaction + retention vacuum
→ durable IVF build (sibling epoch lease) → incremental streaming IVF
add → persisted-layout search.

Scale: sf0.1 single-copy (5k docs, 2k vectors) — the sfx10 twin
(tests/test_lifecycle.py) carries the volume evidence on the default
protocol; this twin carries the PROTOCOL evidence at a wall small
enough to run in every suite.
"""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.operators import publish as P
from python_vectordbapp_ceph_spark.operators.ivf import (
    build_ivf,
    load_ivf,
    save_ivf,
    search_batch,
)
from python_vectordbapp_ceph_spark.operators.lease import (
    EpochWriterLease,
    acquire_writer_lease,
)
from python_vectordbapp_ceph_spark.operators.shards import read_ledger
from python_vectordbapp_ceph_spark.streaming.ivf_ingest import stream_into_ivf
from python_vectordbapp_ceph_spark.streaming.shard_ingest import stream_append
from tests.test_lease import wait_released

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.1")


@pytest.fixture()
def condput_everywhere():
    P.force_publish_backend("conditional-put")
    yield
    P.force_publish_backend(None)
    P._BACKEND_CACHE.clear()


@pytest.mark.slow
def test_lifecycle_on_conditional_put_protocol(
    spark, tmp_path, condput_everywhere
):
    # ---- phase 1: refresh stream -> ledger, epoch lease live ---------
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            F.greatest(
                (F.col("n_chars").cast("bigint") / F.lit(4)).cast("bigint"),
                F.lit(1),
            ).alias("n_tokens"),
        )
    )
    n_docs = docs.count()
    n_files = 5
    per = n_docs // n_files + 1
    src = str(tmp_path / "src")
    ordered = docs.withColumn(
        "_f",
        ((F.row_number().over(Window.orderBy("doc_id")) - 1) / per)
        .cast("int"),
    )
    for i in range(n_files):
        ordered.filter(F.col("_f") == i).drop("_f").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        if i == 3:  # one full re-delivery so the dedup gate does work
            ordered.filter(F.col("_f") == 2).drop("_f").coalesce(1) \
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

    rows = read_ledger(spark, led)
    assert rows.count() == n_docs, "dedup must eat exactly the redelivery"
    assert rows.select("doc_id").distinct().count() == n_docs

    # no plain lease file ever exists; the released epoch record must
    # appear once the stream terminates
    assert not os.path.exists(os.path.join(led, "_commits", "_writer.lease"))
    wait_released(os.path.join(led, "_commits", "_writer.lease"))

    # immediately re-acquirable (released record, no TTL wait), and it
    # is the epoch protocol that answers
    held = acquire_writer_lease(spark, led, timeout_ms=0)
    assert isinstance(held, EpochWriterLease)
    held.release()

    # ---- phase 2: durable IVF + streaming add, sibling epoch lease ---
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_vecs = embs.count()
    base = embs.filter(F.pmod(F.col("vec_id"), F.lit(4)) != 3)
    fresh = embs.filter(F.pmod(F.col("vec_id"), F.lit(4)) == 3)
    idx_root = str(tmp_path / "ivf")
    save_ivf(build_ivf(base, nlist=8), idx_root)

    vec_src = str(tmp_path / "vec_src")
    fresh.coalesce(1).write.parquet(vec_src)
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

    final = load_ivf(spark, idx_root)
    assert final.assigned.count() == n_vecs

    # ---- phase 3: the persisted layout answers searches --------------
    qrows = (
        embs.filter(F.col("vec_id").isin([1, 3]))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_embedding"),
        )
    )
    got = search_batch(final, qrows, k=5, nprobe=8).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {1, 3}
    for qid, hits in by_q.items():
        best = min(hits, key=lambda r: (r.distance, r.vec_id))
        assert best.vec_id == qid and best.distance == 0.0
