"""Regression tests for the round-11 ADVICE findings, fixed in round
12 (the lease heartbeat and compact auto-heartbeat pins live in
tests/test_lease.py):

  3. zonemap compare mixed types: long sidecar kmin/kmax vs the
     batch's native min/max — TypeError on numeric-string doc_ids
     (and lexicographic string ranges cast to long can INVERT and
     mis-prune). Now gated on integral key types, both sides.
  4. vacuum's stage-grace keyed off directory mtime — synthetic on
     object stores, staging-start on HDFS. Now an explicit _staged_at
     marker stamped before the data files.
  5. _next_seq re-ran the max(seq) aggregation per mutation inside the
     lease; it now re-reads only when the lease chain is broken.
"""

import json
import os

from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.collection import VectorCollection
from python_vectordbapp_ceph_spark.operators import merge as M
from python_vectordbapp_ceph_spark.operators import shards as S
from tests.test_lease import wait_released


# --- 3: zonemap gated on integral key types --------------------------------------


def test_string_keyed_ledger_dedup_no_typeerror(spark, tmp_path):
    """Numeric-STRING doc_ids previously made the driver-side overlap
    check compare int (sidecar long kmin/kmax) against str (batch
    min/max) — TypeError every dedup batch. Now the prune is skipped
    for non-integral keys and the dedup still lands exactly."""
    path = str(tmp_path / "sledger")
    docs = spark.createDataFrame(
        [("9", 10), ("10", 20), ("95", 30)], "doc_id string, n_tokens long"
    )
    assert S.append_segment(spark, path, docs, budget=100) == 0
    # redelivery of "10" + one new key: must drop exactly the dup
    batch2 = spark.createDataFrame(
        [("10", 20), ("200", 40)], "doc_id string, n_tokens long"
    )
    assert S.append_segment(spark, path, batch2, budget=100, dedup=True) == 1
    got = sorted(r.doc_id for r in S.read_ledger(spark, path).collect())
    assert got == ["10", "200", "9", "95"]


def test_string_keyed_sidecar_writes_null_zonemap(spark, tmp_path):
    """String min/max is lexicographic ('10' < '9'); cast to long it
    can produce an INVERTED range that wrongly prunes a container
    holding a real redelivery. Non-integral ledgers must write null
    kmin/kmax = always probed."""
    path = str(tmp_path / "sledger2")
    docs = spark.createDataFrame(
        [("9", 10), ("10", 20)], "doc_id string, n_tokens long"
    )
    S.append_segment(spark, path, docs, budget=100)
    _, live = M.current_manifest(spark, path)
    side = spark.read.parquet(f"{path}/gen={live[0]}/_bloom")
    row = side.select("kmin", "kmax").first()
    assert row.kmin is None and row.kmax is None


def test_integral_keyed_sidecar_keeps_zonemap(spark, tmp_path):
    path = str(tmp_path / "iledger")
    docs = spark.range(5, 15).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens")
    )
    S.append_segment(spark, path, docs, budget=100)
    _, live = M.current_manifest(spark, path)
    row = (
        spark.read.parquet(f"{path}/gen={live[0]}/_bloom")
        .select("kmin", "kmax").first()
    )
    assert (row.kmin, row.kmax) == (5, 14)


# --- 4: stage-grace reads the _staged_at marker, not dir mtime -------------------


def test_stage_grace_survives_synthetic_dir_mtime(spark, tmp_path):
    """Object stores synthesize directory mtimes (often epoch 0);
    the grace must key off the explicit _staged_at marker so an
    in-flight staging survives vacuum even when the dir mtime says
    'ancient'."""
    path = str(tmp_path / "base")
    df = spark.range(10).select(F.col("id").alias("key"))
    M.write_bucketed_base(df, path, "key", n_buckets=2)
    # stage a generation but never commit it (a writer mid-publish)
    gen = M._gen_token(99)
    staged = M._with_bucket(
        spark.range(10, 20).select(F.col("id").alias("key")), "key", 2
    )
    M._staged_write(spark, path, staged, gen, 2, 1)
    gen_dir = f"{path}/gen={gen}"
    assert os.path.exists(f"{gen_dir}/{M._STAGED_MARKER}")
    # simulate the object-store synthetic mtime: dir says epoch 0
    os.utime(gen_dir, (0, 0))
    removed = M.vacuum(spark, path, stage_grace_ms=60_000)
    assert os.path.exists(gen_dir), "in-flight staging was reclaimed"
    # expire the MARKER (the authoritative clock) → now reclaimable
    marker = f"{gen_dir}/{M._STAGED_MARKER}"
    rec = json.loads(open(marker).read())
    rec["staged_at_ms"] = 0
    os.remove(marker)
    with open(marker, "w") as f:
        json.dump(rec, f)
    # the hand-rewrite invalidates the local FS checksum sidecar —
    # drop it so the marker is readable. The dir mtime is left FRESH
    # (the rewrite touched it), so reclamation here proves the marker,
    # not the mtime fallback, is what vacuum consults.
    crc = f"{gen_dir}/.{M._STAGED_MARKER}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    M.vacuum(spark, path, stage_grace_ms=60_000)
    assert not os.path.exists(gen_dir)


def test_markerless_stage_falls_back_to_mtime(spark, tmp_path):
    """Pre-marker staged dirs (legacy) keep the old best-effort mtime
    behavior instead of being deleted outright."""
    path = str(tmp_path / "base2")
    df = spark.range(10).select(F.col("id").alias("key"))
    M.write_bucketed_base(df, path, "key", n_buckets=2)
    gen = M._gen_token(99)
    staged = M._with_bucket(
        spark.range(10, 20).select(F.col("id").alias("key")), "key", 2
    )
    M._staged_write(spark, path, staged, gen, 2, 1)
    gen_dir = f"{path}/gen={gen}"
    os.remove(f"{gen_dir}/{M._STAGED_MARKER}")
    M.vacuum(spark, path, stage_grace_ms=60_000)
    assert os.path.exists(gen_dir)  # young mtime → still protected
    os.utime(gen_dir, (0, 0))
    M.vacuum(spark, path, stage_grace_ms=60_000)
    assert not os.path.exists(gen_dir)  # old mtime → reclaimed


# --- 5: max(seq) re-read only when the lease chain breaks -----------------------


def _kv(spark, *rows):
    return spark.createDataFrame(list(rows), "key string, embedding array<float>")


def test_seq_floor_reused_while_lease_chain_unbroken(spark, tmp_path):
    """A collection's consecutive writes reuse the cached max(seq) floor
    while each new lease moved past its own previous handle's record —
    no other writer can have touched the log. A foreign writer in
    between breaks the chain, and the next write re-reads the floor."""
    path = str(tmp_path / "col")
    col = VectorCollection(spark, path, dim=2, lease_timeout_ms=0)
    col.upsert(_kv(spark, ("k1", [1.0, 2.0])))  # first write reads the floor
    orig_log = col._log
    # poison the log read: a re-read would raise
    col._log = lambda: (_ for _ in ()).throw(AssertionError("re-read"))
    try:
        col.upsert(_kv(spark, ("k2", [2.0, 2.0])))
    finally:
        col._log = orig_log
    other = VectorCollection(spark, path, dim=2, lease_timeout_ms=0)
    other.upsert(_kv(spark, ("k3", [3.0, 3.0])))
    reads = []

    def counting_log():
        reads.append(1)
        return orig_log()

    col._log = counting_log
    col.upsert(_kv(spark, ("k4", [4.0, 4.0])))
    del col._log
    assert reads == [1]  # the foreign write forced exactly one re-read
    seqs = {r.key: r.seq for r in spark.read.parquet(path).collect()}
    assert seqs == {"k1": 1, "k2": 2, "k3": 3, "k4": 4}


def test_fresh_handle_orders_above_other_sessions(spark, tmp_path):
    """A fresh collection object reads the floor on its first write, so
    its writes order ABOVE everything a previous session committed —
    and its own upsert then delete resolve in call order."""
    path = str(tmp_path / "col2")
    a = VectorCollection(spark, path, dim=2)
    a.upsert(_kv(spark, ("k", [1.0, 1.0])))
    b = VectorCollection(spark, path, dim=2)
    b.upsert(_kv(spark, ("k", [2.0, 2.0])))
    b.delete_keys(["k"])
    assert b.snapshot().count() == 0  # the delete won (ordered last)
    seqs = sorted(
        r.seq for r in spark.read.parquet(path).select("seq").collect()
    )
    assert seqs == [1, 2, 3]


def test_ingest_batch_shape_upsert_then_delete_one_lease(spark, tmp_path):
    """The streaming ingest micro-batch shape: upserts and tombstones in
    ONE upsert(rows, delete_keys=...) call — one lease acquisition, one
    seq on every row it writes, the lease released afterwards."""
    path = str(tmp_path / "col3")
    col = VectorCollection(spark, path, dim=2, lease_timeout_ms=0)
    col.upsert(_kv(spark, ("c", [1.0, 1.0])))
    acquired = []
    orig = col._writer_lease

    def spy():
        lease = orig()
        acquired.append(lease)
        return lease

    col._writer_lease = spy
    col.upsert(
        _kv(spark, ("a", [1.0, 0.0]), ("b", [0.0, 1.0])),
        delete_keys=spark.createDataFrame([("c",)], "key string"),
    )
    assert len(acquired) == 1
    written = spark.read.parquet(path).filter(F.col("seq") > 1).collect()
    assert sorted((r.key, r.op) for r in written) == [
        ("a", "upsert"), ("b", "upsert"), ("c", "delete"),
    ]
    assert {r.seq for r in written} == {2}
    keys = sorted(r.key for r in col.snapshot().select("key").collect())
    assert keys == ["a", "b"]
    rec = wait_released(path.rstrip("/") + "._lease", timeout=0)
    assert rec["owner"] == acquired[0].owner
