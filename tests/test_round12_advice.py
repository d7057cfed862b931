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
     lease; a leased() section now re-reads once per acquisition.
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


# --- 5: one max(seq) re-read per leased section ----------------------------------


def test_leased_section_reads_seq_floor_once(spark, tmp_path):
    """Inside leased(), the first mutation re-reads max(seq); later
    mutations in the same section must reuse the cached floor (seq
    cannot advance while the lease is held)."""
    path = str(tmp_path / "col")
    col = VectorCollection(spark, path, dim=2, lease_timeout_ms=0)
    col.upsert(
        spark.createDataFrame(
            [("k1", [1.0, 2.0])], "key string, embedding array<float>"
        )
    )
    with col.leased():
        first = col._next_seq()
        # poison the log read: a second re-read would raise
        orig_log = col._log
        col._log = lambda: (_ for _ in ()).throw(AssertionError("re-read"))
        try:
            assert col._next_seq() == first + 1
        finally:
            col._log = orig_log
    # outside the section the floor must be re-read again
    col._log = orig_log
    assert col._seq_synced is False


def test_leased_section_orders_across_sessions(spark, tmp_path):
    """The cached floor must still order a leased section's writes
    ABOVE everything a previous session committed — and the section's
    own upsert+delete must resolve in section order."""
    path = str(tmp_path / "col2")
    a = VectorCollection(spark, path, dim=2)
    a.upsert(
        spark.createDataFrame(
            [("k", [1.0, 1.0])], "key string, embedding array<float>"
        )
    )
    b = VectorCollection(spark, path, dim=2)
    with b.leased():
        b.upsert(
            spark.createDataFrame(
                [("k", [2.0, 2.0])], "key string, embedding array<float>"
            )
        )
        b.delete_keys(["k"])
    assert b.snapshot().count() == 0  # the delete won (ordered last)
    seqs = sorted(
        r.seq for r in spark.read.parquet(path).select("seq").collect()
    )
    assert seqs == [1, 2, 3]


def test_ingest_batch_shape_upsert_then_delete_one_lease(spark, tmp_path):
    """The streaming ingest micro-batch shape: one leased section,
    upsert + tombstones, exactly-once resolution intact."""
    path = str(tmp_path / "col3")
    col = VectorCollection(spark, path, dim=2, lease_timeout_ms=0)
    with col.leased():
        col.upsert(
            spark.createDataFrame(
                [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
                "key string, embedding array<float>",
            )
        )
        col.delete_keys_df(
            spark.createDataFrame([("a",)], "key string")
        )
    keys = sorted(r.key for r in col.snapshot().select("key").collect())
    assert keys == ["b"]
    # the lease was released with the section
    wait_released(path.rstrip("/") + "._lease", timeout=0)
