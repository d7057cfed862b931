"""Contract tests for the fencing-token (epoch) writer lease
(operators/lease.py EpochWriterLease), the one lease protocol on every
store. On conditional-put stores (Ceph RGW S3, the reference's own
backend — s3vectors-app/rook-resources.yaml) rename is copy+delete,
so no lease transition may rely on rename there: each transition is
one publish of the next-numbered record through the store's selected
backend — a conditional create on S3-like stores, stage+rename-
without-overwrite on HDFS/local. These tests drive the full protocol
against the fake stores the publish contract tests use (extended with
listing), plus the real local Hadoop FS on both backends, proving:

  - backend routing: S3-semantics stores publish records by
    conditional create, the local FS by rename — and no plain lease
    file ever appears;
  - mutual exclusion: racing acquirers → one winner, loser raises, on
    both backends;
  - fail-fast displacement: a broken/stolen holder's next heartbeat
    raises instead of dual-writing;
  - the GC-resurrection hazard is closed: a fenced-out writer whose
    next-epoch slot was garbage-collected cannot sneak a "successful"
    create below the live holder (create-then-verify-max);
  - release hands over without a TTL wait; crash-recovery goes
    through TTL expiry with no rename anywhere;
  - the epochs directory stays O(1) files across many heartbeats.
"""

from __future__ import annotations

import json

import pytest

from python_vectordbapp_ceph_spark.operators import lease as L
from python_vectordbapp_ceph_spark.operators import publish as P
from tests.test_publish import FakePosixFs, FakeS3Fs


class ListingFakeS3Fs(FakeS3Fs):
    """The publish tests' S3-semantics fake + the listing the epoch
    lease needs (S3 LIST with a prefix)."""

    def list_names(self, dir_path):
        prefix = dir_path.rstrip("/") + "/"
        return [
            p[len(prefix):]
            for p in self.files
            if p.startswith(prefix) and "/" not in p[len(prefix):]
        ]


class ListingFakePosixFs(FakePosixFs):
    def list_names(self, dir_path):
        prefix = dir_path.rstrip("/") + "/"
        return [
            p[len(prefix):]
            for p in self.files
            if p.startswith(prefix) and "/" not in p[len(prefix):]
        ]


@pytest.fixture(autouse=True)
def _reset_backend_state():
    P.force_publish_backend(None)
    P._BACKEND_CACHE.clear()
    yield
    P.force_publish_backend(None)
    P._BACKEND_CACHE.clear()


def _acquire(fs, ttl_ms=600_000, timeout_ms=0, steal=False):
    return L.acquire_writer_lease(
        None, "/led", ttl_ms=ttl_ms, timeout_ms=timeout_ms,
        steal=steal, ops=fs,
    )


# --- backend routing ------------------------------------------------------------


def test_s3_semantics_store_selects_epoch_protocol():
    lease = _acquire(ListingFakeS3Fs())
    assert isinstance(lease, L.EpochWriterLease)
    assert isinstance(lease._backend, P.ConditionalPutPublish)
    lease.release()


def test_local_fs_runs_epoch_lease_through_rename_publish(spark, tmp_path):
    """The probe selects the rename backend on the local FS, and the
    epoch lease publishes its records through it: acquire, heartbeat
    and release each leave exactly the expected max record, and no
    plain ``_writer.lease`` file (nor a staged tmp) is ever left."""
    import os

    led = str(tmp_path / "led")
    epochs = os.path.join(led, "_commits", "_writer.lease.epochs")

    def check(epoch, released):
        files = [f for _r, _d, fs in os.walk(led) for f in fs]
        assert "_writer.lease" not in files
        names = [n for n in os.listdir(epochs) if not n.endswith(".crc")]
        assert names == [f"e{epoch:012d}.json"], names
        rec = json.load(open(os.path.join(epochs, names[0])))
        assert rec["epoch"] == epoch and rec["owner"] == lease.owner
        assert bool(rec.get("released")) is released

    lease = L.acquire_writer_lease(spark, led, timeout_ms=0)
    assert isinstance(lease, L.EpochWriterLease)
    assert isinstance(lease._backend, P.RenamePublish)
    check(1, False)
    lease.heartbeat()
    check(2, False)
    with pytest.raises(L.LedgerLockedError, match="live writer"):
        L.acquire_writer_lease(spark, led, timeout_ms=0)
    lease.release()
    check(3, True)


def test_epoch_protocol_forced_on_local_fs(spark, tmp_path):
    """The ops override lever routes the REAL Hadoop local FS through
    the epoch protocol — the protocol itself is store-agnostic."""
    P.force_publish_backend("conditional-put")
    a = L.acquire_writer_lease(spark, str(tmp_path / "led"), timeout_ms=0)
    assert isinstance(a, L.EpochWriterLease)
    a.heartbeat()
    with pytest.raises(L.LedgerLockedError):
        L.acquire_writer_lease(spark, str(tmp_path / "led"), timeout_ms=0)
    a.release()
    b = L.acquire_writer_lease(spark, str(tmp_path / "led"), timeout_ms=0)
    assert isinstance(b, L.EpochWriterLease)
    b.release()


# --- mutual exclusion ------------------------------------------------------------


def test_second_acquirer_fails_fast_on_live_lease():
    fs = ListingFakeS3Fs()
    a = _acquire(fs)
    with pytest.raises(L.LedgerLockedError, match="live writer"):
        _acquire(fs)
    a.release()


def test_release_hands_over_without_ttl_wait():
    fs = ListingFakeS3Fs()
    a = _acquire(fs)
    a.release()
    b = _acquire(fs)  # immediate: released record, no TTL expiry needed
    assert b.owner != a.owner
    b.release()


def test_expired_lease_is_broken_without_rename():
    """Crash recovery: the holder dies (no release); after TTL the
    next acquirer fences it out with one conditional create."""
    fs = ListingFakeS3Fs()
    a = _acquire(fs, ttl_ms=1)  # expires immediately
    import time

    time.sleep(0.01)
    b = _acquire(fs)
    assert b.epoch > a.epoch
    # the dead holder, should it wake, is fenced:
    with pytest.raises(L.LedgerLockedError):
        a.heartbeat()
    b.release()


def test_steal_fences_a_live_holder():
    fs = ListingFakeS3Fs()
    a = _acquire(fs)
    b = _acquire(fs, steal=True)
    with pytest.raises(L.LedgerLockedError):
        a.heartbeat()
    assert not b.lost
    b.release()


# --- the GC-resurrection hazard ---------------------------------------------------


def test_fenced_writer_cannot_resurrect_below_a_gcd_horizon():
    """THE subtle case the create-then-verify-max step exists for: a
    breaker fences the stale holder at epoch e+1, heartbeats to e+2,
    and GC reclaims e+1 — so the stale holder's create of e+1
    SUCCEEDS at the store level. The verify step must still fail it
    (the live holder's e+2 record outranks it) and the garbage record
    must be swept by the winner's next GC."""
    fs = ListingFakeS3Fs()
    a = _acquire(fs, ttl_ms=1)
    import time

    time.sleep(0.01)
    b = _acquire(fs)            # fences a at e+1
    b.heartbeat()               # e+2; GC reclaims e+1
    assert b.epoch == a.epoch + 2
    # a's next-epoch slot (e+1) is free again at the store level:
    assert not fs.exists(a._epoch_file(a.epoch + 1))
    with pytest.raises(L.LedgerLockedError):
        a.heartbeat()           # create succeeds, verify-max fails
    assert a.lost
    # exactly one live record wins any scan: b's
    e, rec = b._scan()
    assert rec["owner"] == b.owner
    b.heartbeat()               # winner's GC sweeps a's garbage record
    assert not fs.exists(a._epoch_file(a.epoch + 1))
    b.release()


def test_epoch_directory_stays_bounded_across_heartbeats():
    fs = ListingFakeS3Fs()
    a = _acquire(fs)
    for _ in range(25):
        a.heartbeat()
    assert len(a._list_epochs()) == 1  # current record only, GC'd behind
    a.release()
    assert len(a._list_epochs()) == 1  # just the released marker


def test_heartbeat_refreshes_timestamp_and_advances_epoch():
    fs = ListingFakeS3Fs()
    a = _acquire(fs)
    e0, r0 = a._scan()
    a.heartbeat()
    e1, r1 = a._scan()
    assert e1 == e0 + 1
    assert r1["owner"] == a.owner
    assert r1["heartbeat_ms"] >= r0["heartbeat_ms"]
    a.release()


def test_release_is_idempotent_and_never_raises():
    fs = ListingFakeS3Fs()
    a = _acquire(fs)
    a.release()
    a.release()  # no-op
    # a fenced writer's release is also safe:
    b = _acquire(fs)
    stolen = _acquire(fs, steal=True)
    b.release()  # already fenced — must not raise or disturb the winner
    e, rec = stolen._scan()
    assert rec["owner"] == stolen.owner
    stolen.release()


def test_released_record_carries_the_flag():
    fs = ListingFakeS3Fs()
    a = _acquire(fs)
    a.release()
    e, rec = a._scan()
    assert rec["released"] is True
    assert rec["owner"] == a.owner


# --- end-to-end on the forced local FS: ledger appends under the epoch lease ------


def test_shard_ledger_commits_and_epoch_lease_coexist(spark, tmp_path):
    """The consumer-level story, protocol-swapped end-to-end on a
    forced conditional-put store: ledger appends commit through the
    conditional-put publish backend WHILE the writer lease runs the
    epoch protocol on the same store — the full S3 migration is a
    selection change, not a protocol change."""
    import pyspark.sql.functions as F

    from python_vectordbapp_ceph_spark.operators.shards import (
        append_segment,
        read_ledger,
    )

    P.force_publish_backend("conditional-put")
    led = str(tmp_path / "led")
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit(100).alias("n_tokens")
    )
    held = L.acquire_writer_lease(spark, led, timeout_ms=0)
    assert isinstance(held, L.EpochWriterLease)
    assert append_segment(spark, led, docs) == 0
    held.heartbeat()  # still the writer after the commit
    with pytest.raises(L.LedgerLockedError):  # exclusion holds throughout
        L.acquire_writer_lease(spark, led, timeout_ms=0)
    held.release()
    held2 = L.acquire_writer_lease(spark, led, timeout_ms=0)
    assert append_segment(
        spark, led, docs.withColumn("doc_id", F.col("doc_id") + 100)
    ) == 1
    held2.release()
    assert read_ledger(spark, led).count() == 100


# --- concurrency stress -----------------------------------------------------------


class _ThreadSafe:
    """A real lock around the fake store's check-then-set steps — the
    atomicity a real conditional PUT or namespace rename provides — so
    a multi-threaded stress run models the store honestly instead of
    racing a plain dict."""

    def __init__(self):
        super().__init__()
        import threading

        self._lock = threading.Lock()

    def create_bytes(self, path, data, overwrite):
        with self._lock:
            super().create_bytes(path, data, overwrite)

    def rename(self, src, dst):
        with self._lock:
            return super().rename(src, dst)

    def delete(self, path):
        with self._lock:
            super().delete(path)

    def list_names(self, dir_path):
        with self._lock:
            return super().list_names(dir_path)


class ThreadSafeFakeS3Fs(_ThreadSafe, ListingFakeS3Fs):
    pass


class ThreadSafeFakePosixFs(_ThreadSafe, ListingFakePosixFs):
    pass


@pytest.mark.parametrize(
    "store, backend",
    [(ThreadSafeFakePosixFs, P.RenamePublish),
     (ThreadSafeFakeS3Fs, P.ConditionalPutPublish)],
    ids=["ListingFakePosixFs", "ListingFakeS3Fs"],
)
def test_epoch_lease_mutual_exclusion_under_contention(store, backend):
    """8 threads hammer acquire→(heartbeat, work)→release against one
    store with a generous TTL (no expiry-based takeover in play): at
    every instant at most ONE thread may sit between a successful
    acquire and its release. A counter guarded by its own lock
    observes the critical section; any overlap is a protocol hole.
    Run on both backends: posix semantics publish every record by
    stage+rename, S3 semantics by conditional create."""
    import threading

    fs = store()
    backends = set()
    inside = 0
    max_inside = 0
    meter = threading.Lock()
    acquired_total = 0
    stop_at = 40  # total successful critical sections across all threads

    def worker():
        nonlocal inside, max_inside, acquired_total
        while True:
            with meter:
                if acquired_total >= stop_at:
                    return
            try:
                lease = _acquire(fs, ttl_ms=600_000, timeout_ms=0)
            except L.LedgerLockedError:
                continue
            with meter:
                inside += 1
                max_inside = max(max_inside, inside)
                acquired_total += 1
                backends.add(type(lease._backend))
            try:
                lease.heartbeat()
                lease.heartbeat()
            finally:
                with meter:
                    inside -= 1
                lease.release()

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert all(not t.is_alive() for t in threads), "stress run wedged"
    assert acquired_total >= stop_at
    assert max_inside == 1, f"dual writers observed: {max_inside}"
    assert backends == {backend}


# --- the collection surface on the conditional-put protocol -----------------------


def test_collection_mutations_under_conditional_put(spark, tmp_path):
    """The third lease consumer (the lifecycle twin covers ledger +
    IVF): VectorCollection's leased mutations — upsert, cross-handle
    delete, compact with its auto-heartbeat, post-compact ordering —
    run unchanged when every commit is a conditional create and every
    lease the epoch protocol."""
    from python_vectordbapp_ceph_spark.collection import VectorCollection

    P.force_publish_backend("conditional-put")
    try:
        def rows(data):
            return spark.createDataFrame(
                data,
                "key string, embedding array<float>, "
                "tags map<string,string>",
            )

        coll = VectorCollection(
            spark=spark, path=str(tmp_path / "c"), dim=4, name="t"
        ).ensure_exists()
        coll.upsert(rows([("k1", [1.0, 0.0, 0.0, 0.0], None),
                          ("k2", [0.0, 1.0, 0.0, 0.0], None)]))
        coll.upsert(rows([("k1", [2.0, 0.0, 0.0, 0.0], None)]))
        reopened = VectorCollection(
            spark=spark, path=coll.path, dim=4, name="t"
        )
        reopened.delete_keys(["k2"])
        before = {(r.key, tuple(r.embedding))
                  for r in reopened.snapshot().collect()}
        assert before == {("k1", (2.0, 0.0, 0.0, 0.0))}
        reopened.compact()
        after = {(r.key, tuple(r.embedding))
                 for r in reopened.snapshot().collect()}
        assert after == before
        reopened.delete_keys(["k1"])
        assert reopened.snapshot().count() == 0
        # no plain lease file anywhere under the path
        import os

        for root, _dirs, files in os.walk(coll.path):
            assert "_writer.lease" not in files, root
    finally:
        P.force_publish_backend(None)
        P._BACKEND_CACHE.clear()


# --- review-hardening pins (r12 self-review) ---------------------------------------


class PosixRenameObjectStoreFs(ListingFakePosixFs):
    """A store whose SEQUENTIAL rename semantics look exclusive (the
    probe passes) but which self-reports emulated rename — the real
    s3a shape: rename-onto-existing fails cleanly via a client-side
    check while two renames onto an ABSENT destination would both
    'succeed'. Selection must distrust rename here."""

    def rename_atomicity(self, path):
        return False


def test_scheme_distrust_overrides_rename_probe():
    fs = PosixRenameObjectStoreFs()
    caps = P.probe_publish_capability(fs, "/t/_commits")
    assert caps["rename_exclusive"] is True  # the probe IS fooled
    b = P.backend_for(fs, "/t/_commits", ("s3a", "bkt"))
    assert isinstance(b, P.ConditionalPutPublish)  # policy is not
    lease = _acquire(fs)
    assert isinstance(lease, L.EpochWriterLease)
    lease.release()


class FlakyCreateFs(ListingFakeS3Fs):
    """Raises a transient error on demand; optionally LANDS the write
    server-side while reporting failure (lost acknowledgment)."""

    def __init__(self):
        super().__init__()
        self.fail_next = 0
        self.land_despite_failure = False

    def create_bytes(self, path, data, overwrite):
        if self.fail_next > 0:
            self.fail_next -= 1
            if self.land_despite_failure:
                super().create_bytes(path, data, overwrite)
            raise RuntimeError("transient store error")
        super().create_bytes(path, data, overwrite)


def test_transient_heartbeat_error_does_not_fence():
    """A 503/timeout during a heartbeat is retryable, NOT a fence: the
    error propagates as-is (not LedgerLockedError), the lease is not
    marked lost, and the next heartbeat succeeds."""
    fs = FlakyCreateFs()
    a = _acquire(fs)
    fs.fail_next = 1
    with pytest.raises(RuntimeError, match="transient store error"):
        a.heartbeat()
    assert not a.lost
    a.heartbeat()  # retried tick succeeds
    e, rec = a._scan()
    assert rec["owner"] == a.owner
    a.release()


def test_lost_acknowledgment_is_reconciled_as_ours():
    """The create lands server-side but the response is lost: the
    retry's FileExistsError must reconcile (the existing record is
    OURS) instead of treating our own epoch as a fence — otherwise the
    orphan fresh record blocks every acquirer for a full TTL with no
    writer running."""
    fs = FlakyCreateFs()
    a = _acquire(fs)
    fs.fail_next = 1
    fs.land_despite_failure = True
    with pytest.raises(RuntimeError, match="transient store error"):
        a.heartbeat()
    assert not a.lost
    a.heartbeat()  # FileExistsError -> reconcile -> ours -> advance
    assert not a.lost
    e, rec = a._scan()
    assert rec["owner"] == a.owner
    a.release()


class UnreadableRecordsFs(ListingFakeS3Fs):
    """Records list but never read (LIST allowed, GET denied): the
    scan sees an empty protocol state while every next-epoch slot is
    taken — the acquire loop must exhaust its timeout, never hot-spin
    forever."""

    def read_bytes(self, path):
        if ".epochs/" in path:
            raise PermissionError("GET denied")
        return super().read_bytes(path)


def test_acquire_respects_timeout_when_records_unreadable():
    import time

    fs = UnreadableRecordsFs()
    # a live-looking record occupies epoch 1
    fs.files["/led/_commits/_writer.lease.epochs/e000000000001.json"] = b"x"
    t0 = time.time()
    with pytest.raises(L.LedgerLockedError):
        _acquire(fs, timeout_ms=500)
    elapsed = time.time() - t0
    assert 0.4 <= elapsed < 10, f"hot spin or hang: {elapsed:.2f}s"


def test_backend_cache_is_per_instance_for_fakes():
    """Two injected fakes with different semantics must never share a
    cached selection: a posix fake probed first must not hand its
    rename backend to an S3 fake probed second."""
    posix, s3 = ListingFakePosixFs(), ListingFakeS3Fs()
    b1 = P.backend_for(posix, "/t/_commits", posix.scheme_authority("/t"))
    b2 = P.backend_for(s3, "/t/_commits", s3.scheme_authority("/t"))
    assert isinstance(b1, P.RenamePublish)
    assert isinstance(b2, P.ConditionalPutPublish)
