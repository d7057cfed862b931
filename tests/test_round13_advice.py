"""Regression tests for the round-12 ADVICE findings + the verdict's
typed-412 ask, fixed in round 13. The live-writer and completing-swap
cases of finding 1 are pinned in tests/test_knn.py and finding 5 (a
recovery rename losing to a concurrent healer) in tests/test_lease.py,
next to the shared swap; its lease-free heal is pinned in
tests/test_knn.py too, and finding 4 in tests/test_merge.py. The
findings:

  1. (medium) load_ivf called the swap recovery WITHOUT the writer
     lease: a reader landing between a LIVE rebuild's two renames
     renamed the old layout back, and the rebuild's tmp->path rename
     then nested the new layout inside the restored one. Now readers
     poll briefly, then recover only UNDER the lease.
  2. (low) assign_new dropped only NULL embeddings; a wrong-dimension
     vector was silently assigned to cluster 0. Now size(vec) !=
     index-dim rows are dropped with the same logged-count contract.
  3. (low) _acquire_epoch: a conditional create that landed server-
     side but lost its acknowledgment made the NEXT scan read our own
     record as a live foreign holder — acquisition self-blocked until
     timeout. Now rec.owner == lease.owner is claimable.
  4. (low) _bucket_aligned excluded only TOP-LEVEL map columns from
     the xxhash64 salt; a nested map (array<map>, struct-with-map)
     still reached the hash → DATATYPE_MISMATCH.HASH_MAP_TYPE. Now
     any dtype containing a map is excluded.
  6. (verdict #5) HadoopFsOps._is_already_exists trusted ' 412'
     substrings; a transient 503 whose MESSAGE carries ' 412' was
     misread as lost-the-race. Now a typed status code anywhere in
     the exception chain is authoritative before any string fallback.
"""

from __future__ import annotations

import time

import pytest

from python_vectordbapp_ceph_spark.operators import ivf as IVF
from python_vectordbapp_ceph_spark.operators import lease as L
from python_vectordbapp_ceph_spark.operators import publish as P
from tests.test_epoch_lease import ListingFakeS3Fs


def _vec_df(spark, n=40, dim=4):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# --- 2: assign_new drops wrong-dimension vectors ----------------------------------


def test_assign_new_drops_wrong_dim_and_null(spark):
    index = IVF.build_ivf(_vec_df(spark, dim=4), nlist=4)
    batch = spark.createDataFrame(
        [
            (100, [1.0, 2.0, 3.0, 4.0]),   # good
            (101, None),                   # null -> dropped
            (102, [1.0, 2.0, 3.0]),        # dim 3 != 4 -> dropped
            (103, [1.0, 2.0, 3.0, 4.0, 5.0]),  # dim 5 != 4 -> dropped
        ],
        "vec_id long, embedding array<float>",
    )
    out = IVF.assign_new(index, batch).collect()
    assert [r.vec_id for r in out] == [100]
    # and the survivor landed in its true nearest list, not cluster 0
    # by tiebreak: recompute the argmin directly
    import math

    v = [1.0, 2.0, 3.0, 4.0]
    best = min(
        range(len(index.centroids)),
        key=lambda c: (math.dist(v, index.centroids[c]), c),
    )
    assert out[0].cluster_id == best


def test_assign_new_all_good_batch_unchanged(spark):
    index = IVF.build_ivf(_vec_df(spark, dim=4), nlist=4)
    batch = spark.createDataFrame(
        [(200, [0.0, 1.0, 2.0, 3.0]), (201, [5.0, 5.0, 5.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    assert IVF.assign_new(index, batch).count() == 2


# --- 3: lost-acknowledgment create does not self-block ----------------------------


class LostAckFs(ListingFakeS3Fs):
    """Conditional create LANDS server-side but the acknowledgment is
    lost as a generic transient error (not FileExistsError) for the
    first ``fail_n`` creates."""

    def __init__(self, fail_n=1):
        super().__init__()
        self.fail_n = fail_n

    def create_bytes(self, path, data, overwrite):
        super().create_bytes(path, data, overwrite)
        # only the epoch-record creates — the backend capability probe
        # also creates files and must stay honest
        if self.fail_n > 0 and ".epochs/" in path:
            self.fail_n -= 1
            raise RuntimeError("503 Slow Down (response lost)")


def test_epoch_acquire_adopts_own_lost_ack_record():
    fs = LostAckFs(fail_n=1)
    t0 = time.monotonic()
    lease = L.acquire_writer_lease(
        None, "/led", ttl_ms=600_000, timeout_ms=5_000, ops=fs,
    )
    elapsed = time.monotonic() - t0
    assert isinstance(lease, L.EpochWriterLease)
    # resolved via owner-adoption on the next poll, not TTL/timeout
    assert elapsed < 3.0
    lease.heartbeat()  # the adopted epoch is fully functional
    lease.release()


def test_epoch_acquire_does_not_adopt_foreign_record():
    """The adoption is owner-gated: a FOREIGN live record still
    blocks (mutual exclusion intact)."""
    fs = ListingFakeS3Fs()
    a = L.acquire_writer_lease(None, "/led", ttl_ms=600_000,
                               timeout_ms=0, ops=fs)
    with pytest.raises(L.LedgerLockedError):
        L.acquire_writer_lease(None, "/led", ttl_ms=600_000,
                               timeout_ms=0, ops=fs)
    a.release()


# --- 6: typed status code beats message substrings --------------------------------


class _JClass:
    def __init__(self, name):
        self._n = name

    def getName(self):
        return self._n


class FakeJavaExc:
    """Py4J java_exception stand-in: getClass/getCause always exist;
    statusCode only when a code is given (reflection-probed)."""

    def __init__(self, cls, status=None, cause=None):
        self._cls = cls
        self._status = status
        self._cause = cause

    def getClass(self):
        return _JClass(self._cls)

    def getCause(self):
        return self._cause

    def __getattr__(self, name):
        if name in ("statusCode", "getStatusCode") and self._status is not None:
            return lambda: self._status
        raise AttributeError(name)


class _Wrapped(Exception):
    def __init__(self, msg, je):
        super().__init__(msg)
        self.java_exception = je


def test_typed_503_with_412_in_message_is_retryable():
    """The exact verdict shape: a transient proxy error whose MESSAGE
    contains ' 412' but whose typed status is 503 must NOT read as
    lost-the-race."""
    e = _Wrapped(
        "org.apache.hadoop.fs.s3a.AWSServiceIOException: upstream "
        "returned 412 earlier; now: Slow Down",
        FakeJavaExc("org.apache.hadoop.fs.s3a.AWSServiceIOException",
                    status=503),
    )
    assert P.HadoopFsOps._is_already_exists(e) is False


def test_typed_412_is_conflict():
    e = _Wrapped(
        "software.amazon.awssdk.services.s3.model.S3Exception: "
        "Precondition Failed",
        FakeJavaExc("software.amazon.awssdk.services.s3.model.S3Exception",
                    status=412),
    )
    assert P.HadoopFsOps._is_already_exists(e) is True


def test_nested_cause_412_is_found():
    inner = FakeJavaExc(
        "software.amazon.awssdk.services.s3.model.S3Exception", status=412
    )
    outer = FakeJavaExc("java.io.IOException", cause=inner)
    e = _Wrapped("java.io.IOException: put failed", outer)
    assert P.HadoopFsOps._is_already_exists(e) is True


def test_precondition_failed_class_name_is_conflict():
    e = _Wrapped(
        "x.y.PreconditionFailedException: conditional write lost",
        FakeJavaExc("x.y.PreconditionFailedException"),
    )
    assert P.HadoopFsOps._is_already_exists(e) is True


def test_already_exists_class_still_wins():
    e = _Wrapped(
        "org.apache.hadoop.fs.FileAlreadyExistsException: /p",
        FakeJavaExc("org.apache.hadoop.fs.FileAlreadyExistsException"),
    )
    assert P.HadoopFsOps._is_already_exists(e) is True


def test_opaque_wrapper_keeps_string_fallback():
    """No java_exception at all (or one exposing neither class nor
    code): the head-bounded substring fallback still applies — real
    RGW wrappers can be exactly this opaque."""
    assert P.HadoopFsOps._is_already_exists(
        Exception("HTTP 412 Precondition Failed")
    ) is True
    assert P.HadoopFsOps._is_already_exists(
        Exception("connection reset by peer")
    ) is False
