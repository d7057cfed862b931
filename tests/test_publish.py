"""Contract tests for the pluggable publish backends
(operators/publish.py) — the r11 verdict's top ask: the manifest
commit and the writer lease trusted rename-without-overwrite, which
the reference's actual backend (Ceph RGW S3, s3vectors-app/
rook-resources.yaml) does not provide. These tests prove, against a
pure-Python fake store that mimics S3 rename semantics (copy+delete,
overwrites an existing destination), that

  - the rename backend IS unsafe there (both racers "win") — the
    hazard is real, not hypothetical;
  - the conditional-put backend is first-writer-wins there;
  - the capability probe detects exactly this store and routes
    selection away from rename (or fails fast when nothing is safe);
  - on the real local filesystem the probe keeps the rename backend
    and the whole commit path still works end-to-end.
"""

from __future__ import annotations

import json

import pytest

from python_vectordbapp_ceph_spark.operators import publish as P


class FakePosixFs(P.FsOps):
    """Honest store: rename fails onto an existing destination (HDFS/
    local semantics) and create-exclusive rejects."""

    def __init__(self):
        self.files: dict[str, bytes] = {}

    def exists(self, path):
        return path in self.files

    def read_bytes(self, path):
        return self.files[path]

    def create_bytes(self, path, data, overwrite):
        if not overwrite and path in self.files:
            raise FileExistsError(path)
        self.files[path] = data

    def rename(self, src, dst):
        if src not in self.files or dst in self.files:
            return False
        self.files[dst] = self.files.pop(src)
        return True

    def delete(self, path):
        self.files.pop(path, None)


class FakeS3Fs(FakePosixFs):
    """S3-like store: rename is client-side copy+delete — it
    OVERWRITES an existing destination and reports success, exactly
    the semantics that break the rename protocol. Conditional create
    (If-None-Match) is supported and honest."""

    def rename(self, src, dst):
        if src not in self.files:
            return False
        self.files[dst] = self.files.pop(src)  # clobbers silently
        return True


class FakeLegacyS3Fs(FakeS3Fs):
    """Worst case: S3-like rename AND no conditional-write support
    (pre-2024 S3 semantics: a PUT always replaces)."""

    def create_bytes(self, path, data, overwrite):
        self.files[path] = data  # If-None-Match ignored


# --- the hazard itself --------------------------------------------------------


def test_rename_backend_safe_on_posix_semantics():
    fs = FakePosixFs()
    b = P.RenamePublish(fs)
    assert b.publish_json("/t/_commits/v1.json", {"w": "A"}) is True
    assert b.publish_json("/t/_commits/v1.json", {"w": "B"}) is False
    assert json.loads(fs.files["/t/_commits/v1.json"])["w"] == "A"
    # losers' staged tmps are cleaned up
    assert [p for p in fs.files if ".tmp-" in p] == []


def test_rename_backend_is_broken_on_s3_semantics():
    """The documented hazard, demonstrated: both racers think they
    won, the second silently replaces the first's commit."""
    fs = FakeS3Fs()
    b = P.RenamePublish(fs)
    assert b.publish_json("/t/_commits/v1.json", {"w": "A"}) is True
    assert b.publish_json("/t/_commits/v1.json", {"w": "B"}) is True  # lie
    assert json.loads(fs.files["/t/_commits/v1.json"])["w"] == "B"  # lost A


def test_conditional_put_is_first_writer_wins_on_s3_semantics():
    fs = FakeS3Fs()
    b = P.ConditionalPutPublish(fs)
    assert b.publish_json("/t/_commits/v1.json", {"w": "A"}) is True
    assert b.publish_json("/t/_commits/v1.json", {"w": "B"}) is False
    assert json.loads(fs.files["/t/_commits/v1.json"])["w"] == "A"


# --- the probe ----------------------------------------------------------------


def test_probe_on_posix_semantics():
    caps = P.probe_publish_capability(FakePosixFs(), "/t/_commits")
    assert caps == {"rename_exclusive": True, "conditional_create": True}


def test_probe_on_s3_semantics():
    caps = P.probe_publish_capability(FakeS3Fs(), "/t/_commits")
    assert caps == {"rename_exclusive": False, "conditional_create": True}


def test_probe_on_legacy_s3_semantics():
    caps = P.probe_publish_capability(FakeLegacyS3Fs(), "/t/_commits")
    assert caps == {"rename_exclusive": False, "conditional_create": False}


def test_probe_cleans_up_its_files():
    fs = FakeS3Fs()
    P.probe_publish_capability(fs, "/t/_commits")
    assert fs.files == {}


# --- selection policy ("ledger open") ------------------------------------------


@pytest.fixture(autouse=True)
def _reset_backend_state():
    P.force_publish_backend(None)
    P._BACKEND_CACHE.clear()
    yield
    P.force_publish_backend(None)
    P._BACKEND_CACHE.clear()


def test_backend_for_prefers_rename_where_safe():
    b = P.backend_for(FakePosixFs(), "/t/_commits", ("file", ""))
    assert isinstance(b, P.RenamePublish)


def test_backend_for_switches_to_conditional_put_on_s3():
    b = P.backend_for(FakeS3Fs(), "/t/_commits", ("s3a", "bkt"))
    assert isinstance(b, P.ConditionalPutPublish)


def test_backend_for_fails_fast_when_nothing_is_safe():
    with pytest.raises(P.UnsafePublishStoreError):
        P.backend_for(FakeLegacyS3Fs(), "/t/_commits", ("s3a", "old"))


def test_backend_selection_probes_once_per_store():
    """The probe is the 'ledger open' gate — later publishes against
    the same store reuse the cached selection (no probe I/O)."""
    fs = FakeS3Fs()
    P.backend_for(fs, "/t/_commits", ("s3a", "bkt"))
    calls = []
    orig = P.probe_publish_capability
    P.probe_publish_capability = lambda *a, **k: calls.append(1) or orig(*a, **k)
    try:
        P.backend_for(fs, "/t/_commits", ("s3a", "bkt"))
    finally:
        P.probe_publish_capability = orig
    assert calls == []


def test_force_publish_backend_override():
    P.force_publish_backend("conditional-put")
    b = P.backend_for(FakePosixFs(), "/t/_commits", ("file", ""))
    assert isinstance(b, P.ConditionalPutPublish)
    with pytest.raises(ValueError):
        P.force_publish_backend("bogus")


# --- end-to-end through the real Hadoop local FS -------------------------------


def test_hadoop_ops_probe_and_publish(spark, tmp_path):
    """The production FsOps over the real (local) Hadoop FS: the probe
    must report rename-exclusive (the property r11 verified
    empirically), selection must keep the rename backend, and a
    publish race must stay first-writer-wins."""
    ops = P.HadoopFsOps(spark, str(tmp_path))
    caps = P.probe_publish_capability(ops, f"{tmp_path}/_commits")
    assert caps["rename_exclusive"] is True
    assert caps["conditional_create"] is True
    key = ops.scheme_authority(str(tmp_path))
    b = P.backend_for(ops, f"{tmp_path}/_commits", key)
    assert isinstance(b, P.RenamePublish)
    t = f"{tmp_path}/_commits/v000000000001.json"
    assert b.publish_json(t, {"w": "A"}) is True
    assert b.publish_json(t, {"w": "B"}) is False
    assert json.loads(ops.read_bytes(t).decode())["w"] == "A"


def test_commit_protocol_via_conditional_put_end_to_end(spark, tmp_path):
    """Force the conditional-put backend through the REAL merge commit
    path (write base → merge → read back): the protocol must be
    backend-agnostic end-to-end, so the S3 migration is a selection
    change, not a protocol change."""
    from pyspark.sql import functions as F

    from python_vectordbapp_ceph_spark.operators import merge as M

    base = str(tmp_path / "base")
    P.force_publish_backend("conditional-put")
    try:
        df = spark.range(100).select(
            F.col("id").alias("key"), (F.col("id") * 2).alias("val")
        )
        M.write_bucketed_base(df, base, "key", n_buckets=4)
        got = M.read_base(spark, base)
        assert got.count() == 100
        # a second publish of the SAME version must lose (the racing-
        # committer guard, now via If-None-Match instead of rename)
        v, live = M.current_manifest(spark, base)
        with pytest.raises(RuntimeError, match="lost the publish race"):
            M._publish(spark, base, v, live)
    finally:
        P.force_publish_backend(None)


# --- conditional-create ATOMICITY (the property the probe can't see) ----------


class FakeEmulatedCondS3Fs(FakeS3Fs):
    """Reject-on-existing implemented as HEAD-then-PUT emulation: the
    sequential probe sees identical semantics to a real conditional
    PUT, but under a race two writers could both pass the check. The
    store self-reports the emulation (on s3a this is
    fs.s3a.create.conditional.enabled=false)."""

    def conditional_create_atomicity(self, path):
        return False


class FakeUnknownAtomicityS3Fs(FakeS3Fs):
    def conditional_create_atomicity(self, path):
        return None


def test_emulated_conditional_create_is_refused():
    """Semantics alone must NOT select conditional-put: when the store
    says its reject-on-existing is a client-side emulation, selection
    fails fast instead of trusting a backend with a silent lost-commit
    race window."""
    with pytest.raises(P.UnsafePublishStoreError, match="HEAD-then-PUT"):
        P.backend_for(FakeEmulatedCondS3Fs(), "/t/_commits", ("s3a", "emul"))


def test_unknown_atomicity_selects_with_trust():
    """Unknown atomicity (flag unset / non-s3 scheme) keeps the
    conditional-put selection — refusing would block every legitimate
    object store — but the trust is logged, not silent."""
    b = P.backend_for(
        FakeUnknownAtomicityS3Fs(), "/t/_commits", ("s3a", "unk")
    )
    assert isinstance(b, P.ConditionalPutPublish)


def test_lease_acquire_fails_fast_on_unsafe_store():
    """The lease path shares the selection policy: a store with
    neither exclusive rename nor usable conditional create refuses at
    acquire — no lease protocol can be first-writer-wins there."""
    from python_vectordbapp_ceph_spark.operators.lease import (
        acquire_writer_lease,
    )

    class ListingLegacy(FakeLegacyS3Fs):
        def list_names(self, dir_path):
            prefix = dir_path.rstrip("/") + "/"
            return [
                p[len(prefix):]
                for p in self.files
                if p.startswith(prefix) and "/" not in p[len(prefix):]
            ]

    with pytest.raises(P.UnsafePublishStoreError):
        acquire_writer_lease(None, "/led", timeout_ms=0, ops=ListingLegacy())


def test_merge_crash_and_retry_under_conditional_put(
    spark, tmp_path, monkeypatch
):
    """Crash-atomicity is backend-independent: the rename twin
    (tests/test_merge.py test_merge_crash_before_publish_leaves_old_state)
    re-run with the conditional-put backend forced — crash between
    stage and publish leaves the old state exactly readable and the
    staged generation invisible; the retry self-heals to exactly the
    new contents through a conditional create."""
    import os

    import python_vectordbapp_ceph_spark.operators.merge as M
    from python_vectordbapp_ceph_spark.operators.merge import (
        merge_into,
        read_base,
        write_bucketed_base,
    )

    P.force_publish_backend("conditional-put")
    try:
        path = str(tmp_path / "base")
        base = spark.createDataFrame(
            [(f"k{i}", i * 10, 0) for i in range(40)],
            "key string, val long, ts long",
        )
        write_bucketed_base(base, path, "key", n_buckets=4)
        old = {(r.key, r.val) for r in read_base(spark, path).collect()}

        changes = spark.createDataFrame(
            [("k1", 111, 1, "upsert"), ("k2", 0, 1, "delete"),
             ("new1", 999, 1, "upsert")],
            "key string, val long, ts long, op string",
        )
        # _try_publish is the single visibility transition every commit
        # route funnels through (fixed-version _publish AND the
        # optimistic rebase loop)
        real_publish = M._try_publish
        monkeypatch.setattr(M, "_try_publish", lambda *a, **kw: (_ for _ in ()).throw(
            RuntimeError("injected crash between stage and publish")
        ))
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_into(spark, path, changes, key_col="key", ts_col="ts",
                       n_buckets=4)
        spark.catalog.refreshByPath(path)
        assert {(r.key, r.val) for r in read_base(spark, path).collect()} == old

        monkeypatch.setattr(M, "_try_publish", real_publish)
        merge_into(spark, path, changes, key_col="key", ts_col="ts",
                   n_buckets=4)
        got = {(r.key, r.val) for r in read_base(spark, path).collect()}
        want = {(f"k{i}", i * 10) for i in range(40) if i not in (1, 2)}
        want |= {("k1", 111), ("new1", 999)}
        assert got == want
        # and the _latest hint tracked the conditional-put commit
        assert os.path.exists(os.path.join(path, "_commits", "_latest"))
    finally:
        P.force_publish_backend(None)


def test_hadoop_rename_transient_error_does_not_fence_heartbeat(spark, tmp_path):
    """HadoopFsOps.rename answers False only for a taken destination; a
    transient rename error propagates, so a lease heartbeat hit by one
    stays held (the next heartbeat lands) instead of reading the error
    as a lost race and marking the healthy holder lost."""
    from python_vectordbapp_ceph_spark.operators.lease import acquire_writer_lease

    prev = P._FORCED_BACKEND
    P.force_publish_backend("rename")
    try:
        lease_path = str(tmp_path / "t") + "._lease"
        ops = P.HadoopFsOps(spark, lease_path)
        lease = acquire_writer_lease(
            spark, str(tmp_path / "t"), lease_path=lease_path, ops=ops
        )
        real = ops._fs

        class FlakyRename:
            failures = 1

            def __getattr__(self, name):
                return getattr(real, name)

            def rename(self, src, dst):
                if self.failures:
                    self.failures -= 1
                    raise OSError("connection reset during rename")
                return real.rename(src, dst)

        ops._fs = FlakyRename()
        with pytest.raises(OSError, match="connection reset"):
            lease.heartbeat()
        assert not lease.lost
        lease.heartbeat()
        epochs = lease._list_epochs()
        assert max(epochs) == lease.epoch
        assert lease._read_epoch(lease.epoch)["owner"] == lease.owner
        # the failed attempt's staged tmp was removed
        assert [n for n in ops.list_names(lease._dir) if ".tmp-" in n] == []
        # a taken destination still answers False, not an error
        ops.create_bytes(f"{lease._dir}/x", b"x", overwrite=True)
        assert ops.rename(f"{lease._dir}/x", lease._epoch_file(lease.epoch)) is False
        lease.release()
    finally:
        P.force_publish_backend(prev)
