"""operators/lease.py — the ledger's single-writer lease.

The one unsafe composition in the commit protocol is a second writer
racing an armed compaction/vacuum pass: vacuum reclaims any staged
generation no retained manifest references, and a concurrent writer's
not-yet-published staging looks exactly like crash debris. These tests
pin the enforcement the r10 verdict asked for: two concurrent
appenders → one wins, the loser RAISES (never corrupts), ledger
content exact; plus the stale-lease takeover, heartbeat-loss, and
vacuum stage-grace behaviors. The lease state is read straight off
the filesystem: the highest ``e*.json`` record under
``<lease_path>.epochs/``.
"""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.operators.lease import (
    LEASE_FILE,
    LedgerLockedError,
    acquire_writer_lease,
    recover_swap,
    sibling_lease_path,
    swap_dirs,
)
from python_vectordbapp_ceph_spark.operators.merge import vacuum
from python_vectordbapp_ceph_spark.operators.shards import (
    append_segment,
    read_ledger,
)
from python_vectordbapp_ceph_spark.streaming.shard_ingest import stream_append

BUDGET = 500


def _docs(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), F.lit(100)) + 1).alias("n_tokens"),
    )


def _stream(spark, src):
    return spark.readStream.schema("doc_id long, n_tokens long").parquet(src)


def _ledger_lease(path):
    return os.path.join(path, "_commits", LEASE_FILE)


def lease_record(lease_path):
    """The lease's current state: the highest ``e*.json`` record under
    ``<lease_path>.epochs/``, or None when there is none. A record not
    readable yet (a conditional create writes the target in place) or
    GC'd between the listing and the read falls back to the next lower
    name, as the lease's own scan does."""
    d = lease_path + ".epochs"
    names = os.listdir(d) if os.path.isdir(d) else []
    for n in sorted(
        (n for n in names if n.startswith("e") and n.endswith(".json")),
        reverse=True,
    ):
        try:
            with open(os.path.join(d, n)) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            continue
    return None


def wait_released(lease_path, timeout=15.0):
    """The release runs on a daemon thread right after termination —
    poll briefly for the ``released`` record instead of assuming it beat
    us here."""
    deadline = time.time() + timeout
    while True:
        rec = lease_record(lease_path)
        if rec is not None and rec.get("released"):
            return rec
        if time.time() > deadline:
            raise AssertionError(f"lease not released: {rec}")
        time.sleep(0.1)


@pytest.mark.slow
def test_two_concurrent_appenders_one_wins_loser_raises(spark, tmp_path):
    """The r10 verdict's done-criterion: writer A streams into the
    ledger; writer B against the same path raises at start (fail-fast,
    no write, no reclaim); after A finishes, B succeeds and the ledger
    holds exactly both batches' docs in one coherent token sequence."""
    led = str(tmp_path / "led")
    src_a, src_b = str(tmp_path / "a"), str(tmp_path / "b")
    docs_a, docs_b = _docs(spark, 0, 120), _docs(spark, 5000, 80)
    docs_a.coalesce(1).write.parquet(src_a)
    docs_b.coalesce(1).write.parquet(src_b)

    qa = stream_append(
        _stream(spark, src_a), led, str(tmp_path / "ckpt_a"), BUDGET,
        vacuum_keep=2,
    )
    # A acquired synchronously before start ⇒ B must fail fast while
    # A's drain is still in flight (timeout 0: no grace poll)
    with pytest.raises(LedgerLockedError, match="live writer"):
        stream_append(
            _stream(spark, src_b), led, str(tmp_path / "ckpt_b"), BUDGET,
            vacuum_keep=2, lease_timeout_ms=0,
        )
    assert qa.awaitTermination(120)
    wait_released(_ledger_lease(led))

    qb = stream_append(
        _stream(spark, src_b), led, str(tmp_path / "ckpt_b2"), BUDGET,
        vacuum_keep=2,
    )
    assert qb.awaitTermination(120)
    wait_released(_ledger_lease(led))

    spark.catalog.refreshByPath(led)
    rows = read_ledger(spark, led).collect()
    want = {(r.doc_id, r.n_tokens) for r in docs_a.collect()} | {
        (r.doc_id, r.n_tokens) for r in docs_b.collect()
    }
    assert {(r.doc_id, r.n_tokens) for r in rows} == want
    prev = 0
    for r in sorted(rows, key=lambda r: r.cum):
        assert r.cum == prev + r.n_tokens, "token sequence broken"
        prev = r.cum


def test_stale_lease_is_broken_and_reacquired(spark, tmp_path):
    """A holder that died without release blocks only until its TTL;
    then the next writer breaks the lease and proceeds."""
    led = str(tmp_path / "led")
    append_segment(spark, led, _docs(spark, 0, 50), BUDGET)
    epochs = _ledger_lease(led) + ".epochs"
    os.makedirs(epochs)
    now_ms = int(time.time() * 1000)
    with open(os.path.join(epochs, "e000000000001.json"), "w") as f:
        json.dump({"owner": "dead-writer", "epoch": 1,
                   "acquired_ms": now_ms - 10_000,
                   "heartbeat_ms": now_ms - 10_000, "ttl_ms": 1_000}, f)
    lease = acquire_writer_lease(spark, led, timeout_ms=0)
    try:
        assert lease.owner != "dead-writer"
        assert lease.epoch == 2  # fenced the dead record, one epoch up
        cur = lease_record(_ledger_lease(led))
        assert cur["owner"] == lease.owner and not cur.get("released")
        assert not os.path.exists(os.path.join(epochs, "e000000000001.json"))
    finally:
        lease.release()
    assert wait_released(_ledger_lease(led), timeout=0)["owner"] == lease.owner


def test_fresh_lease_fails_fast_and_steal_overrides(spark, tmp_path):
    led = str(tmp_path / "led")
    holder = acquire_writer_lease(spark, led)
    with pytest.raises(LedgerLockedError, match="live writer"):
        acquire_writer_lease(spark, led, timeout_ms=0)
    # explicit takeover (operator knows the holder is dead)
    thief = acquire_writer_lease(spark, led, timeout_ms=0, steal=True)
    # the displaced holder's next heartbeat must raise, not republish
    with pytest.raises(LedgerLockedError, match="lost"):
        holder.heartbeat()
    # and its release must not touch the thief's lease
    holder.release()
    cur = lease_record(_ledger_lease(led))
    assert cur["owner"] == thief.owner and not cur.get("released")
    thief.release()


def test_lease_stolen_mid_stream_fails_batch_not_ledger(spark, tmp_path):
    """A writer whose lease was taken must fail its next micro-batch
    (heartbeat raises inside foreachBatch → the query errors) while
    the ledger stays exactly at its last committed state."""
    led = str(tmp_path / "led")
    src = str(tmp_path / "src")
    _docs(spark, 0, 60).coalesce(1).write.parquet(src)
    q = stream_append(_stream(spark, src), led, str(tmp_path / "ckpt"),
                      BUDGET)
    assert q.awaitTermination(120)
    wait_released(_ledger_lease(led))
    spark.catalog.refreshByPath(led)
    committed = {(r.doc_id, r.n_tokens) for r in read_ledger(spark, led).collect()}

    # a rogue second writer holds the lease when the stream restarts
    rogue = acquire_writer_lease(spark, led)
    _docs(spark, 1000, 40).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(LedgerLockedError):
        stream_append(_stream(spark, src), led, str(tmp_path / "ckpt"),
                      BUDGET, lease_timeout_ms=0)
    # steal-restart: the checkpointed stream takes the lease back and
    # the rogue's in-memory handle can no longer heartbeat
    q2 = stream_append(_stream(spark, src), led, str(tmp_path / "ckpt"),
                       BUDGET, lease_timeout_ms=0, steal_lease=True)
    assert q2.awaitTermination(120)
    with pytest.raises(LedgerLockedError):
        rogue.heartbeat()
    spark.catalog.refreshByPath(led)
    now = {(r.doc_id, r.n_tokens) for r in read_ledger(spark, led).collect()}
    assert committed < now and len(now) == len(committed) + 40


def test_vacuum_stage_grace_protects_young_uncommitted_staging(
    spark, tmp_path
):
    """vacuum(stage_grace_ms=N): a staged generation NO commit ever
    referenced survives while young (it may be a live writer's
    in-flight staging), is reclaimed once older than the grace — and
    committed-then-superseded generations reclaim regardless of age,
    so retention bounds are unaffected."""
    led = str(tmp_path / "led")
    append_segment(spark, led, _docs(spark, 0, 50), BUDGET)
    append_segment(spark, led, _docs(spark, 100, 50), BUDGET)

    staged = os.path.join(led, "gen=99-deadbeef", "_kb=99")
    os.makedirs(staged)
    _docs(spark, 900, 5).coalesce(1).write.mode("overwrite").parquet(staged)

    # graced pass: the young never-committed stage survives
    removed = vacuum(spark, led, keep_versions=1,
                     stage_grace_ms=10 * 60 * 1000)
    assert os.path.exists(staged), "in-flight staging was reclaimed"

    assert removed == 0  # both committed gens are live in v1
    live_gens = {n for n in os.listdir(led) if n.startswith("gen=")}
    assert "gen=99-deadbeef" in live_gens
    # both committed generations stay (each holds a live segment),
    # plus the graced stage
    assert len(live_gens) == 3

    # age out the stage and vacuum again with the same grace: reclaimed
    old = (time.time() - 3600, time.time() - 3600)
    os.utime(os.path.join(led, "gen=99-deadbeef"), old)
    vacuum(spark, led, keep_versions=1, stage_grace_ms=10 * 60 * 1000)
    assert not os.path.exists(staged), "aged orphan must be reclaimed"

    # default grace=0 is the historical reclaim-now behavior
    staged2 = os.path.join(led, "gen=98-cafef00d", "_kb=98")
    os.makedirs(staged2)
    _docs(spark, 950, 5).coalesce(1).write.mode("overwrite").parquet(staged2)
    vacuum(spark, led, keep_versions=1)
    assert not os.path.exists(staged2)

    # ledger reads are untouched throughout
    assert read_ledger(spark, led).count() == 100


def _vecs(spark, lo, n, dim=8):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j * 13) % 31) for j in range(dim)])
         for i in range(lo, lo + n)],
        "vec_id long, embedding array<float>",
    )


@pytest.mark.slow
def test_ivf_rebuild_and_stream_share_one_lease(spark, tmp_path):
    """The IVF maintenance surface has the ledger's hazard in reverse:
    an append racing rebuild's two-rename swap vanishes with the
    ``._old`` directory. Rebuild and the maintenance stream take the
    SAME sibling lease, so the race fails fast on either side."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        build_ivf,
        load_ivf,
        rebuild_saved_ivf,
        save_ivf,
    )
    from python_vectordbapp_ceph_spark.streaming.ivf_ingest import (
        stream_into_ivf,
    )

    root = str(tmp_path / "ivf")
    save_ivf(build_ivf(_vecs(spark, 0, 120), nlist=4), root)
    assigned = f"{root}/assigned"

    # a held lease (stand-in for a live maintenance stream) blocks the
    # rebuild fail-fast, layout untouched
    holder = acquire_writer_lease(
        spark, assigned, lease_path=sibling_lease_path(assigned)
    )
    with pytest.raises(LedgerLockedError):
        rebuild_saved_ivf(spark, root, lease_timeout_ms=0)
    assert load_ivf(spark, root).assigned.count() == 120
    holder.release()

    # a REAL maintenance stream holds it; rebuild fails while draining,
    # succeeds after termination, and sees the streamed adds
    src = str(tmp_path / "src")
    _vecs(spark, 1000, 60).coalesce(2).write.parquet(src)
    q = stream_into_ivf(
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1).parquet(src),
        load_ivf(spark, root),
        assigned,
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(LedgerLockedError):
        rebuild_saved_ivf(spark, root, lease_timeout_ms=0)
    assert q.awaitTermination(120)
    wait_released(sibling_lease_path(assigned))
    spark.catalog.refreshByPath(assigned)
    rebuilt = rebuild_saved_ivf(spark, root)
    assert rebuilt.assigned.count() == 180
    # and the lease is free again after the rebuild's finally-release
    acquire_writer_lease(
        spark, assigned, lease_path=sibling_lease_path(assigned), timeout_ms=0
    ).release()


def test_auto_heartbeat_keeps_idle_lease_fresh(spark, tmp_path):
    """A holder whose work doesn't tick (continuous stream with an
    idle source, a long refit) must not present as 'expired': the
    auto-heartbeat thread keeps the lease fresh past several TTLs, a
    would-be taker still fails fast, and release() stops the thread
    and frees the slot."""
    led = str(tmp_path / "led")
    holder = acquire_writer_lease(spark, led, ttl_ms=1500)
    holder.start_auto_heartbeat(interval_s=0.4)
    time.sleep(3.5)  # > 2 TTLs of idleness
    with pytest.raises(LedgerLockedError, match="live writer"):
        acquire_writer_lease(spark, led, timeout_ms=0)
    assert not holder.lost
    holder.release()
    time.sleep(0.6)  # a straggling heartbeat tick must not resurrect it
    assert wait_released(_ledger_lease(led), timeout=0)["owner"] == holder.owner
    acquire_writer_lease(spark, led, timeout_ms=0).release()


@pytest.mark.slow
def test_continuous_stream_survives_idle_gap(spark, tmp_path):
    """available_now=False (the 24/7 mode — previously untested): the
    source goes idle LONGER than the lease TTL, the auto-heartbeat
    keeps the lease fresh (a taker still fails fast), late-arriving
    data still packs without a spurious LedgerLockedError, and stop()
    releases the lease."""
    src = str(tmp_path / "src")
    led = str(tmp_path / "led")
    _docs(spark, 0, 40).coalesce(1).write.parquet(src)
    q = stream_append(
        _stream(spark, src), led, str(tmp_path / "ckpt"), BUDGET,
        available_now=False, lease_ttl_ms=2000,
    )
    try:
        deadline = time.time() + 60
        while True:
            try:
                spark.catalog.refreshByPath(led)
                if read_ledger(spark, led).count() == 40:
                    break
            except Exception:
                pass
            assert time.time() < deadline, "first batch never committed"
            time.sleep(0.5)

        time.sleep(3.0)  # idle gap > TTL: only the auto-heartbeat ticks
        with pytest.raises(LedgerLockedError, match="live writer"):
            acquire_writer_lease(spark, led, timeout_ms=0)

        _docs(spark, 1000, 25).coalesce(1).write.mode("append").parquet(src)
        deadline = time.time() + 60
        while True:
            spark.catalog.refreshByPath(led)
            if read_ledger(spark, led).count() == 65:
                break
            assert time.time() < deadline, (
                "post-idle batch never committed — heartbeat must not "
                "have spuriously failed the stream"
            )
            time.sleep(0.5)
        assert q.isActive and q.exception() is None
    finally:
        q.stop()
    wait_released(_ledger_lease(led))
    acquire_writer_lease(spark, led, timeout_ms=0).release()


def test_collection_mutations_respect_writer_lease(spark, tmp_path):
    """The collection's change log is the third swap-guarded surface:
    compact()'s two-rename replaces the log directory, so appends hold
    the sibling lease briefly and compact holds it across the swap —
    a foreign holder makes both fail fast, and everything works again
    once released."""
    from python_vectordbapp_ceph_spark.collection import VectorCollection

    c = VectorCollection(
        spark=spark, path=str(tmp_path / "col"), dim=4, name="t"
    ).ensure_exists()
    c.lease_timeout_ms = 0

    def rows(*keys):
        return spark.createDataFrame(
            [(k, [1.0, 0.0, 0.0, 0.0], {"x": "1"}) for k in keys],
            "key string, embedding array<float>, tags map<string,string>",
        )

    c.upsert(rows("k1", "k2"))
    wait_released(c.path + "._lease", timeout=0)  # append must release

    holder = acquire_writer_lease(
        spark, c.path, lease_path=c.path + "._lease"
    )
    with pytest.raises(LedgerLockedError):
        c.upsert(rows("k3"))
    with pytest.raises(LedgerLockedError):
        c.compact()
    holder.release()

    c.upsert(rows("k3"))
    c.delete_keys(["k1"])
    c.compact()
    assert {r.key for r in c.snapshot().collect()} == {"k2", "k3"}
    wait_released(c.path + "._lease", timeout=0)


def test_sidecar_union_warning_fires_when_unbounded(
    spark, tmp_path, monkeypatch, caplog
):
    """An unarmed stream's growing sidecar union warns loudly instead
    of degrading silently (threshold lowered to make 2 containers
    'big')."""
    import logging

    import python_vectordbapp_ceph_spark.operators.shards as sh

    led = str(tmp_path / "led")
    append_segment(spark, led, _docs(spark, 0, 50), BUDGET)
    append_segment(spark, led, _docs(spark, 100, 50), BUDGET)
    monkeypatch.setattr(sh, "SIDECAR_UNION_WARN_BYTES", 1)
    with caplog.at_level(logging.WARNING,
                         logger="python_vectordbapp_ceph_spark.operators.shards"):
        # probe range overlaps BOTH containers (the zonemap must not
        # prune them, or there is nothing to warn about)
        sh.dedup_against_ledger(spark, led, _docs(spark, 40, 80)).count()
    assert any("arm compaction" in r.message for r in caplog.records)


# --- heartbeat: fenced holders fail fast, live holders refresh ------------------


def test_heartbeat_raises_and_preserves_thiefs_lease(spark, tmp_path):
    """A displaced holder's heartbeat must fail fast AND leave the new
    holder's lease exactly as it found it (the dual-writer hazard)."""
    path = str(tmp_path / "ledger")
    l1 = acquire_writer_lease(spark, path, timeout_ms=0)
    l2 = acquire_writer_lease(spark, path, timeout_ms=0, steal=True)
    with pytest.raises(LedgerLockedError):
        l1.heartbeat()
    assert l1.lost is True
    # l2's lease survived l1's failed heartbeat — and still works
    l2.heartbeat()
    assert lease_record(l1.lease_path)["owner"] == l2.owner
    l2.release()


def test_heartbeat_raises_when_next_epoch_taken(spark, tmp_path):
    """A breaker that already published the holder's next epoch fences
    it: the holder's heartbeat raises, marks the lease lost, and leaves
    the breaker's record untouched."""
    path = str(tmp_path / "ledger")
    l1 = acquire_writer_lease(spark, path, timeout_ms=0)
    nxt = os.path.join(l1.lease_path + ".epochs", f"e{l1.epoch + 1:012d}.json")
    now_ms = int(time.time() * 1000)
    theirs = {"owner": "breaker", "epoch": l1.epoch + 1,
              "acquired_ms": now_ms, "heartbeat_ms": now_ms,
              "ttl_ms": 600_000}
    with open(nxt, "w") as f:
        json.dump(theirs, f)
    with pytest.raises(LedgerLockedError, match="lost"):
        l1.heartbeat()
    assert l1.lost is True
    assert lease_record(l1.lease_path) == theirs
    l1.release()  # fenced: a no-op
    assert lease_record(l1.lease_path) == theirs


def test_heartbeat_refreshes_own_lease(spark, tmp_path):
    path = str(tmp_path / "ledger")
    l1 = acquire_writer_lease(spark, path, timeout_ms=0)
    before = lease_record(l1.lease_path)
    time.sleep(0.05)
    l1.heartbeat()
    after = lease_record(l1.lease_path)
    assert after["owner"] == l1.owner
    assert after["epoch"] == before["epoch"] + 1 == l1.epoch
    assert after["heartbeat_ms"] > before["heartbeat_ms"]
    l1.release()


def test_collection_compact_starts_auto_heartbeat(spark, tmp_path, monkeypatch):
    """compact() must keep its lease fresh across a long rewrite —
    pinned by spying start_auto_heartbeat (the same protection
    rebuild_ivf uses; a TTL-long compaction otherwise presents an
    expired lease that a concurrent appender may break mid-swap)."""
    from python_vectordbapp_ceph_spark.collection import VectorCollection
    from python_vectordbapp_ceph_spark.operators import lease as L

    started = []
    orig = L.EpochWriterLease.start_auto_heartbeat
    monkeypatch.setattr(
        L.EpochWriterLease, "start_auto_heartbeat",
        lambda self, *a, **k: started.append(self.path) or orig(self, *a, **k),
    )
    path = str(tmp_path / "col")
    col = VectorCollection(spark, path, dim=2, lease_timeout_ms=0)
    col.upsert(
        spark.createDataFrame(
            [("k1", [1.0, 2.0])], "key string, embedding array<float>"
        )
    )
    col.compact()
    assert path in started
    assert col.snapshot().count() == 1


# --- the shared two-rename directory swap (IVF rebuild, collection compact) ---


def _layout(path, name):
    os.makedirs(path)
    open(os.path.join(path, name), "w").close()


def test_swap_dirs_replaces_layout_and_clears_finished_leftover(spark, tmp_path):
    """The swap publishes the staged directory at the live path and
    deletes the old one; a ``._old`` beside a LIVE path is a finished
    swap's leftover, cleared first instead of failing the rename."""
    path, tmp = str(tmp_path / "layout"), str(tmp_path / "layout._tmp")
    _layout(path, "old_part")
    _layout(tmp, "new_part")
    _layout(path + "._old", "stale")
    swap_dirs(spark, tmp, path, op="test")
    assert os.listdir(path) == ["new_part"]
    assert not os.path.exists(tmp) and not os.path.exists(path + "._old")
    # healthy layout: recovery is a no-op
    assert recover_swap(spark, path, op="test") is False
    assert os.listdir(path) == ["new_part"]


class _HealedUnderUsFs:
    """Fake (fs, hpath) pair: the layout looks interrupted at check
    time, but the rename fails because another recoverer healed it in
    between — afterwards the live path exists."""

    def __init__(self, path):
        self.path = path
        self.renamed = False

    # hpath stand-in: identity
    def hpath(self, p):
        return p

    def exists(self, p):
        if p == self.path:
            return self.renamed  # absent at check, present after race
        return not self.renamed  # ._old: present at check, then gone

    def rename(self, src, dst):
        self.renamed = True  # "the other recoverer won"
        return False


def test_recover_swap_tolerates_concurrent_healer(spark, tmp_path):
    """A recovery rename that loses to a concurrent recoverer which
    already healed the layout reports success, not an IOError."""
    path = str(tmp_path / "idx_assigned")
    fake = _HealedUnderUsFs(path)
    assert recover_swap(
        spark, path, op="test", _fs_pair=(fake, fake.hpath)
    ) is True


def test_recover_swap_still_raises_on_genuine_failure(spark, tmp_path):
    class _BrokenFs(_HealedUnderUsFs):
        def rename(self, src, dst):
            return False  # fails, and nothing healed the layout

        def exists(self, p):
            return p.endswith("._old")  # old present, live absent

    path = str(tmp_path / "idx_assigned2")
    fake = _BrokenFs(path)
    with pytest.raises(IOError, match="crash-recovery"):
        recover_swap(spark, path, op="test", _fs_pair=(fake, fake.hpath))
