"""Single-writer lease for the manifest-committed ledgers and the
swap-replaced layouts (IVF inverted files, the collection change log).

Every race inside the commit protocol itself is already safe by
construction: writers stage into uniquely-named generation directories
and publish with one rename-without-overwrite, so a publish loser can
never have touched the winner's files (operators/merge.py). The unsafe
COMPOSITIONS are a second writer racing a maintenance pass:

  - ``vacuum()`` reclaims any staged generation no retained manifest
    references, and writer B's not-yet-published staging is
    indistinguishable from a crashed orphan — writer A's vacuum can
    delete it mid-flight (the r10 verdict's one documented-but-
    unenforced constraint);
  - a two-rename directory swap (IVF rebuild, collection compact)
    silently deletes an append that landed between the snapshot read
    and the rename — or the append recreates the live path mid-swap
    and wedges the rollback.

This module turns both misuses into fail-fast errors: at most one
live writer per guarded path.

Since r14 the lease is NOT required between plain writers: the commit
protocol's optimistic concurrency (merge.commit_optimistic) lets
disjoint-bucket commits rebase and land concurrently, and overlapping
ones lose with a typed conflict. The lease remains the guard for the
maintenance COMPOSITIONS above (vacuum/swap vs in-flight staging) and
an optional serialization convenience for order-dependent appenders
(a ledger's segment tail) that prefer waiting over retrying.

Mechanics — one FENCING-TOKEN protocol on every store, built from the
SAME primitive the commit protocol trusts: the per-store atomic JSON
publish (operators/publish.py) — stage+rename-without-overwrite where
rename is exclusive (HDFS/local), a conditional create (If-None-Match)
on S3-like stores whose rename is copy+delete. Both answer one
question atomically: "create this record iff nothing exists there
yet". The backend is resolved once per acquire, before any lease
transition, so a store with no safe publish fails fast with
:class:`~.publish.UnsafePublishStoreError` instead of timing out as
"locked".

The lease is the HIGHEST-numbered record in a dedicated
``<lease_path>.epochs/`` directory, and every transition is one
publish of the NEXT epoch record — first-writer-wins, no rename of a
live record and no delete of anyone else's:

  - ``acquire_writer_lease`` publishes ``e+1`` over an absent,
    released or expired max record ``e`` (or any record, with
    ``steal=True``); a fresh foreign record makes the acquire poll
    briefly, then raise :class:`LedgerLockedError` naming the holder.
    Exactly one of any number of racing acquirers/breakers wins.
  - every successful publish is re-verified against a fresh listing
    (still the maximum?): a fenced-out writer whose next-epoch slot
    was garbage-collected can never resurrect below the live holder,
    whose current record always exists and always outranks it.
  - ``heartbeat()`` publishes ``epoch+1`` with a fresh timestamp
    (serialized by an in-process lock with the auto-heartbeat
    thread). A breaker who already took ``epoch+1`` makes it fail:
    the lease is marked lost and the displaced writer FAILS its batch
    instead of publishing into a layout someone else now maintains.
  - ``start_auto_heartbeat()`` keeps the lease fresh from a daemon
    thread — for long-running holders whose work doesn't tick (a
    continuous stream with an idle source, a 100 TB KMeans refit):
    without it, an idle gap longer than the TTL presents as "expired"
    and routine maintenance displaces a healthy writer.
  - ``release()`` publishes ``epoch+1`` carrying ``released: true``,
    so the next acquirer skips the TTL wait.
  - a publish that reports "exists" is reconciled before it counts as
    lost: if the record at that epoch is OURS (a lost acknowledgment
    on either backend), the transition already happened.

Reference anchor: the reference delegates concurrent-writer safety to
its backends (milvus upsert is backend-atomic,
milvus-app/pythonvectordbceph_milvus.py:154; RGW serializes object
puts) — the Spark rebuild owns its layouts, so it owns the lock.
"""

from __future__ import annotations

import json
import logging
import threading
import time
import uuid

from pyspark.sql import SparkSession

from .merge import _COMMITS, _fs
from .publish import HadoopFsOps, backend_for

_log = logging.getLogger(__name__)

LEASE_FILE = "_writer.lease"
# Generous enough that no single micro-batch outlives it (and the
# auto-heartbeat covers idle/long holders), small enough that a
# hard-killed writer doesn't block the restart for long.
LEASE_TTL_MS = 10 * 60 * 1000
# acquire() polls this long before declaring the path locked — masks
# the instant between a finished writer's termination and its async
# release without weakening fail-fast for genuinely live holders.
ACQUIRE_TIMEOUT_MS = 10_000
_POLL_MS = 200


class LedgerLockedError(RuntimeError):
    """Another live writer holds (or took) the path's writer lease."""


def _now_ms() -> int:
    return int(time.time() * 1000)


def sibling_lease_path(path: str) -> str:
    """Lease location for a layout whose directory itself gets
    atomically SWAPPED (IVF rebuild, collection compact): a lease
    stored inside the directory would swap out with the data it
    guards, so it lives as a sibling ``<path>._lease`` (its records
    under ``<path>._lease.epochs/``)."""
    return path.rstrip("/") + "._lease"


def swap_dirs(spark: SparkSession, tmp: str, path: str, op: str) -> None:
    """Replace the directory ``path`` with the staged ``tmp`` by two
    renames, each atomic on HDFS/POSIX: ``path`` → ``path._old``, then
    ``tmp`` → ``path``, then delete ``path._old``. The IVF rebuild and
    the collection compaction both publish through it, holding the
    layout's sibling writer lease (:func:`sibling_lease_path`).

    A crash between the renames leaves the live path ABSENT with the
    old layout intact at ``path._old``; the next lease holder heals it
    with :func:`recover_swap`, so a reader in the crash-to-recovery
    window sees path-not-found, never mixed or lost data. A
    ``path._old`` found next to a live path is a finished swap's
    leftover and is deleted first. Drops cached file listings
    afterwards so already-open sessions re-list."""
    fs, hpath = _fs(spark, tmp)
    old = path + "._old"
    fs.delete(hpath(old), True)
    if not fs.rename(hpath(path), hpath(old)):
        raise IOError(
            f"{op}: rename {path} -> {old} failed; "
            "live layout untouched, new layout at the temp path"
        )
    if not fs.rename(hpath(tmp), hpath(path)):
        fs.rename(hpath(old), hpath(path))  # roll back
        raise IOError(
            f"{op}: rename {tmp} -> {path} failed; "
            "old layout restored, new layout at the temp path"
        )
    fs.delete(hpath(old), True)
    spark.catalog.refreshByPath(path)


def recover_swap(spark: SparkSession, path: str, op: str, _fs_pair=None) -> bool:
    """Heal a crash that landed BETWEEN :func:`swap_dirs`' two renames:
    the live path is absent but ``path._old`` exists — rename it back
    so readers and writers see the pre-swap layout instead of a
    missing one. Returns True if it restored the layout; a healthy
    layout costs one ``exists()`` call and returns False.

    LEASE-HOLDING CALLERS ONLY: renaming without the lease races a
    live writer's own swap. ``_fs_pair`` injects (fs, hpath) — tests
    only, to pin the lost-rename-race branch deterministically."""
    fs, hpath = _fs_pair or _fs(spark, path)
    old = path + "._old"
    if fs.exists(hpath(path)) or not fs.exists(hpath(old)):
        return False
    if not fs.rename(hpath(old), hpath(path)):
        # a concurrent recoverer (or the writer itself) may have healed
        # the layout between our existence check and the rename — a
        # healthy layout must not read as a hard failure
        if fs.exists(hpath(path)):
            spark.catalog.refreshByPath(path)
            return True
        raise IOError(
            f"{op}: crash-recovery rename {old} -> {path} failed; "
            "restore the layout manually before retrying"
        )
    _log.warning(
        "%s: recovered %s from an interrupted swap "
        "(previous layout restored from %s)", op, path, old,
    )
    spark.catalog.refreshByPath(path)
    return True


class EpochWriterLease:
    """A held fencing-token writer lease (see module docstring). Obtain
    one via :func:`acquire_writer_lease`.

    State = the highest-numbered record in ``<lease_path>.epochs/``
    (its OWN directory so scans never pay the commit listing):

      - acquire over an absent/released/expired/stolen max epoch e =
        publish ``e+1`` — exactly one of any number of racing
        acquirers/breakers wins, no delete of the loser's file is ever
        needed (the dead record is simply outranked);
      - heartbeat = publish ``self.epoch+1`` with a fresh timestamp; a
        breaker who already took ``epoch+1`` makes the publish fail →
        the displaced writer marks itself lost and raises, never
        publishing into a layout someone else maintains;
      - every successful publish re-verifies against a fresh listing
        that it is still the MAXIMUM epoch: the one resurrection
        hazard (our next-epoch slot was GC'd by a holder now two
        epochs ahead, so our publish "succeeds" below the true max) is
        caught because the true holder's current record is published
        BEFORE its predecessor is GC'd, so a listing always shows it;
      - release = publish ``epoch+1`` carrying ``released: true`` — the
        next acquirer skips the TTL wait;
      - GC: after each verified transition the writer deletes records
        below its own epoch, so the directory holds O(1) files (the
        current record, transiently its predecessor) instead of one
        per heartbeat forever.
    """

    def __init__(self, path: str, ttl_ms: int, lease_path: str, ops, backend):
        self.path = path
        self.lease_path = lease_path
        self.ttl_ms = int(ttl_ms)
        self.owner = uuid.uuid4().hex
        self.acquired_ms: int | None = None
        self.lost = False
        self.epoch = 0
        # owner of the record this handle's acquire moved past (None:
        # no record, or a steal) — a caller whose previous handle had
        # this owner knows no other writer held the lease in between
        self.predecessor_owner: str | None = None
        self._hb_lock = threading.Lock()
        self._stop = threading.Event()
        self._auto_hb = False
        self._dir = f"{lease_path}.epochs"
        self._ops = ops
        self._backend = backend

    # -- epoch plumbing -----------------------------------------------------
    def _epoch_file(self, e: int) -> str:
        return f"{self._dir}/e{e:012d}.json"

    def _list_epochs(self) -> list[int]:
        out = []
        for name in self._ops.list_names(self._dir):
            if name.startswith("e") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def _read_epoch(self, e: int) -> dict:
        return json.loads(bytes(self._ops.read_bytes(self._epoch_file(e))))

    def _scan(self) -> tuple[int, dict | None]:
        """(max epoch, its record) — (0, None) when no epoch exists.
        A record unreadable at the max (listing raced a GC below a
        brand-new max we then also miss) falls back to the next lower
        one; the callers' publish-then-verify makes any staleness here
        harmless (they just lose the publish race and rescan)."""
        for e in reversed(self._list_epochs()):
            try:
                return e, self._read_epoch(e)
            except Exception:
                continue
        return 0, None

    def _advance(self, nxt: int, extra: dict | None = None) -> bool:
        """One lease transition: publish epoch ``nxt`` through the
        store's backend, then verify it is still the maximum. True =
        we own epoch ``nxt``; False = fenced (publish lost to another
        writer, or a higher epoch appeared — our record is left as
        outranked garbage for the winner's GC). Transient store errors
        PROPAGATE — they are retryable, not a fence: treating a
        503/timeout as "lost" would permanently kill a healthy lease
        (and if the publish actually landed with the response lost,
        the orphan fresh record would block acquirers for a full TTL).
        A publish that reports "exists" therefore RECONCILES first: if
        the existing record at ``nxt`` is OURS — a previous attempt
        whose acknowledgment was lost — the transition already
        happened and is claimed, not failed."""
        payload = {
            "owner": self.owner,
            "epoch": nxt,
            "acquired_ms": self.acquired_ms or _now_ms(),
            "heartbeat_ms": _now_ms(),
            "ttl_ms": self.ttl_ms,
        }
        if extra:
            payload.update(extra)
        if not self._backend.publish_json(self._epoch_file(nxt), payload):
            try:
                rec = self._read_epoch(nxt)
            except Exception:
                return False
            if rec.get("owner") != self.owner:
                return False
            # ours from a lost acknowledgment — fall through to verify
        epochs = self._list_epochs()
        return bool(epochs) and max(epochs) == nxt

    def _gc(self, below: int) -> None:
        for e in self._list_epochs():
            if e < below:
                try:
                    self._ops.delete(self._epoch_file(e))
                except Exception:
                    pass

    # -- lifecycle ----------------------------------------------------------
    def heartbeat(self) -> None:
        """Refresh by advancing one epoch; raises LedgerLockedError if
        fenced out (a breaker/acquirer holds a higher epoch) — the
        caller must abort its write: someone else's maintenance may
        now reclaim its staging. Transient store errors propagate
        as-is WITHOUT marking the lease lost: the auto-heartbeat
        thread retries them next tick and an explicit caller may retry
        its batch — only a genuine fence is terminal."""
        with self._hb_lock:
            if self.lost:
                raise LedgerLockedError(
                    f"writer lease for {self.path} already lost"
                )
            nxt = self.epoch + 1
            if self._advance(nxt):
                self.epoch = nxt
                self._gc(nxt)
                return
            self.lost = True
            raise LedgerLockedError(
                f"writer lease for {self.path} lost (epoch {nxt} taken or "
                "outranked by another writer) — aborting: continuing could "
                "publish into a layout another writer is "
                "compacting/vacuuming/swapping"
            )

    def start_auto_heartbeat(self, interval_s: float | None = None) -> None:
        """Keep the lease fresh from a daemon thread (every ttl/3 by
        default) — for holders whose work doesn't tick: a continuous
        stream whose source goes idle past the TTL would otherwise
        present an expired lease and be displaced by routine
        maintenance, then fail its next real batch. Transient FS errors
        are retried next tick; a genuine loss (LedgerLockedError) stops
        the thread and the holder's next explicit heartbeat raises.
        Idempotent: a second call on the same lease is a no-op."""
        if self._auto_hb:
            return
        self._auto_hb = True
        interval = interval_s if interval_s is not None else max(
            1.0, self.ttl_ms / 3000.0
        )

        def _loop() -> None:
            while not self._stop.wait(interval):
                try:
                    self.heartbeat()
                except LedgerLockedError:
                    return
                except Exception:
                    continue

        threading.Thread(
            target=_loop,
            name=f"lease-heartbeat-{self.owner[:8]}",
            daemon=True,
        ).start()

    def release(self) -> None:
        """Publish a ``released`` record one epoch up (idempotent,
        never raises — called from finally paths). A successful
        release lets the next acquirer skip the TTL wait; a failed one
        (we were already fenced) changes nothing — the fence winner
        owns the slot either way."""
        self._stop.set()
        try:
            with self._hb_lock:
                if self.lost:
                    return
                # latch FIRST: even if the released-record publish
                # fails transiently, this handle must never heartbeat
                # again (the holder is terminating either way; the TTL
                # then bounds the next acquirer's wait).
                self.lost = True
                nxt = self.epoch + 1
                if self._advance(nxt, {"released": True}):
                    self._gc(nxt)
        except Exception:
            pass


def release_on_termination(query, lease) -> None:
    """Release ``lease`` the moment the StreamingQuery terminates
    (normal drain, failure, or stop()) — from a daemon thread so it
    never outlives the driver. Only a hard process kill skips this,
    and then the TTL bounds how long a restart waits (or it passes
    steal=True)."""

    def _wait() -> None:
        try:
            query.awaitTermination()
        except Exception:
            pass
        finally:
            lease.release()

    threading.Thread(
        target=_wait,
        name=f"lease-release-{lease.owner[:8]}",
        daemon=True,
    ).start()


def acquire_writer_lease(
    spark: SparkSession,
    path: str,
    ttl_ms: int = LEASE_TTL_MS,
    timeout_ms: int = ACQUIRE_TIMEOUT_MS,
    steal: bool = False,
    lease_path: str | None = None,
    ops=None,
) -> EpochWriterLease:
    """Acquire the single-writer lease for the layout at ``path``.

    Polls up to ``timeout_ms`` (a just-finished writer's async release
    lands within milliseconds; a live writer keeps its heartbeat fresh
    for the whole window), then raises :class:`LedgerLockedError`.
    ``steal=True`` breaks a live lease unconditionally — only for an
    operator who KNOWS the holder is dead (e.g. restarting the one
    stream that owns this checkpoint after a hard kill).
    ``lease_path`` overrides the lease location (default
    ``<path>/_commits/_writer.lease``, records under ``.epochs/`` next
    to it); swapped layouts use :func:`sibling_lease_path`. ``ops``
    injects the filesystem (contract tests drive fake stores through
    it); the publish backend is the one the per-store probe selects.

    The returned lease's ``predecessor_owner`` is the owner of the
    record it moved past (None for an empty record directory or a
    steal). It equals the owner of the caller's previous handle only
    if no other writer held the lease in between: owners are per-handle
    uuid4 values, and heartbeat and release publish under the same one.

    Free slots (no record / released / expired / steal / our own
    lost-ack record) are taken by publishing the next epoch; a live
    holder makes the loop poll then raise. EVERY path falls through to
    the deadline check and the poll sleep — a free slot whose publish
    keeps losing (or a store whose records list but won't read) must
    exhaust timeout_ms and raise, never hot-spin LIST+PUT forever."""
    lease_path = lease_path or f"{path}/{_COMMITS}/{LEASE_FILE}"
    if ops is None:
        ops = HadoopFsOps(spark, lease_path)
    # resolved ONCE, outside the retry below: a store with no safe
    # publish must raise UnsafePublishStoreError, not time out as locked
    backend = backend_for(
        ops, lease_path.rsplit("/", 1)[0], ops.scheme_authority(lease_path)
    )
    lease = EpochWriterLease(path, ttl_ms, lease_path, ops, backend)
    deadline = _now_ms() + max(0, int(timeout_ms))
    while True:
        cur_epoch, rec = lease._scan()
        now = _now_ms()
        free = (
            rec is None
            or rec.get("released")
            or steal
            # OUR OWN record at the max: a previous _advance in this
            # loop landed but its acknowledgment was lost as a generic
            # transient error (not an "exists" answer, which _advance
            # reconciles itself). Without this, the scan reads our
            # orphan as a live FOREIGN holder and acquisition
            # self-blocks until timeout while the orphan blocks every
            # other acquirer for a full TTL. owner is a per-handle
            # uuid4, so a match can only be this handle's own publish —
            # claim the slot by advancing past it.
            or rec.get("owner") == lease.owner
            or now > int(rec.get("heartbeat_ms", 0)) + int(
                rec.get("ttl_ms", ttl_ms)
            )
        )
        if free:
            lease.acquired_ms = now
            nxt = cur_epoch + 1
            try:
                won = lease._advance(nxt)
            except Exception:
                won = False  # transient store error — retry within budget
            if won:
                lease.epoch = nxt
                lease.predecessor_owner = (
                    rec.get("owner") if rec is not None and not steal else None
                )
                lease._gc(nxt)
                return lease
            # lost the epoch race — fall through to deadline + poll
        if _now_ms() > deadline:
            holder = rec.get("owner", "<unknown>") if rec else "<racer>"
            age = now - int(rec.get("heartbeat_ms", now)) if rec else 0
            raise LedgerLockedError(
                f"ledger at {path} already has a live writer (lease "
                f"owner {holder}, heartbeat {age} ms ago, epoch "
                f"{cur_epoch}). One writer per path: stop the other writer, "
                "or pass steal=True if you KNOW it is dead."
            )
        time.sleep(_POLL_MS / 1000.0)
