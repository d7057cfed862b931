"""Multi-process contention twin for the writer lease (r12 verdict ask
#4). test_epoch_lease covers racing acquirers IN-process; this tool
races two OS PROCESSES — each with its own JVM, its own SparkSession,
its own lease handle — against one ledger, with INJECTED transient
errors on the epoch-record publishes (the 503 and lost-acknowledgment
shapes operators/lease.py `_advance`/`acquire_writer_lease` claim to
reconcile). ``--protocol=condput`` (the default) forces the
conditional-put backend; ``--protocol=rename`` leaves the store probe
to select the rename backend on the local FS. The pytest orchestrator
(tests/test_contention_twin.py)
pins: exactly one winner, the loser aborts clean BEFORE any append,
the winner's ledger row-identical to a serial single-process run, and
no orphan epoch-record growth.

Modes (marker files on the shared filesystem order the race):
  --serial LEDGER          append the fixed batches single-process
                           (the control run)
  --writer LEDGER DIR      acquire the lease under a flaky-ops
                           schedule, signal "held", WAIT for the
                           contender's clean-abort marker, then append
                           the same fixed batches (explicit heartbeat
                           + bounded retry per batch), release
  --contender LEDGER DIR   wait for "held", attempt acquisition with a
                           short timeout — MUST lose (LedgerLockedError)
                           and write its marker without touching data

Flaky schedule (writer, both protocols): record-publish call 1 = lost
acknowledgment (the record lands, generic error raised — the acquire
loop's owner-adoption path), call 4 = pure transient (nothing lands —
retry path), call 5 = lost acknowledgment on a heartbeat (the
_advance "exists" owner-reconcile path). All three reconciliations
the protocol documents, exercised in one run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_vectordbapp_ceph_spark.session import get_spark  # noqa: E402
from python_vectordbapp_ceph_spark.operators import merge as M  # noqa: E402
from python_vectordbapp_ceph_spark.operators import publish as P  # noqa: E402
from python_vectordbapp_ceph_spark.operators import shards as S  # noqa: E402
from python_vectordbapp_ceph_spark.operators.lease import (  # noqa: E402
    LedgerLockedError,
    acquire_writer_lease,
)

N_BATCHES = 3
BUDGET = 500

# --- optimistic multi-writer twin (r13 verdict ask #1) -----------------------
# fixed MERGE-BASE geometry: 40 keys k0..k39 over 16 hash buckets.
# xxhash64 bucket assignment is stable across Spark versions, so the
# disjoint pair is a constant: k1 -> bucket 1, k2 -> bucket 3.
OPT_N_BUCKETS = 16
OPT_KEY_A, OPT_KEY_B = "k1", "k2"         # disjoint buckets (1 vs 3)
OPT_ROUND2_KEY = "k1"                     # both writers -> overlap


def _opt_base_rows(spark):
    return spark.createDataFrame(
        [(f"k{i}", i * 10, 0) for i in range(40)],
        "key string, val long, ts long",
    )


def _opt_change(spark, key, val, ts):
    return spark.createDataFrame(
        [(key, val, ts, "upsert")],
        "key string, val long, ts long, op string",
    )


def _opt_merge_pinned(spark, base, change, stale):
    """merge_into with the manifest READ pinned to ``stale`` (captured
    by the caller BEFORE the inter-process barrier) — the optimistic-
    concurrency geometry: the other writer's commit lands between this
    read and our publish, and the commit loop must rebase (disjoint)
    or conflict (overlap). Pinning makes the cross-process race
    deterministic regardless of JVM timing; the conflict-check/rebase
    machinery itself runs entirely real and cross-process."""
    real = M.current_manifest
    M.current_manifest = lambda *a, **kw: stale
    try:
        M.merge_into(
            spark, base, change, key_col="key", ts_col="ts",
            n_buckets=OPT_N_BUCKETS, keep_history=True,
        )
        return {"landed": True}
    except M.ConcurrentWriteConflictError as e:
        return {"landed": False, "clean_conflict": True,
                "error": str(e)[:200]}
    finally:
        M.current_manifest = real


def _batches(spark):
    return [
        spark.createDataFrame(
            [(i * 100 + j, 10 + (j % 7)) for j in range(60)],
            "doc_id long, n_tokens long",
        )
        for i in range(N_BATCHES)
    ]


def _is_epoch_record(path: str) -> bool:
    parent, _, name = path.rpartition("/")
    return parent.endswith(".epochs") and name.startswith("e")


class FlakyOps(P.HadoopFsOps):
    """HadoopFsOps whose epoch-record publishes fail per a
    deterministic schedule, injected at the one step that makes a
    record visible: the rename onto ``.epochs/e*.json`` under the
    rename backend, the conditional create under conditional-put.
    'lost_ack' lands the step then raises a generic error (the
    lost-acknowledgment shape); 'transient' raises without landing
    anything (the plain 503 shape). Staged tmps, manifest commits and
    probes stay honest."""

    def __init__(self, spark, path, schedule):
        super().__init__(spark, path)
        self.schedule = dict(schedule)
        self.calls = 0
        self.fired = []

    def _inject(self, land):
        self.calls += 1
        mode = self.schedule.get(self.calls)
        if mode == "lost_ack":
            land()
            self.fired.append((self.calls, mode))
            raise RuntimeError(
                "injected 503 Slow Down (record landed, response lost)"
            )
        if mode == "transient":
            self.fired.append((self.calls, mode))
            raise RuntimeError("injected 503 Slow Down (nothing landed)")
        return land()

    def create_bytes(self, path, data, overwrite):
        def land():
            return P.HadoopFsOps.create_bytes(self, path, data, overwrite)

        if overwrite or not _is_epoch_record(path):
            return land()
        return self._inject(land)

    def rename(self, src, dst):
        def land():
            return P.HadoopFsOps.rename(self, src, dst)

        if not _is_epoch_record(dst):
            return land()
        return self._inject(land)


def _wait_for(path: str, timeout_s: float = 120.0) -> None:
    t0 = time.time()
    while not os.path.exists(path):
        if time.time() - t0 > timeout_s:
            raise TimeoutError(f"marker {path} never appeared")
        time.sleep(0.1)


def _hb_retry(lease, tries: int = 4) -> int:
    """Heartbeat with bounded retry on TRANSIENT errors only — a
    LedgerLockedError (fenced) is terminal and propagates, exactly the
    contract a micro-batch caller follows."""
    for i in range(tries):
        try:
            lease.heartbeat()
            return i
        except LedgerLockedError:
            raise
        except Exception:
            time.sleep(0.1)
    raise RuntimeError(f"heartbeat still failing after {tries} tries")


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--protocol")]
    protocol = "condput"
    for a in sys.argv[1:]:
        if a.startswith("--protocol="):
            protocol = a.split("=", 1)[1]
    mode = args[0]
    ledger = args[1]
    mdir = args[2] if len(args) > 2 else None
    if protocol == "condput":
        P.force_publish_backend("conditional-put")
    spark = get_spark(
        app_name=f"contention-{mode.strip('-')}", master="local[4]",
        shuffle_partitions=4,
    )
    spark.sparkContext.setLogLevel("ERROR")

    if mode == "--opt-serial":
        # control: the same two changes applied serially
        M.write_bucketed_base(
            _opt_base_rows(spark), ledger, "key", OPT_N_BUCKETS
        )
        M.merge_into(spark, ledger, _opt_change(spark, OPT_KEY_A, 111, 1),
                     key_col="key", ts_col="ts", n_buckets=OPT_N_BUCKETS)
        M.merge_into(spark, ledger, _opt_change(spark, OPT_KEY_B, 222, 1),
                     key_col="key", ts_col="ts", n_buckets=OPT_N_BUCKETS)
        print(json.dumps({"role": "opt-serial", "ok": True}))
        spark.stop()
        return 0

    if mode == "--opt-setup":
        M.write_bucketed_base(
            _opt_base_rows(spark), ledger, "key", OPT_N_BUCKETS
        )
        print(json.dumps({"role": "opt-setup", "ok": True}))
        spark.stop()
        return 0

    if mode == "--opt-writer":
        # args: BASE DIR NAME OTHER — two of these race one base.
        # Round 1 (disjoint): A merges k1, B merges k2, both reads
        # pinned at the same version — BOTH must land (the loser of the
        # version race rebases). Round 2 (overlap): both merge k1 from
        # the same version — exactly ONE must land, the other aborts
        # with the typed conflict before touching the winner's state.
        name, other = args[3], args[4]
        r1_key, r1_val = (OPT_KEY_A, 111) if name == "a" else (OPT_KEY_B, 222)
        r2_val = 333 if name == "a" else 444

        # capture the round-1 read version BEFORE the barrier: no
        # commit can land until both writers pass it, so BOTH provably
        # read the same version and the loser of the publish race
        # exercises the rebase (not a fresh read)
        stale1 = M.current_manifest(spark, ledger)
        with open(f"{mdir}/{name}.up", "w") as f:
            f.write("1")
        _wait_for(f"{mdir}/{other}.up")
        r1 = _opt_merge_pinned(
            spark, ledger, _opt_change(spark, r1_key, r1_val, 1), stale1
        )
        with open(f"{mdir}/{name}.r1.json", "w") as f:
            json.dump({"name": name, "read_version": stale1[0], **r1}, f)
        # barrier 2: both round-1 commits landed before either captures
        # its round-2 read version — so both capture the same version
        # again, now with OVERLAPPING keys
        _wait_for(f"{mdir}/{other}.r1.json")
        stale2 = M.current_manifest(spark, ledger)
        with open(f"{mdir}/{name}.mid", "w") as f:
            f.write("1")
        _wait_for(f"{mdir}/{other}.mid")
        r2 = _opt_merge_pinned(
            spark, ledger, _opt_change(spark, OPT_ROUND2_KEY, r2_val, 2),
            stale2,
        )
        with open(f"{mdir}/{name}.r2.json", "w") as f:
            json.dump({"name": name, "val": r2_val,
                       "read_version": stale2[0], **r2}, f)
        spark.stop()
        return 0

    if mode in ("--serial", "--serial2"):
        for b in _batches(spark):
            S.append_segment(spark, ledger, b, budget=BUDGET)
        if mode == "--serial2":  # handover control: + the 2nd writer's batch
            extra = spark.createDataFrame(
                [(9000 + j, 5 + (j % 3)) for j in range(40)],
                "doc_id long, n_tokens long",
            )
            S.append_segment(spark, ledger, extra, budget=BUDGET)
        print(json.dumps({"role": "serial", "ok": True}))
        spark.stop()
        return 0

    if mode == "--writer":
        flaky = FlakyOps(
            spark, ledger, {1: "lost_ack", 4: "transient", 5: "lost_ack"}
        )
        lease = acquire_writer_lease(
            spark, ledger, ttl_ms=600_000, timeout_ms=10_000, ops=flaky
        )
        with open(f"{mdir}/held.json", "w") as f:
            json.dump({"epoch": lease.epoch, "owner": lease.owner}, f)
        # hold the lease until the contender has provably lost
        _wait_for(f"{mdir}/contender.json")
        retries = 0
        for b in _batches(spark):
            retries += _hb_retry(lease)
            S.append_segment(spark, ledger, b, budget=BUDGET)
        lease.release()
        with open(f"{mdir}/writer.json", "w") as f:
            json.dump({
                "role": "winner", "appended": N_BATCHES,
                "protocol": protocol,
                "injected_fired": flaky.fired,
                "hb_retries": retries,
                "final_epoch": lease.epoch,
            }, f)
        spark.stop()
        return 0

    if mode == "--handover":
        # lose first, then RETRY through the winner's release, acquire,
        # and append our own batch — cross-process ownership transfer:
        # the final ledger must read as the serial run of both writers
        _wait_for(f"{mdir}/held.json")
        try:
            acquire_writer_lease(spark, ledger, ttl_ms=600_000,
                                 timeout_ms=1_000)
            with open(f"{mdir}/contender.json", "w") as f:
                json.dump({"role": "usurper", "clean_abort": False}, f)
            spark.stop()
            return 1
        except LedgerLockedError:
            with open(f"{mdir}/contender.json", "w") as f:
                json.dump({"role": "loser", "clean_abort": True}, f)
        # the winner appends + releases once it sees our marker; a
        # generous poll window covers its three batches
        lease = acquire_writer_lease(
            spark, ledger, ttl_ms=600_000, timeout_ms=180_000
        )
        extra = spark.createDataFrame(
            [(9000 + j, 5 + (j % 3)) for j in range(40)],
            "doc_id long, n_tokens long",
        )
        seg = S.append_segment(spark, ledger, extra, budget=BUDGET)
        lease.release()
        with open(f"{mdir}/handover.json", "w") as f:
            json.dump({"role": "second_writer", "segment": seg}, f)
        spark.stop()
        return 0

    if mode == "--contender":
        _wait_for(f"{mdir}/held.json")
        try:
            lease = acquire_writer_lease(
                spark, ledger, ttl_ms=600_000, timeout_ms=2_000
            )
        except LedgerLockedError as e:
            with open(f"{mdir}/contender.json", "w") as f:
                json.dump({
                    "role": "loser", "clean_abort": True,
                    "error": str(e)[:200],
                }, f)
            spark.stop()
            return 0
        # acquiring would be the dual-writer bug the lease exists to
        # prevent — report it and leave the evidence
        lease.release()
        with open(f"{mdir}/contender.json", "w") as f:
            json.dump({"role": "usurper", "clean_abort": False}, f)
        spark.stop()
        return 1

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    sys.exit(main())
