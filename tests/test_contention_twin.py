"""Multi-process lease contention (r12 verdict ask #4): orchestrates
tools/contention_twin.py — two OS processes, each its own
JVM/SparkSession/lease handle, racing one ledger on either publish
backend with transient errors injected into the epoch-record
publishes. In-process epoch-lease races are covered by
test_epoch_lease.py; this is the cross-process twin the composed
lifecycle lacked. Pins:

  - exactly one winner; the loser raises LedgerLockedError BEFORE
    touching any data (clean pre-append abort);
  - the injected lost-acknowledgment/transient shapes all fired and
    were reconciled (the writer still appended every batch);
  - the winner's ledger is row-identical to a serial single-process
    control run of the same batches;
  - the epochs directory ends O(1) files (no orphan growth across
    acquire + heartbeats + injected failures + release).
"""

from __future__ import annotations

import pytest

import json
import os
import subprocess
import sys

TWIN = os.path.join(os.path.dirname(__file__), "..", "tools",
                    "contention_twin.py")


def _ledger_rows(path):
    """DuckDB read through the CURRENT manifest exactly like
    read_ledger: every live (bucket, gen) directory."""
    import duckdb

    con = duckdb.connect()
    commits = sorted(
        n for n in os.listdir(os.path.join(path, "_commits"))
        if n.startswith("v") and n.endswith(".json")
    )
    man = json.load(open(os.path.join(path, "_commits", commits[-1])))
    parts = [
        os.path.join(path, f"gen={g}", f"_kb={b}", "*.parquet")
        for b, g in man["buckets"].items()
    ]
    sel = " UNION ALL ".join(
        "SELECT doc_id, n_tokens, cum, shard_id, segment "
        f"FROM read_parquet('{p}')"
        for p in parts
    )
    return con.execute(
        f"SELECT * FROM ({sel}) ORDER BY doc_id, segment, shard_id"
    ).fetchall()


@pytest.mark.slow
def test_two_process_condput_contention(tmp_path):
    mdir = str(tmp_path / "markers")
    os.makedirs(mdir)
    race_ledger = str(tmp_path / "race_ledger")
    serial_ledger = str(tmp_path / "serial_ledger")

    env = dict(os.environ)
    writer = subprocess.Popen(
        [sys.executable, TWIN, "--writer", race_ledger, mdir],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
    )
    contender = subprocess.Popen(
        [sys.executable, TWIN, "--contender", race_ledger, mdir],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
    )
    serial = subprocess.run(
        [sys.executable, TWIN, "--serial", serial_ledger],
        capture_output=True, timeout=300, env=env,
    )
    w_out, w_err = writer.communicate(timeout=420)
    c_out, c_err = contender.communicate(timeout=120)
    assert serial.returncode == 0, serial.stderr.decode()[-2000:]
    assert writer.returncode == 0, (w_err or w_out).decode()[-2000:]
    assert contender.returncode == 0, (c_err or c_out).decode()[-2000:]

    w = json.load(open(f"{mdir}/writer.json"))
    c = json.load(open(f"{mdir}/contender.json"))
    # exactly one winner; the loser aborted clean pre-append
    assert w["role"] == "winner" and w["appended"] == 3
    assert c["role"] == "loser" and c["clean_abort"] is True
    # every injected failure shape actually fired and was reconciled
    fired = {m for _, m in w["injected_fired"]}
    assert fired == {"lost_ack", "transient"}, w["injected_fired"]

    # no orphan epoch growth: acquire + 3 heartbeats + injected
    # failures + release must leave O(1) records (current released
    # record, transiently its predecessor)
    epochs_dir = os.path.join(race_ledger, "_commits",
                              "_writer.lease.epochs")
    n_epochs = len([n for n in os.listdir(epochs_dir)
                    if n.endswith(".json")])
    assert n_epochs <= 2, f"epoch records leaked: {n_epochs}"

    # the raced ledger is row-identical to the serial control
    assert _ledger_rows(race_ledger) == _ledger_rows(serial_ledger), \
        "raced ledger diverged from the serial control"


@pytest.mark.slow
def test_two_process_rename_contention(tmp_path):
    """The rename-backend cross-process twin: same orchestration and
    flaky schedule without the condput force — the epoch records
    publish by stage+rename on the probe-selected local-FS backend.
    Pins mutual exclusion, clean pre-append loser abort, every injected
    failure reconciled, bounded epoch records and serial-identical
    content."""
    mdir = str(tmp_path / "markers")
    os.makedirs(mdir)
    race_ledger = str(tmp_path / "race_ledger")
    serial_ledger = str(tmp_path / "serial_ledger")
    env = dict(os.environ)
    proto = "--protocol=rename"
    writer = subprocess.Popen(
        [sys.executable, TWIN, "--writer", race_ledger, mdir, proto],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
    )
    contender = subprocess.Popen(
        [sys.executable, TWIN, "--contender", race_ledger, mdir, proto],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
    )
    serial = subprocess.run(
        [sys.executable, TWIN, "--serial", serial_ledger, "unused", proto],
        capture_output=True, timeout=300, env=env,
    )
    w_out, w_err = writer.communicate(timeout=420)
    c_out, c_err = contender.communicate(timeout=120)
    assert serial.returncode == 0, serial.stderr.decode()[-2000:]
    assert writer.returncode == 0, (w_err or w_out).decode()[-2000:]
    assert contender.returncode == 0, (c_err or c_out).decode()[-2000:]
    w = json.load(open(f"{mdir}/writer.json"))
    c = json.load(open(f"{mdir}/contender.json"))
    assert w["role"] == "winner" and w["protocol"] == "rename"
    assert w["appended"] == 3
    assert c["role"] == "loser" and c["clean_abort"] is True
    # the injected shapes fired at the rename step and were reconciled
    fired = {m for _, m in w["injected_fired"]}
    assert fired == {"lost_ack", "transient"}, w["injected_fired"]
    # no plain lease file; O(1) epoch records after release
    commits = os.listdir(os.path.join(race_ledger, "_commits"))
    assert "_writer.lease" not in commits
    epochs_dir = os.path.join(race_ledger, "_commits",
                              "_writer.lease.epochs")
    n_epochs = len([n for n in os.listdir(epochs_dir)
                    if n.startswith("e") and n.endswith(".json")])
    assert n_epochs <= 2, f"epoch records leaked: {n_epochs}"
    assert _ledger_rows(race_ledger) == _ledger_rows(serial_ledger)


@pytest.mark.slow
def test_two_process_condput_handover(tmp_path):
    """Ownership transfer across processes: the loser retries through
    the winner's release, acquires, and appends its OWN batch — the
    final ledger reads as the serial run of both writers' batches,
    with one coherent token sequence across the handover."""
    mdir = str(tmp_path / "markers")
    os.makedirs(mdir)
    race_ledger = str(tmp_path / "race_ledger")
    serial_ledger = str(tmp_path / "serial_ledger")
    env = dict(os.environ)
    writer = subprocess.Popen(
        [sys.executable, TWIN, "--writer", race_ledger, mdir],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
    )
    second = subprocess.Popen(
        [sys.executable, TWIN, "--handover", race_ledger, mdir],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
    )
    serial = subprocess.run(
        [sys.executable, TWIN, "--serial2", serial_ledger],
        capture_output=True, timeout=300, env=env,
    )
    w_out, w_err = writer.communicate(timeout=420)
    s_out, s_err = second.communicate(timeout=420)
    assert serial.returncode == 0, serial.stderr.decode()[-2000:]
    assert writer.returncode == 0, (w_err or w_out).decode()[-2000:]
    assert second.returncode == 0, (s_err or s_out).decode()[-2000:]
    w = json.load(open(f"{mdir}/writer.json"))
    h = json.load(open(f"{mdir}/handover.json"))
    assert w["role"] == "winner"
    assert h["role"] == "second_writer" and h["segment"] == 3
    assert _ledger_rows(race_ledger) == _ledger_rows(serial_ledger), \
        "handover ledger diverged from the serial two-writer control"


# --- optimistic multi-writer twin (r13 verdict ask #1) -------------------------


def _base_rows_duck(path):
    """(key, val) set of a merge base read through its CURRENT
    manifest — DuckDB, no Spark in the orchestrator."""
    import duckdb

    con = duckdb.connect()
    commits = sorted(
        n for n in os.listdir(os.path.join(path, "_commits"))
        if n.startswith("v") and n.endswith(".json")
    )
    man = json.load(open(os.path.join(path, "_commits", commits[-1])))
    parts = [
        os.path.join(path, f"gen={g}", f"_kb={b}", "*.parquet")
        for b, g in man["buckets"].items()
    ]
    sel = " UNION ALL ".join(
        f"SELECT key, val FROM read_parquet('{p}')" for p in parts
    )
    return set(con.execute(sel).fetchall())


def _commit_json(path, v):
    return json.load(
        open(os.path.join(path, "_commits", f"v{v:012d}.json"))
    )


import pytest  # noqa: E402


@pytest.mark.parametrize("protocol", ["condput", "rename"])
@pytest.mark.slow
def test_two_process_optimistic_commits(tmp_path, protocol):
    """Two OS processes, each its own JVM, write ONE merge base with NO
    lease anywhere. Round 1: both read the SAME version and merge keys
    in DISJOINT buckets — BOTH must land (the publish-race loser
    rebases), and the base equals the serial control. Round 2: both
    read the same version and merge the SAME key — exactly one lands,
    the loser aborts with the typed conflict, content shows exactly
    the winner's value. Parametrized over both publish backends."""
    mdir = str(tmp_path / "markers")
    os.makedirs(mdir)
    base = str(tmp_path / "base")
    serial_base = str(tmp_path / "serial_base")
    env = dict(os.environ)
    proto = f"--protocol={protocol}"

    setup = subprocess.run(
        [sys.executable, TWIN, "--opt-setup", base, proto],
        capture_output=True, timeout=300, env=env,
    )
    assert setup.returncode == 0, setup.stderr.decode()[-2000:]

    wa = subprocess.Popen(
        [sys.executable, TWIN, "--opt-writer", base, mdir, "a", "b", proto],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
    )
    wb = subprocess.Popen(
        [sys.executable, TWIN, "--opt-writer", base, mdir, "b", "a", proto],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
    )
    serial = subprocess.run(
        [sys.executable, TWIN, "--opt-serial", serial_base, proto],
        capture_output=True, timeout=420, env=env,
    )
    a_out, a_err = wa.communicate(timeout=600)
    b_out, b_err = wb.communicate(timeout=600)
    assert serial.returncode == 0, serial.stderr.decode()[-2000:]
    assert wa.returncode == 0, (a_err or a_out).decode()[-2000:]
    assert wb.returncode == 0, (b_err or b_out).decode()[-2000:]

    r1a = json.load(open(f"{mdir}/a.r1.json"))
    r1b = json.load(open(f"{mdir}/b.r1.json"))
    r2a = json.load(open(f"{mdir}/a.r2.json"))
    r2b = json.load(open(f"{mdir}/b.r2.json"))

    # round 1: same read version, disjoint buckets -> BOTH landed
    assert r1a["read_version"] == r1b["read_version"] == 0
    assert r1a["landed"] and r1b["landed"], (r1a, r1b)
    # the two round-1 commits (v1, v2) recorded DISJOINT touched sets
    t1, t2 = _commit_json(base, 1)["touched"], _commit_json(base, 2)["touched"]
    assert not (set(t1) & set(t2)), (t1, t2)
    assert {tuple(t1), tuple(t2)} == {(1,), (3,)}  # k1 -> b1, k2 -> b3

    # round 2: same read version, SAME bucket -> exactly one winner,
    # typed clean conflict for the loser
    assert r2a["read_version"] == r2b["read_version"] == 2
    landed = [r for r in (r2a, r2b) if r["landed"]]
    lost = [r for r in (r2a, r2b) if not r["landed"]]
    assert len(landed) == 1 and len(lost) == 1, (r2a, r2b)
    assert lost[0]["clean_conflict"] and "overlapping" in lost[0]["error"]
    assert _commit_json(base, 3)["touched"] == [1]

    # content = serial control with k1 overwritten by the r2 winner
    want = _base_rows_duck(serial_base)
    want = {(k, v) for k, v in want if k != "k1"} | {("k1", landed[0]["val"])}
    assert _base_rows_duck(base) == want, "raced base diverged from serial"

    # no lease artifacts anywhere: this ran lease-free by design
    commits = os.listdir(os.path.join(base, "_commits"))
    assert "_writer.lease" not in commits
    assert not any(n.endswith(".epochs") for n in commits)
