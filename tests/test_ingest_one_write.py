"""Pins for the one-write ingest micro-batch: upserts and tombstones are
one leased, observed append, so a steady-state batch runs no other
Spark action; the collection reuses its cached max(seq) floor and log
size only while its lease chain is unbroken."""

import json
import logging
import os

import pytest

from python_vectordbapp_ceph_spark.collection import VectorCollection
from python_vectordbapp_ceph_spark.embed import stub_image_embedding
from python_vectordbapp_ceph_spark.streaming.ingest import (
    ingest_stream,
    parse_s3_events,
)

DIM = 2
TEXT_DIM = 384  # what the stub text embedder emits
IMAGE_DIM = 512


def _note(key, event="ObjectCreated:Put", t="2024-01-01T00:00:00Z"):
    return {
        "eventName": event,
        "eventTime": t,
        "s3": {"bucket": {"name": "b1"}, "object": {"key": key, "tags": {}}},
    }


def _write_files(events_dir, notifications):
    """One notification per file, so ``maxFilesPerTrigger=1`` makes
    each one its own micro-batch, in file order (the source orders
    files by modification time)."""
    events_dir.mkdir(exist_ok=True)
    for i, records in enumerate(notifications):
        f = events_dir / f"n{i:03d}.json"
        f.write_text(json.dumps({"Records": records}))
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def _drain(spark, events_dir, coll, ckpt, **kw):
    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(events_dir))
    q = ingest_stream(
        parse_s3_events(raw), coll, checkpoint_dir=str(ckpt), **kw
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    return q


def _kv(spark, *rows):
    return spark.createDataFrame(list(rows), "key string, embedding array<float>")


# --- (a) a steady-state batch runs its one write and nothing else ---------------


def test_steady_state_batch_runs_no_action_besides_its_write(
    spark, tmp_path, monkeypatch
):
    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=TEXT_DIM, name="t"
    ).ensure_exists()
    object_text = spark.createDataFrame(
        [(f"k{i}", f"text {i}") for i in range(6)], "key string, text string"
    )
    _write_files(tmp_path / "ev", [
        [_note("k0"), _note("k1"), _note("k2")],
        # a PUT, a PUT whose object is missing, a DELETE
        [_note("k3", t="2024-01-01T00:00:01Z"),
         _note("ghost", t="2024-01-01T00:00:01Z"),
         _note("k0", "ObjectRemoved:Delete", t="2024-01-01T00:00:01Z")],
        [_note("k4", t="2024-01-01T00:00:02Z"),
         _note("k5", t="2024-01-01T00:00:02Z")],
    ])
    armed = []
    probes = []
    frame_cls = type(spark.range(1))  # the concrete DataFrame class

    def guard(name):
        orig = getattr(frame_cls, name)

        def probe(self, *a, **k):
            if armed:
                probes.append(name)
                raise AssertionError(f"DataFrame.{name} in a steady-state batch")
            return orig(self, *a, **k)

        monkeypatch.setattr(frame_cls, name, probe)

    for name in ("count", "isEmpty", "collect"):
        guard(name)
    orig_compact = coll.maybe_compact

    def arm_after_first_batch(*a, **k):
        out = orig_compact(*a, **k)
        armed.append(True)  # every later batch must stay probe-free
        return out

    coll.maybe_compact = arm_after_first_batch
    q = _drain(spark, tmp_path / "ev", coll, tmp_path / "ckpt",
               object_text=object_text, compact_log_ratio=3.0)
    monkeypatch.undo()
    assert probes == []
    assert len(armed) == 3
    assert q.lastProgress["batchId"] == 2
    assert {r.key for r in coll.snapshot().collect()} == {
        "k1", "k2", "k3", "k4", "k5"
    }
    assert coll._log_rows == coll._log().count() == 7


# --- (b) A/B/A: a foreign writer breaks the chain -------------------------------


def test_interleaved_writer_breaks_chain_and_log_rows_track(spark, tmp_path):
    path = str(tmp_path / "c")
    a = VectorCollection(spark=spark, path=path, dim=DIM).ensure_exists()

    def primed(c):
        """The log size the collection tracks (counted only if unknown)."""
        c.maybe_compact(max_log_ratio=100.0)
        return c._log_rows

    a.upsert(_kv(spark, ("k1", [1.0, 0.0])))
    assert a._log_rows == a._log().count() == 1  # tracked, not counted
    b = VectorCollection(spark=spark, path=path, dim=DIM)
    b.upsert(_kv(spark, ("k2", [0.0, 1.0]), ("k3", [1.0, 1.0])))
    assert primed(b) == b._log().count() == 3
    a.delete_keys(["k2"])  # must re-read the floor B moved
    assert primed(a) == a._log().count() == 4
    seqs = {(r.key, r.op): r.seq for r in a._log().collect()}
    assert seqs[("k2", "delete")] > seqs[("k2", "upsert")]
    assert {r.key for r in a.snapshot().collect()} == {"k1", "k3"}
    a.upsert(_kv(spark, ("k4", [2.0, 2.0])))  # chain intact again
    assert a._log_rows == a._log().count() == 5
    a.compact()
    assert a._log_rows == a._log().count() == 3
    a.upsert(_kv(spark, ("k1", [3.0, 3.0])))  # the compact's lease is the chain
    assert a._log_rows == a._log().count() == 4
    assert {r.key: r.seq for r in a._log().collect() if r.seq} == {"k1": 1}
    assert {r.key for r in a.snapshot().collect()} == {"k1", "k3", "k4"}


# --- (c) the missing-object warning counts exactly the dropped rows -------------


@pytest.mark.parametrize("object_type", ["TEXT", "IMAGE"])
def test_missing_object_warning_reports_dropped_count(
    spark, tmp_path, caplog, object_type
):
    dim = TEXT_DIM if object_type == "TEXT" else IMAGE_DIM
    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=dim, name="t"
    ).ensure_exists()
    present = ["p1", "p2"]
    if object_type == "TEXT":
        kw = {"object_text": spark.createDataFrame(
            [(k, f"text {k}") for k in present], "key string, text string")}
    else:
        kw = {"object_type": "IMAGE", "object_bytes": spark.createDataFrame(
            [(k, k.encode()) for k in present], "key string, content binary")}
    _write_files(tmp_path / "ev", [
        [_note("p1"), _note("gone1"), _note("p2"), _note("gone2"),
         _note("gone3")],
    ])
    with caplog.at_level(logging.WARNING, logger="python_vectordbapp_ceph_spark"):
        _drain(spark, tmp_path / "ev", coll, tmp_path / "ckpt", **kw)
    warned = [r.getMessage() for r in caplog.records if "dropped" in r.getMessage()]
    assert len(warned) == 1 and "dropped 3 upsert(s)" in warned[0], warned
    assert sorted(r.key for r in coll._log().collect()) == present
    if object_type == "IMAGE":
        got = {r.key: r.embedding for r in coll.snapshot().collect()}
        assert got["p1"] == stub_image_embedding(b"p1")


# --- (d) a notification with no records ------------------------------------------


def test_empty_records_batch_succeeds_and_stream_advances(spark, tmp_path):
    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=TEXT_DIM, name="t"
    ).ensure_exists()
    _write_files(tmp_path / "ev", [[_note("k1")], []])
    q = _drain(spark, tmp_path / "ev", coll, tmp_path / "ckpt",
               compact_log_ratio=3.0)
    assert q.lastProgress["batchId"] == 1
    assert q.exception() is None
    snap = coll.snapshot().select("key", "embedding").collect()
    assert [r.key for r in snap] == ["k1"]
    assert coll._log().count() == coll._log_rows == 1
    # a later batch still lands above the empty one
    _write_files(tmp_path / "ev2", [[_note("k2")]])
    _drain(spark, tmp_path / "ev2", coll, tmp_path / "ckpt2")
    assert {r.key for r in coll.snapshot().collect()} == {"k1", "k2"}


# --- (e) the batch write's shape -------------------------------------------------


def _plan_nodes(node):
    """Physical plan nodes under ``node``, through AQE wrappers."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _plan_nodes(node.executedPlan())
    if cls.endswith("QueryStageExec"):
        return _plan_nodes(node.plan())
    children = node.children()
    return [node] + [
        n for i in range(children.size()) for n in _plan_nodes(children.apply(i))
    ]


def test_batch_write_is_two_tasks_one_embedding_pass_no_cache(spark, tmp_path):
    """A micro-batch of 200 events is not cached, so AQE coalesces its
    one write to a task per branch: at most 2 part files, whatever
    spark.sql.shuffle.partitions is (4 here; a cached batch wrote 8).
    The embedding UDF stays one pass, in the upsert branch only."""
    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=TEXT_DIM, name="t"
    ).ensure_exists()
    t = "2024-01-01T00:00:{:02d}Z"
    _write_files(tmp_path / "ev", [
        [_note(f"k{i}") for i in range(200)],
        [_note(f"k{i}", t=t.format(1)) for i in range(200, 350)]
        + [_note(f"k{i}", "ObjectRemoved:Delete", t.format(1))
           for i in range(50)],
        [_note(f"k{i}", t=t.format(2)) for i in range(350, 500)]
        + [_note(f"k{i}", "ObjectRemoved:Delete", t.format(2))
           for i in range(50, 100)],
    ])
    jsc = spark.sparkContext._jsc  # noqa: SLF001

    def part_files():
        return sum(1 for p in (tmp_path / "c").iterdir()
                   if p.name.startswith("part-"))

    persisted = jsc.getPersistentRDDs().size()
    batches = []
    orig_append = coll._append

    def spy_append(df):
        before = part_files()
        orig_append(df)
        nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
        names = [n.getClass().getSimpleName() for n in nodes]
        (union,) = [n for n in nodes if n.getClass().getSimpleName() == "UnionExec"]
        upserts, tombstones = (
            [m.getClass().getSimpleName()
             for m in _plan_nodes(union.children().apply(i))]
            for i in range(2)
        )
        batches.append({
            "files": part_files() - before,
            "persisted": jsc.getPersistentRDDs().size(),
            "udf": (names.count("ArrowEvalPythonExec"),
                    upserts.count("ArrowEvalPythonExec"),
                    tombstones.count("ArrowEvalPythonExec")),
            "cached": [n for n in names if n.startswith("InMemory")],
        })

    coll._append = spy_append
    _drain(spark, tmp_path / "ev", coll, tmp_path / "ckpt")
    assert len(batches) == 3
    for b in batches:
        assert b["files"] <= 2, batches
        assert b["persisted"] == persisted, batches
        assert b["udf"] == (1, 1, 0), batches
        assert b["cached"] == [], batches
    assert {r.key for r in coll.snapshot().collect()} == {
        f"k{i}" for i in range(100, 500)
    }
