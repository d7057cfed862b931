"""VectorCollection semantics: upsert/delete across process reopen,
dim enforcement, filtered delete on map tags, search."""

import pytest

from python_vectordbapp_ceph_spark.collection import (
    VectorCollection,
    collection_name_for_bucket,
    object_url,
)

DIM = 4


def make_rows(spark, rows):
    return spark.createDataFrame(
        rows, "key string, embedding array<float>, tags map<string,string>"
    )


@pytest.fixture()
def coll(spark, tmp_path):
    return VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=DIM, name="t"
    ).ensure_exists()


def test_naming_rules():
    assert collection_name_for_bucket("my-bucket-1") == "my_bucket_1"
    assert object_url("http://h:8080", "b", "k.txt") == "http://h:8080/b/k.txt"


def test_upsert_and_snapshot(spark, coll):
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], {"color": "red"}),
                                  ("k2", [0.0, 1.0, 0.0, 0.0], {"color": "blue"})]))
    snap = {r.key for r in coll.snapshot().collect()}
    assert snap == {"k1", "k2"}


def test_upsert_replaces_by_key(spark, coll):
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None)]))
    coll.upsert(make_rows(spark, [("k1", [0.0, 0.0, 0.0, 1.0], None)]))
    rows = coll.snapshot().collect()
    assert len(rows) == 1
    assert rows[0].embedding == [0.0, 0.0, 0.0, 1.0]


def test_delete_after_reopen(spark, coll):
    """Regression: _seq restarted at 0 per process, so deletes through a
    REOPENED collection ordered below existing log rows and no-op'd."""
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None),
                                  ("k2", [0.0, 1.0, 0.0, 0.0], None)]))
    reopened = VectorCollection(spark=spark, path=coll.path, dim=DIM, name="t")
    reopened.delete_keys(["k1"])
    assert {r.key for r in reopened.snapshot().collect()} == {"k2"}
    # and an upsert through yet another handle shadows history
    reopened2 = VectorCollection(spark=spark, path=coll.path, dim=DIM, name="t")
    reopened2.upsert(make_rows(spark, [("k2", [9.0, 9.0, 9.0, 9.0], None)]))
    rows = {r.key: r.embedding for r in reopened2.snapshot().collect()}
    assert rows == {"k2": [9.0, 9.0, 9.0, 9.0]}


def test_dim_check_rejects(spark, coll):
    with pytest.raises(Exception, match="dim"):
        coll.upsert(make_rows(spark, [("bad", [1.0, 2.0], None)]))
    # nothing got written
    assert coll.snapshot().count() == 0


def test_delete_where_tag_predicate(spark, coll):
    """The Milvus filtered-delete path on MapType tags (regression:
    used to silently match 0 rows)."""
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], {"color": "red"}),
                                  ("k2", [0.0, 1.0, 0.0, 0.0], {"color": "blue"})]))
    coll.delete_where('tags["color"] == "red"')
    assert {r.key for r in coll.snapshot().collect()} == {"k2"}


def test_query_and_search(spark, coll):
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], {"color": "red"}),
                                  ("k2", [0.0, 1.0, 0.0, 0.0], {"color": "blue"}),
                                  ("k3", [0.9, 0.1, 0.0, 0.0], {"color": "red"})]))
    got = coll.query(filter='tags["color"] == "red"', limit=10,
                     output_fields=["key"])
    assert {r.key for r in got.collect()} == {"k1", "k3"}

    hits = coll.search([1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert [h.key for h in hits] == ["k1", "k3"]
    assert hits[0].distance == 0.0

    filtered = coll.search([1.0, 0.0, 0.0, 0.0], k=2,
                           filter='tags["color"] == "blue"').collect()
    assert [h.key for h in filtered] == ["k2"]


def test_compact_preserves_snapshot(spark, coll):
    """Compaction rewrites history as the resolved base; reads and
    subsequent mutations behave identically."""
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None),
                                  ("k2", [0.0, 1.0, 0.0, 0.0], None)]))
    coll.upsert(make_rows(spark, [("k1", [2.0, 0.0, 0.0, 0.0], None)]))
    coll.delete_keys(["k2"])
    before = {(r.key, tuple(r.embedding)) for r in coll.snapshot().collect()}
    coll.compact()
    after = {(r.key, tuple(r.embedding)) for r in coll.snapshot().collect()}
    assert before == after == {("k1", (2.0, 0.0, 0.0, 0.0))}
    assert coll._log().count() == 1  # history collapsed
    # post-compaction mutations still order correctly
    coll.delete_keys(["k1"])
    assert coll.snapshot().count() == 0


def test_create_index_and_approx_search(spark, coll):
    """IVF index over the collection: full-probe equals exact search;
    mutations invalidate the index."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(f"k{i}", [float(x) for x in rng.uniform(-1, 1, 4)], None)
            for i in range(50)]
    coll.upsert(make_rows(spark, rows))
    coll.create_index(nlist=4, nprobe=4)  # full probe → exact
    q = [0.5, 0.5, -0.5, 0.5]
    exact = [r.key for r in coll.search(q, k=5, output_fields=["key"]).collect()]
    approx = [r.key for r in coll.search(q, k=5, approx=True).collect()]
    assert approx == exact

    coll.upsert(make_rows(spark, [("fresh", [0.0, 0.0, 0.0, 0.0], None)]))
    with pytest.raises(ValueError, match="no index"):
        coll.search(q, k=5, approx=True)
    # compaction also invalidates (the index references replaced files)
    coll.create_index(nlist=4, nprobe=4)
    coll.compact()
    with pytest.raises(ValueError, match="no index"):
        coll.search(q, k=5, approx=True)
    import os
    assert not os.path.exists(coll.path + "._compact")


def test_first_upsert_on_fresh_path(spark, tmp_path):
    """Regression: _next_seq read the log before the first append —
    a fresh collection without ensure_exists() crashed on upsert."""
    c = VectorCollection(spark=spark, path=str(tmp_path / "fresh"), dim=DIM)
    c.upsert(make_rows(spark, [("k", [1.0, 0.0, 0.0, 0.0], None)]))
    assert c.snapshot().count() == 1


def test_maybe_compact_policy(spark, coll):
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None)]))
    assert coll.maybe_compact(max_log_ratio=3.0) is False  # 1 log / 1 live
    for v in range(4):  # churn the same key → log 5, live 1
        coll.upsert(make_rows(spark, [("k1", [float(v), 0.0, 0.0, 0.0], None)]))
    assert coll.maybe_compact(max_log_ratio=3.0) is True
    assert coll._log().count() == 1
    assert coll.snapshot().first().embedding == [3.0, 0.0, 0.0, 0.0]


def test_maybe_compact_cheap_gate(spark, coll, monkeypatch):
    """Per-batch policy calls must not pay the full snapshot resolve:
    an unchanged log short-circuits on the footer count alone, and a
    below-threshold log reuses the cached live count."""
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None)]))
    assert coll.maybe_compact(max_log_ratio=3.0) is False  # primes the cache
    monkeypatch.setattr(
        coll, "snapshot",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("expensive resolve ran")),
    )
    assert coll.maybe_compact(max_log_ratio=3.0) is False  # unchanged log
    coll.upsert(make_rows(spark, [("k2", [2.0, 0.0, 0.0, 0.0], None)]))
    # log=2, cached live=1, 2 <= 3.0*1 → still no snapshot resolve
    assert coll.maybe_compact(max_log_ratio=3.0) is False


def test_compact_failure_is_best_effort_after_commit(
    spark, tmp_path, monkeypatch
):
    """Post-commit maintenance must never fail the micro-batch: the
    appends stay committed and the stream drains even when compaction
    raises on every attempt."""
    import json

    from python_vectordbapp_ceph_spark.streaming.ingest import (
        ingest_stream,
        parse_s3_events,
    )

    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=384, name="t"
    ).ensure_exists()  # 384 = the stub text embedder's width
    monkeypatch.setattr(
        VectorCollection, "maybe_compact",
        lambda self, **kw: (_ for _ in ()).throw(
            RuntimeError("injected maintenance failure")
        ),
    )
    events = tmp_path / "ev"
    events.mkdir()
    (events / "batch.json").write_text("".join(
        json.dumps({"Records": [{
            "eventName": "ObjectCreated:Put",
            "eventTime": "2024-01-01T00:00:00Z",
            "s3": {"bucket": {"name": "b1"}, "object": {"key": k, "tags": {}}},
        }]}) + "\n"
        for k in ("k1", "k2")
    ))
    q = ingest_stream(
        parse_s3_events(spark.readStream.text(str(events))), coll,
        checkpoint_dir=str(tmp_path / "ckpt"), compact_log_ratio=1.0,
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    assert {r.key for r in coll.snapshot().collect()} == {"k1", "k2"}


def test_fully_deleted_collection_still_compacts(spark, coll):
    """live=0 does not disable the policy: a collection whose rows are
    all deleted compacts once its tombstone history outgrows the ratio."""
    keys = [f"k{i}" for i in range(6)]
    coll.upsert(make_rows(
        spark, [(k, [1.0, 0.0, 0.0, 0.0], None) for k in keys]
    ))
    coll.delete_keys(keys)
    assert coll.snapshot().count() == 0
    assert coll._log().count() == 12  # 6 upserts + 6 tombstones
    assert coll.maybe_compact(max_log_ratio=3.0) is True
    assert coll._log().count() == 0   # collapsed to the empty snapshot
    assert coll.snapshot().count() == 0
    # and the collection stays usable afterwards
    coll.upsert(make_rows(spark, [("new", [0.0, 1.0, 0.0, 0.0], None)]))
    assert {r.key for r in coll.snapshot().collect()} == {"new"}


def test_apply_change_log_cdc(spark):
    """Batch CDC resolve: base ∪ log, last-writer-wins, deletes drop —
    the webhook Put/Copy-vs-Delete branch as one set operation."""
    from python_vectordbapp_ceph_spark.operators.mutation import apply_change_log

    base = spark.createDataFrame(
        [("a", 1, 0), ("b", 2, 0)], "key string, val long, ts long"
    )
    log = spark.createDataFrame(
        [("a", 10, 1, "upsert"),   # update a
         ("b", 0, 1, "delete"),    # delete b
         ("c", 3, 1, "upsert"),    # insert c
         ("c", 4, 2, "upsert")],   # update c again
        "key string, val long, ts long, op string",
    )
    out = apply_change_log(base, log, key_cols=["key"], ts_col="ts",
                           tiebreak_cols=["val"])
    got = {(r.key, r.val) for r in out.collect()}
    assert got == {("a", 10), ("c", 4)}


def test_describe(spark, coll):
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None)]))
    d = coll.describe()
    assert d["dim"] == DIM and d["live_rows"] == 1


def test_time_travel_snapshot(spark, coll):
    """snapshot(as_of_seq=...) sees the collection as it was at that
    writer sequence: later upserts and deletes are invisible."""
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None)]))
    coll.upsert(make_rows(spark, [("k2", [0.0, 1.0, 0.0, 0.0], None)]))
    seq_before = coll.current_seq
    coll.upsert(make_rows(spark, [("k1", [9.0, 9.0, 9.0, 9.0], None)]))
    coll.delete_keys(["k2"])

    now = {r.key: r.embedding for r in coll.snapshot().collect()}
    assert set(now) == {"k1"} and now["k1"] == [9.0, 9.0, 9.0, 9.0]

    then = {r.key: r.embedding for r in
            coll.snapshot(as_of_seq=seq_before).collect()}
    assert set(then) == {"k1", "k2"}
    assert then["k1"] == [1.0, 0.0, 0.0, 0.0]


def test_index_admin_and_load_release(spark, coll):
    """list_indexes/describe_index/load/release parity: the admin
    inspection path (client.list_indexes, client.describe_index,
    client.load_collection) and the load-then-search contract —
    results identical loaded or not."""
    import numpy as np

    rng = np.random.default_rng(9)
    rows = [(f"k{i}", [float(x) for x in rng.uniform(-1, 1, 4)], None)
            for i in range(30)]
    coll.upsert(make_rows(spark, rows))

    assert coll.list_indexes() == []
    with pytest.raises(ValueError, match="no index"):
        coll.describe_index()

    coll.create_index(nlist=4, nprobe=2)
    assert coll.list_indexes() == ["t_ivf"]
    info = coll.describe_index()
    assert info["index_type"] == "IVF_FLAT"
    assert info["nlist"] == 4 and info["nprobe"] == 2
    assert info["dim"] == DIM and info["n_clusters"] == 4

    q = [0.1, -0.2, 0.3, 0.4]
    before = [r.key for r in coll.search(q, k=3, output_fields=["key"]).collect()]
    coll.load()
    assert coll._loaded.storageLevel.useMemory
    loaded = [r.key for r in coll.search(q, k=3, output_fields=["key"]).collect()]
    assert loaded == before
    coll.release()
    after = [r.key for r in coll.search(q, k=3, output_fields=["key"]).collect()]
    assert after == before


def test_search_diverse_skips_near_duplicate(spark, coll):
    """MMR at the collection API: the near-duplicate of the best hit
    is passed over for the diverse candidate; plain search would
    return both dups."""
    rows = [
        ("best", [1.0, 0.0, 0.0, 0.0], None),
        ("dup", [0.995, -0.0997, 0.0, 0.0], None),
        ("diverse", [0.5, 0.866, 0.0, 0.0], None),
    ]
    coll.upsert(make_rows(spark, rows))
    q = [0.9659, 0.2588, 0.0, 0.0]
    got = [
        r.key
        for r in coll.search_diverse(q, k=2, fetch_k=3)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert got == ["best", "diverse"]

    # the filter composes: exclude the best hit, the dup then leads
    got = [
        r.key
        for r in coll.search_diverse(q, k=2, fetch_k=3,
                                     filter='key != "best"')
        .orderBy("mmr_rank")
        .collect()
    ]
    assert got[0] == "dup"


def _plan_node_names(jplan) -> list[str]:
    """Node names of a logical plan tree; the plan cached inside an
    InMemoryRelation is not walked."""
    out, stack = [], [jplan]
    while stack:
        p = stack.pop()
        out.append(p.nodeName())
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_loaded_search_plans_over_snapshot_and_sees_session_writes(
    spark, coll, monkeypatch
):
    """A loaded collection's searches read the cached snapshot
    (InMemoryRelation, no per-search last-writer-wins Window) and still
    see every same-session write: upsert, delete_keys, compact and a
    write through a second VectorCollection on the same path."""
    import numpy as np

    from python_vectordbapp_ceph_spark.operators import mutation

    rng = np.random.default_rng(5)
    live = {f"k{i}": [float(x) for x in rng.uniform(-1, 1, DIM)] for i in range(20)}
    coll.upsert(make_rows(spark, [(k, v, None) for k, v in live.items()]))
    coll.load()
    resolves = []
    real = mutation.upsert_last_writer
    monkeypatch.setattr(
        mutation, "upsert_last_writer",
        lambda *a, **kw: resolves.append(1) or real(*a, **kw),
    )
    q = [0.3, -0.3, 0.3, -0.3]

    def expected():
        d = {k: round(float(np.linalg.norm(np.float32(v) - np.array(q))), 6)
             for k, v in live.items()}
        return sorted(d, key=lambda k: (d[k], k))[:3]

    def top():
        before = len(resolves)
        df = coll.search(q, k=3, output_fields=["key"])
        nodes = _plan_node_names(df._jdf.queryExecution().optimizedPlan())
        assert "InMemoryRelation" in nodes and "Window" not in nodes
        assert len(resolves) == before  # no snapshot resolve per search
        return [r.key for r in df.collect()]

    assert top() == expected()
    coll.upsert(make_rows(spark, [("near", q, None)]))
    live["near"] = q
    assert top() == expected() and top()[0] == "near"
    coll.delete_keys(["near"])
    del live["near"]
    assert top() == expected()
    first = expected()[0]
    coll.upsert(make_rows(spark, [(first, [9.0] * DIM, None)]))
    live[first] = [9.0] * DIM
    coll.compact()
    assert top() == expected() and first not in top()
    other = VectorCollection(spark=spark, path=coll.path, dim=DIM, name="t")
    other.upsert(make_rows(spark, [("other", q, None)]))
    live["other"] = q
    assert top() == expected() and top()[0] == "other"


def test_loaded_search_falls_back_when_cache_dropped(spark, coll):
    """A snapshot unpersisted behind the collection's back is no longer
    refreshed by Spark; reads go back to resolving the log."""
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None)]))
    coll.load()
    coll._loaded.unpersist()
    coll.upsert(make_rows(spark, [("k2", [0.0, 1.0, 0.0, 0.0], None)]))
    hits = coll.search([0.0, 1.0, 0.0, 0.0], k=1, output_fields=["key"]).collect()
    assert [h.key for h in hits] == ["k2"]
    assert {r.key for r in coll.query().collect()} == {"k1", "k2"}


@pytest.mark.parametrize("method", ["search", "search_diverse"])
@pytest.mark.parametrize("qvec", [
    [1.0, 0.0, 0.0],                      # too short
    [1.0, 0.0, 0.0, 0.0, 0.0],            # too long
    [1.0, float("nan"), 0.0, 0.0],        # NaN element
    [1.0, float("inf"), 0.0, 0.0],        # infinite element
])
def test_bad_query_vector_raises(spark, coll, method, qvec):
    """A wrong-length query used to return k rows with distance NULL,
    and a NaN element NaN distances; both must fail loudly."""
    coll.upsert(make_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None)]))
    with pytest.raises(ValueError, match="query vector"):
        getattr(coll, method)(qvec, k=1)


def _crash_mid_compact(path):
    """The state a crash between compact's two renames leaves: the
    live log renamed aside to ``._old``, the new one never arrived."""
    import os

    os.rename(path, path + "._old")


def test_interrupted_compact_swap_is_healed_by_next_writer(
    spark, coll, caplog
):
    """A compaction that crashed mid-swap loses nothing: the next
    writer-lease holder renames the old log back before it writes.
    (a) ensure_exists restores every row (logging the recovery)
    instead of creating an empty log; (b) an upsert through a fresh
    handle, without ensure_exists, orders above the restored seqs and
    a later compact keeps every old row; (c) ``._old`` disappears only
    by being renamed back."""
    import logging
    import os

    path = coll.path
    keys = [f"k{i}" for i in range(5)]
    coll.upsert(make_rows(spark, [(k, [1.0, 0.0, 0.0, 0.0], None) for k in keys]))
    coll.upsert(make_rows(spark, [("k0", [2.0, 0.0, 0.0, 0.0], None)]))
    old_seq = coll.current_seq

    # (a) ensure_exists on a fresh handle restores the old log
    _crash_mid_compact(path)
    with caplog.at_level(logging.WARNING, logger="python_vectordbapp_ceph_spark"):
        c2 = VectorCollection(spark=spark, path=path, dim=DIM, name="t")
        c2.ensure_exists()
    assert any("interrupted swap" in r.getMessage() for r in caplog.records)
    assert not os.path.exists(path + "._old")  # (c) renamed back, not deleted
    snap = {r.key: r.embedding for r in c2.snapshot().collect()}
    assert set(snap) == set(keys) and snap["k0"] == [2.0, 0.0, 0.0, 0.0]
    assert c2.current_seq == old_seq

    # (b) a plain upsert heals too, and its write orders above history
    _crash_mid_compact(path)
    c3 = VectorCollection(spark=spark, path=path, dim=DIM, name="t")
    c3.upsert(make_rows(spark, [("k0", [3.0, 0.0, 0.0, 0.0], None),
                                ("new", [0.0, 1.0, 0.0, 0.0], None)]))
    assert not os.path.exists(path + "._old")  # (c)
    assert c3.current_seq == old_seq + 1
    c3.compact()
    snap = {r.key: r.embedding for r in c3.snapshot().collect()}
    assert set(snap) == set(keys) | {"new"}
    assert snap["k0"] == [3.0, 0.0, 0.0, 0.0]
    assert snap["k1"] == [1.0, 0.0, 0.0, 0.0]
