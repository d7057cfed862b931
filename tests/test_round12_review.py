"""Regression pins for the round-12 self-review findings on the
collection/ingest/merge surfaces (the protocol-file findings have
their pins in tests/test_epoch_lease.py):

  - ensure_exists probes existence with a filesystem check and must
    never overwrite a populated log (the old read-with-fallback turned
    any transient read error into silent total data loss);
  - within one ingest micro-batch, the LAST event per key wins —
    DELETE-then-PUT keeps the key, PUT-then-DELETE removes it (the old
    upserts-then-tombstones split gave every delete the higher seq);
  - the leased append auto-heartbeats (a micro-batch outliving the TTL
    must not present an expired lease to a concurrent compact);
  - the TEXT ingest path drops keys missing from the object store with
    a logged count instead of upserting embed("") for all of them.

The files_per_bucket map-column pin lives in tests/test_merge.py and
the interrupted-swap load_ivf pin in tests/test_knn.py.
"""

import json

import pytest
from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.collection import VectorCollection
from python_vectordbapp_ceph_spark.streaming.ingest import (
    ingest_stream,
    parse_s3_events,
)

DIM = 4          # explicit-vector tests
TEXT_DIM = 384   # what the stub text embedder emits (ingest-driven tests)


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "key string, embedding array<float>, tags map<string,string>"
    )


def _event(key, event="ObjectCreated:Put", t="2024-01-01T00:00:00Z"):
    return {
        "Records": [
            {
                "eventName": event,
                "eventTime": t,
                "s3": {
                    "bucket": {"name": "b1"},
                    "object": {"key": key, "tags": {}},
                },
            }
        ]
    }


def _write_events(tmp_path, name, events):
    d = tmp_path / name
    d.mkdir(exist_ok=True)
    with open(d / "batch.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    return d


def _drain(spark, events_dir, coll, ckpt, **kw):
    raw = spark.readStream.text(str(events_dir))
    q = ingest_stream(
        parse_s3_events(raw, json_col="value"), coll,
        checkpoint_dir=str(ckpt), **kw,
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"


def test_ensure_exists_never_clobbers_populated_log(spark, tmp_path):
    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=DIM, name="t"
    ).ensure_exists()
    coll.upsert(_rows(spark, [("k1", [1.0, 0.0, 0.0, 0.0], None)]))
    # the has_collection->create pattern re-runs on every startup
    again = VectorCollection(
        spark=spark, path=coll.path, dim=DIM, name="t"
    ).ensure_exists()
    assert {r.key for r in again.snapshot().collect()} == {"k1"}


def test_delete_then_put_same_key_one_batch_keeps_key(spark, tmp_path):
    """The reference webhook processes events sequentially; a PUT after
    a DELETE of the same key must survive even when both land in one
    micro-batch (availableNow drains the backlog into few batches).
    Ties on identical eventTimes resolve delete-wins (the conservative
    pre-reduction behavior, pinned by test_ingest_stream_end_to_end)."""
    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=TEXT_DIM, name="t"
    ).ensure_exists()
    events = _write_events(tmp_path, "ev", [
        _event("k", "ObjectRemoved:Delete", t="2024-01-01T00:00:01Z"),
        _event("k", "ObjectCreated:Put", t="2024-01-01T00:00:02Z"),
    ])
    _drain(spark, events, coll, tmp_path / "ckpt")
    assert {r.key for r in coll.snapshot().collect()} == {"k"}


def test_put_then_delete_same_key_one_batch_removes_key(spark, tmp_path):
    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=TEXT_DIM, name="t"
    ).ensure_exists()
    events = _write_events(tmp_path, "ev", [
        _event("k", "ObjectCreated:Put", t="2024-01-01T00:00:01Z"),
        _event("k", "ObjectRemoved:Delete", t="2024-01-01T00:00:02Z"),
    ])
    _drain(spark, events, coll, tmp_path / "ckpt")
    assert coll.snapshot().count() == 0


def test_append_auto_heartbeats(spark, tmp_path, monkeypatch):
    """The write job runs the upstream plan (an ingest batch's
    embedding UDF included): the lease must be auto-heartbeated while
    it runs, and the heartbeat stopped by the release."""
    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=DIM, name="t"
    ).ensure_exists()
    leases, armed = [], []
    writer_cls = type(spark.range(1).write)
    orig_lease, orig_parquet = coll._writer_lease, writer_cls.parquet

    def spy_lease():
        leases.append(orig_lease())
        return leases[-1]

    def spy_parquet(self, *a, **k):
        armed.append(leases[-1]._auto_hb and not leases[-1]._stop.is_set())
        return orig_parquet(self, *a, **k)

    coll._writer_lease = spy_lease
    monkeypatch.setattr(writer_cls, "parquet", spy_parquet)
    coll.upsert(_rows(spark, [("k", [1.0, 0.0, 0.0, 0.0], None)]))
    assert armed == [True], "_append must arm the auto-heartbeat"
    assert leases[0]._stop.is_set(), "release must stop the heartbeat thread"


def test_text_ingest_drops_missing_object_text(spark, tmp_path):
    """A key absent from the object store is DROPPED (logged), not
    upserted as the embedding of the empty string."""
    coll = VectorCollection(
        spark=spark, path=str(tmp_path / "c"), dim=TEXT_DIM, name="t"
    ).ensure_exists()
    events = _write_events(tmp_path, "ev", [
        _event("present"), _event("missing"),
    ])
    object_text = spark.createDataFrame(
        [("present", "some text")], "key string, text string"
    )
    _drain(spark, events, coll, tmp_path / "ckpt", object_text=object_text)
    assert {r.key for r in coll.snapshot().collect()} == {"present"}


# --- second review pass: shard_ingest / ivf / cache --------------------------------


def test_stream_append_replay_does_not_double_pack(spark, tmp_path):
    """foreachBatch is at-least-once: deleting the checkpoint's LAST
    batch commit marker (the crash-between-publish-and-checkpoint
    shape) makes the restart replay that batch — the ledger's
    batch_tag marker must recognize it and skip the re-pack, keeping
    the ledger byte-identical (dedup is OFF: nothing else guards)."""
    import os

    from python_vectordbapp_ceph_spark.operators.shards import (
        last_batch_tag,
        read_ledger,
    )
    from python_vectordbapp_ceph_spark.streaming.shard_ingest import (
        stream_append,
    )

    src = str(tmp_path / "src")
    led = str(tmp_path / "led")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):
        spark.range(i * 100, i * 100 + 50).select(
            F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens")
        ).coalesce(1).write.mode("append").parquet(src)

    def _stream():
        return (
            spark.readStream.schema("doc_id long, n_tokens long")
            .option("maxFilesPerTrigger", 1).parquet(src)
        )

    q = stream_append(_stream(), led, ckpt, budget=100_000)
    assert q.awaitTermination(300)
    spark.catalog.refreshByPath(led)
    n = read_ledger(spark, led).count()
    assert n == 150
    tag_before = last_batch_tag(spark, led)
    assert tag_before is not None

    # crash shape: the last batch's manifest publish survived but its
    # checkpoint commit marker didn't -> restart replays that batch
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):  # local-FS checksum sidecar must go too
        os.remove(crc)

    q2 = stream_append(_stream(), led, ckpt, budget=100_000,
                       lease_timeout_ms=30_000)
    assert q2.awaitTermination(300)
    spark.catalog.refreshByPath(led)
    assert read_ledger(spark, led).count() == n, "replayed batch re-packed"


def test_assign_new_keeps_duplicate_ids_and_drops_null_vectors(spark):
    from python_vectordbapp_ceph_spark.operators.ivf import (
        assign_new,
        build_ivf,
    )

    base = spark.createDataFrame(
        [(i, [float(i % 4), float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    index = build_ivf(base, nlist=4)
    batch = spark.createDataFrame(
        [
            (100, [1.0, 1.0]),
            (100, [2.0, 2.0]),   # duplicate id, different payload
            (101, None),          # null embedding: no nearest centroid
        ],
        "vec_id long, embedding array<float>",
    )
    got = assign_new(index, batch)
    rows = got.collect()
    # both duplicate-id rows survive (at-least-once append semantics);
    # the null row is dropped, never silently dumped into cluster 0
    assert len(rows) == 2
    assert sorted(r.vec_id for r in rows) == [100, 100]
    assert all(r.cluster_id is not None for r in rows)


def test_ivf_search_ranks_null_distances_last(spark):
    from python_vectordbapp_ceph_spark.operators.ivf import (
        IVFIndex,
        build_ivf,
    )

    base = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    built = build_ivf(base, nlist=2)
    # poison one assigned row with a NULL embedding (a corrupt write)
    poisoned = built.assigned.unionByName(
        spark.createDataFrame(
            [(999, None, 0)],
            "vec_id long, embedding array<float>, cluster_id int",
        )
    )
    index = IVFIndex(
        assigned=poisoned, centroids=built.centroids,
        vec_col=built.vec_col, id_col=built.id_col,
    )
    hits = index.search([0.0, 0.0], k=3, nprobe=2).collect()
    assert all(r.vec_id != 999 for r in hits), "null distance ranked first"
    assert all(r.distance is not None for r in hits)


def test_search_batch_tolerates_null_query_vector(spark):
    from python_vectordbapp_ceph_spark.operators.ivf import (
        build_ivf,
        search_batch,
    )

    base = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    index = build_ivf(base, nlist=2)
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)],
        "q_id long, q_embedding array<float>",
    )
    got = search_batch(index, queries, k=2, nprobe=2).collect()
    assert {r.q_id for r in got} == {1}  # null-vec query yields no rows


def test_release_caches_scopes_are_isolated(spark):
    from python_vectordbapp_ceph_spark import cache as C

    a = spark.range(10)
    b = spark.range(20)
    with C.cache_scope("stream-x"):
        C.tracked_persist(a)
    C.tracked_persist(b)  # default scope
    C.release_caches("stream-x")
    assert a.storageLevel.useMemory is False, "scoped frame not released"
    assert b.storageLevel.useMemory is True, "unrelated pin was drained"
    C.release_caches()  # legacy full drain still works
    assert b.storageLevel.useMemory is False


# --- third review pass: dedup / bloom / twophase / graph ---------------------------


def test_bloom_contains_no_false_negative_on_duplicate_probes(spark):
    """A probe key appearing TWICE must still be maybe_present — the
    raw-row hit count (2k != k) used to report genuinely inserted keys
    absent, a false negative in the decontamination direction."""
    from python_vectordbapp_ceph_spark.operators.bloom import (
        bloom_build,
        bloom_contains,
    )

    inserted = spark.createDataFrame([("a",), ("b",)], "key string")
    bloom = bloom_build(inserted, "key")
    probes = spark.createDataFrame(
        [("a",), ("a",), ("c",)], "key string"  # 'a' duplicated
    )
    got = {r.key: r.maybe_present
           for r in bloom_contains(bloom, probes, "key").collect()}
    assert got["a"] is True, "duplicated inserted key reported absent"


def test_bloom_union_packed_form_ors_bitsets(spark):
    """Union of two PACKED filters must OR colliding words — a bare
    distinct leaves two rows per word and double-counts probe hits,
    failing the == k membership test for inserted keys."""
    from python_vectordbapp_ceph_spark.operators.bloom import (
        bloom_build,
        bloom_build_packed,
        bloom_contains_many,
        bloom_union,
    )
    import pytest as _pytest

    h1 = spark.createDataFrame([(f"x{i}",) for i in range(40)], "key string")
    h2 = spark.createDataFrame([(f"y{i}",) for i in range(40)], "key string")
    u = bloom_union(
        bloom_build_packed(h1, "key"), bloom_build_packed(h2, "key")
    )
    # exactly one row per word after the union
    assert u.groupBy("word").count().filter("count > 1").count() == 0
    probes = spark.createDataFrame(
        [("x3",), ("y7",), ("zz",)], "key string"
    )
    hits = {
        r.key
        for r in bloom_contains_many([("u", u, 4096)], probes, "key").collect()
    }
    assert {"x3", "y7"} <= hits  # no false negatives across both halves
    with _pytest.raises(ValueError, match="mixed filter forms"):
        bloom_union(bloom_build_packed(h1, "key"), bloom_build(h2, "key"))


def test_grouped_cumsum_keeps_null_group_rows(spark):
    """Rows whose group key is NULL must survive the broadcast join
    back (a list-of-names join is null-unsafe and silently DROPPED
    them) and carry a correct within-group cumsum."""
    from python_vectordbapp_ceph_spark.operators.twophase import (
        grouped_cumsum,
    )

    df = spark.createDataFrame(
        [("g1", 1, 10), ("g1", 2, 20), (None, 1, 5), (None, 2, 7)],
        "grp string, ord int, v int",
    )
    got = grouped_cumsum(df, ["grp"], ["ord"], "v", cum_col="cum")
    rows = got.collect()
    assert len(rows) == 4, "null-group rows vanished"
    null_rows = {r.ord: r.cum for r in rows if r.grp is None}
    assert null_rows == {1: 5, 2: 12}


def test_lsh_bands_exceeding_signature_raises(spark):
    from python_vectordbapp_ceph_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "one two three"), (2, "four five six")], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs, num_hashes=2)
    with pytest.raises(Exception, match="exceeds the signature length"):
        minhash_lsh_candidates(sigs, bands=4).collect()


def test_mllib_lsh_tolerates_empty_documents(spark):
    from python_vectordbapp_ceph_spark.operators.dedup import (
        minhash_lsh_mllib,
    )

    docs = spark.createDataFrame(
        [
            (1, "shared tokens here right"),
            (2, "shared tokens here right now"),
            (3, ""),          # empty: all-zero vector crashed MinHashLSH
            (4, "   "),       # whitespace-only: same
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_mllib(docs, threshold=0.6).collect()
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert 3 not in ids and 4 not in ids
    assert any({r.id_a, r.id_b} == {1, 2} for r in pairs)
