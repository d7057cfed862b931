"""``ingest``: the reference app's webhook path, closed loop, one client.

The client writes one S3-notification file (~200 records), waits until
``streaming.ingest.ingest_stream`` has committed it as one micro-batch
into a ``VectorCollection``, then runs one read-your-write
``collection.search`` for the key the file PUT last, then writes the
next file.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import check
import gen
from run import median

# maybe_compact pays its live-row resolve on the 1st, 3rd and 6th
# batch for most seeds (each resolve raises the live count that gates
# the next). With three warm-up batches the measured ones start on two
# cheap batches, so the median of the 2-5 batches a 10 s run measures
# is a cheap batch for ~90% of seeds, as is the median of a long run.
# With two, the median flipped between kinds with the batch count.
WARMUP_FILES = 3
MAX_FILES = 40  # a 10 s run uses 2-4, a traced run up to 17
COMPACT_LOG_RATIO = 3.0
TRACED_MAX_BATCHES = 12


def _progress_ts(p: dict) -> float:
    """Trigger start (epoch seconds) of a progress record."""
    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def run(run) -> None:
    from pyspark.sql import functions as F

    from python_vectordbapp_ceph_spark.collection import VectorCollection
    from python_vectordbapp_ceph_spark.embed.embedders import stub_text_embedding
    from python_vectordbapp_ceph_spark.streaming.ingest import (
        ingest_stream,
        parse_s3_events,
    )

    spark = run.spark
    sc = spark.sparkContext
    stream = gen.notification_stream(run.seed, WARMUP_FILES + MAX_FILES)
    gen.write_objects(stream, run.path("objects.parquet"))
    objects = spark.read.schema("key string, text string").parquet(
        run.path("objects.parquet"))
    inbox, staging = run.path("inbox"), run.path("staging")
    os.makedirs(inbox)
    os.makedirs(staging)
    with run.setup_step("stream"):
        coll = VectorCollection(spark, run.path("collection"), dim=384,
                                name="bench_docs").ensure_exists()
        raw = (spark.readStream.format("text").option("maxFilesPerTrigger", 1)
               .load(inbox))
        query = ingest_stream(
            parse_s3_events(raw), coll, checkpoint_dir=run.path("checkpoint"),
            object_text=objects, compact_log_ratio=COMPACT_LOG_RATIO,
            available_now=False,
        )
    tracer = run.tracer
    samples: list[dict] = []

    def feed(i: int) -> dict:
        f = stream.files[i]
        qvec = stub_text_embedding(stream.texts[f.probe_key])
        tmp = os.path.join(staging, f"n{i:05d}.json")
        with open(tmp, "wb") as fh:
            fh.write(f.body)
        t_write = time.time()
        t0 = time.perf_counter()
        os.rename(tmp, os.path.join(inbox, f"n{i:05d}.json"))
        while True:
            p = query.lastProgress
            if p is not None and p["batchId"] >= i:
                break
            if query.exception() is not None:
                raise RuntimeError(f"ingest stream failed: {query.exception()}")
            time.sleep(0.005)
        t_commit = time.perf_counter()
        run.check(p["batchId"] == i, f"file {i} committed as batch {p['batchId']}")
        sc.setJobGroup(f"ryw#{i}", "read-your-write probe")
        ts = time.perf_counter()
        rows = coll.search(qvec, k=1, output_fields=["key"]).collect()
        t_visible = time.perf_counter()
        sc.setJobGroup("client", "client")
        hit = bool(rows) and rows[0]["key"] == f.probe_key and rows[0]["distance"] == 0.0
        run.check(hit, f"batch {i}: read-your-write probe {f.probe_key} got "
                       f"{[tuple(r) for r in rows]}")
        dur = p["durationMs"]
        return {
            "visible_s": t_visible - t0,
            "commit_s": t_commit - t0,
            "trigger_s": dur.get("triggerExecution", 0) / 1000.0,
            "add_batch_s": dur.get("addBatch", 0) / 1000.0,
            "wait_s": max(_progress_ts(p) - t_write, 0.0),
            "search_s": t_visible - ts,
            "events": len(f.events),
            "puts": sum(1 for e in f.events if e[1] == "put"),
            "compact_stats": coll._compact_stats,  # noqa: SLF001
        }

    try:
        # warm-up batches: outside the measured window, their time
        # counts in setup_s
        with run.setup_step("warmup"):
            warm = [feed(i) for i in range(WARMUP_FILES)]
        run.setup_done()
        n_fed = WARMUP_FILES
        # traced runs measure an untraced half first, for the overhead
        halves = [(False, run.seconds / 2), (True, run.seconds / 2)] \
            if tracer is not None else [(False, run.seconds)]
        t_measure = time.perf_counter()
        for traced_half, secs in halves:
            if traced_half:
                _install_spans(tracer)
                spark.profile.clear()
            t_half = time.perf_counter()
            half: list[dict] = []
            while n_fed < len(stream.files) and (
                    len(half) < 2 or time.perf_counter() - t_half < secs
                    or (traced_half and len(half) < TRACED_MAX_BATCHES
                        and not any(_compacted(s) for s in half))):
                if traced_half:
                    with tracer.op(f"batch#{n_fed}"):
                        s = feed(n_fed)
                else:
                    s = feed(n_fed)
                s["traced"] = traced_half
                half.append(s)
                n_fed += 1
            samples += half
        window = time.perf_counter() - t_measure
        if tracer is not None:
            tracer.unwrap_all()
    finally:
        query.stop()

    # final snapshot == pure-Python last-event-per-key model
    state: dict = {}
    for f in stream.files[:n_fed]:
        state = gen.apply_events(state, f.events)
    got = coll.snapshot().select(
        "key", "tags", F.unix_timestamp("ingest_ts").alias("ts"), "embedding"
    ).collect()
    for ok, what in check.ingest_snapshot(
            [r.asDict() for r in got], state, stream.texts, stub_text_embedding):
        run.check(ok, what)

    measured = [s for s in samples if not s["traced"]] or samples
    vis = [s["visible_s"] for s in measured]
    run.end_to_end["latency_p50_s"] = median(vis)
    run.end_to_end["batch_s"] = median([s["trigger_s"] for s in measured])
    run.end_to_end["setup_s"] = run.setup_s
    n = len(measured)
    run.note("ingest.events_per_s",
             median([s["events"] / s["visible_s"] for s in measured]), "1/s", n)
    run.note("ingest.batch_p50_s", run.end_to_end["batch_s"], "s", n)
    run.note("ingest.visible_p50_s", median(vis), "s", n)
    run.note("ingest.commit_p50_s", median([s["commit_s"] for s in measured]), "s", n)
    run.note("ingest.measure_window_s", window, "s", len(samples))
    compactions = sum(1 for s in warm + samples if _compacted(s))
    run.note("ingest.compactions", compactions, "count", len(warm) + len(samples))
    run.note("setup_s", run.setup_s, "s", 1)

    if tracer is not None:
        _layer_metrics(run, [s for s in samples if s["traced"]],
                       [s for s in samples if not s["traced"]])
        run.per_layer["collection.compactions"] = float(compactions)


def _compacted(sample: dict) -> bool:
    # compact() resets the policy's cached counts to (None, None)
    return sample["compact_stats"] == (None, None)


def _install_spans(t) -> None:
    """Wrap the collection, lease and operator entry points the
    micro-batch and the read-your-write probe call."""
    from python_vectordbapp_ceph_spark import collection as C
    from python_vectordbapp_ceph_spark.operators import filter_expr, knn, mutation

    V = C.VectorCollection
    t.wrap(V, "upsert", "collection.upsert")
    t.wrap(V, "delete_keys_df", "collection.delete")
    t.wrap(V, "maybe_compact", "collection.maybe_compact")
    t.wrap(V, "compact", "collection.compact")
    t.wrap(V, "_writer_lease", "lease.acquire")
    t.wrap(V, "_next_seq", "collection.next_seq")
    t.wrap(V, "search", "collection.search")
    t.wrap(filter_expr, "translate", "filter_expr.translate")
    t.wrap(knn, "knn_topk", "knn.plan")
    t.wrap(mutation, "upsert_last_writer", "mutation.resolve")


def _layer_metrics(run, traced: list[dict], untraced: list[dict]) -> None:
    from spans import job_group_counters, sum_counters, udf_profile

    t = run.tracer
    pl = run.per_layer
    nb = max(len(traced), 1)
    groups = job_group_counters(run.spark)
    ryw = sum_counters(c for g, c in groups.items() if g.startswith("ryw#"))
    stream_groups = {g: c for g, c in groups.items()
                     if not g.startswith(("ryw#", "client")) and g}
    stream = sum_counters(stream_groups.values())
    total_batches = len(traced) + len(untraced) + WARMUP_FILES
    pl["ingest.trigger_wait_s"] = median([s["wait_s"] for s in traced])
    pl["ingest.add_batch_s"] = median([s["add_batch_s"] for s in traced])
    pl["ingest.engine_s"] = median([s["trigger_s"] - s["add_batch_s"] for s in traced])
    pl["ingest.jobs_per_batch"] = stream["jobs"] / total_batches
    # rows the embedding UDF embedded = calls of the per-row embedding
    udf_s, embedded = udf_profile(run.spark, "stub_text_embedding")
    pl["embed.udf_s"] = udf_s / nb
    pl["embed.rows_per_put_event"] = embedded / max(sum(s["puts"] for s in traced), 1)
    pl["collection.upsert_s"] = t.total("collection.upsert") / nb
    pl["collection.delete_s"] = t.total("collection.delete") / nb
    pl["lease.acquire_s"] = t.total("lease.acquire") / nb
    pl["lease.acquires_per_batch"] = t.count("lease.acquire") / nb
    pl["collection.maybe_compact_s"] = t.total("collection.maybe_compact") / nb
    pl["collection.search_after_write_s"] = median([s["search_s"] for s in traced])
    ratios = [a / b for a, b in (s["compact_stats"] for s in traced) if a and b]
    pl["collection.log_live_ratio"] = median(ratios)
    pl["collection.snapshot_shuffle_bytes"] = ryw["shuffle_write_bytes"] / total_batches
    for k, v in stream.items():
        pl[f"spark.{k}"] = v / total_batches
    pl["trace.overhead_ratio"] = (
        median([s["visible_s"] for s in traced])
        / max(median([s["visible_s"] for s in untraced]), 1e-9))
    for layer, secs in t.self_time_by_layer().items():
        pl[f"selftime.{layer}_s"] = secs / nb

