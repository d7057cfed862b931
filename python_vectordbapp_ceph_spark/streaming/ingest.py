"""Streaming ingest: the Spark rebuild of the reference's webhook.

Reference flow (SURVEY.md §3.1): S3 PUT/COPY → bucket notification →
Knative channel → Flask handler → embed → upsert one row. Here the
same pipeline is Structured Streaming:

    readStream(event JSON)                       # A1 event-source scan
      → explode(Records)                         # fixes the Records[0]-only
                                                 # bug at pythonvectordbceph.py:129
      → parse key/event/tags (from_json)
      → branch upsert/delete on eventName        # :138-152
      → embed via iterator pandas_udf            # A5/A6, model once/executor
      → foreachBatch: ONE append to the          # upserts + tombstones,
        collection change log                    # one lease, one seq;
                                                 # snapshot resolves
                                                 # last-writer-wins

Each micro-batch is one leased, observed write job: the missing-object
count and the rows written are observations on that job, so a steady-
state batch runs no other Spark action (no emptiness probe, no count,
no max(seq) re-read while the collection's lease chain is unbroken).

Exactly-once: checkpointed source offsets + idempotent upsert sink
(at-least-once delivery × last-writer-wins read = effectively-once),
mirroring B5 (persistent topic, rook-resources.yaml:22).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_log = logging.getLogger(__name__)

# S3 bucket-notification event schema (the fields the reference reads:
# s3.object.key, eventName, s3.object.tags — pythonvectordbceph.py:128-152).
S3_EVENT_SCHEMA = T.StructType(
    [
        T.StructField(
            "Records",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("eventName", T.StringType()),
                        T.StructField("eventTime", T.StringType()),
                        T.StructField(
                            "s3",
                            T.StructType(
                                [
                                    T.StructField(
                                        "bucket",
                                        T.StructType(
                                            [T.StructField("name", T.StringType())]
                                        ),
                                    ),
                                    T.StructField(
                                        "object",
                                        T.StructType(
                                            [
                                                T.StructField("key", T.StringType()),
                                                T.StructField(
                                                    "tags",
                                                    T.MapType(
                                                        T.StringType(), T.StringType()
                                                    ),
                                                ),
                                            ]
                                        ),
                                    ),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def parse_s3_events(raw_json: DataFrame, json_col: str = "value") -> DataFrame:
    """Event JSON → one row per record: (bucket, key, event_type, tags,
    event_ts). Processes the WHOLE Records array via explode — the
    reference drops all but Records[0] (pythonvectordbceph.py:129)."""
    parsed = raw_json.select(
        F.from_json(F.col(json_col).cast("string"), S3_EVENT_SCHEMA).alias("e")
    )
    rec = parsed.select(F.explode("e.Records").alias("r"))
    return rec.select(
        F.col("r.s3.bucket.name").alias("bucket"),
        F.col("r.s3.object.key").alias("key"),
        F.when(F.col("r.eventName").contains("Delete"), F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("r.s3.object.tags").alias("tags"),
        F.to_timestamp("r.eventTime").alias("ingest_ts"),
    )


def _drop_missing(joined: DataFrame, col: str):
    """``joined`` without the rows whose ``col`` is NULL (the left join
    found no object), plus an Observation of how many were dropped. The
    count is taken by the write job that consumes the frame, so it
    costs no job of its own, and it counts exactly the rows that job
    dropped even when the upstream is non-deterministic. Read it with
    ``obs.get["missing"]`` after that job."""
    from pyspark.sql import Observation

    obs = Observation()
    kept = joined.observe(
        obs, F.count_if(F.col(col).isNull()).alias("missing")
    ).filter(F.col(col).isNotNull())
    return kept, obs


def ingest_stream(
    events: DataFrame,
    collection,
    endpoint: str = "http://rgw",
    checkpoint_dir: str | None = None,
    object_text: DataFrame | None = None,
    compact_log_ratio: float | None = None,
    object_type: str = "TEXT",
    object_bytes: DataFrame | None = None,
    available_now: bool = True,
):
    """Wire a parsed event stream into a VectorCollection via
    foreachBatch. ``object_text`` (key → text) stands in for the S3
    get_object fetch in hermetic tests; on a real deployment this is a
    binaryFile/text read against s3a://.

    ``object_type`` is the reference's deployment-level modality
    switch (the OBJECT_TYPE env read at pythonvectordbceph.py:157-171:
    a deployment embeds either TEXT via the 384-dim sentence model or
    IMAGE via the 512-dim resnet tower — one modality, one index
    dimension, per deployment). ``"IMAGE"`` embeds the raw bytes
    column of ``object_bytes`` (key → content binary; the hermetic
    stand-in for a binaryFile scan) with the image tower's iterator
    pandas_udf.

    ``compact_log_ratio`` enables post-batch auto-compaction: when the
    change log outgrows that multiple of the live rows, the batch hook
    rewrites it (maintenance amortized into ingest, so read latency
    doesn't degrade with stream lifetime). Compaction runs BEST-EFFORT
    after the batch's append commits — a maintenance failure is logged
    and retried on a later batch, never replayed as the batch's own.

    ``available_now=False`` keeps the query running continuously (the
    live-webhook deployment shape); the default drains the available
    backlog and terminates (the batch-refresh and test shape).

    Returns the StreamingQuery (caller awaits/stops).
    """
    from ..collection import object_url_col
    from ..embed import image_embed_udf, text_embed_udf

    if object_type not in ("TEXT", "IMAGE"):
        # the reference 400s on unknown formats (:172-174); fail the
        # wiring eagerly rather than per-batch
        raise ValueError(f"unknown object format: {object_type!r}")

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        # LAST EVENT PER KEY first, then the upsert/delete split: with
        # one seq stamped on the whole batch, a key on both sides (a
        # PUT that follows a DELETE of the same key WITHIN one
        # micro-batch — near-certain under availableNow, which drains
        # the backlog into few batches) would resolve by its ingest
        # timestamps alone. Reducing to the latest event by eventTime
        # preserves the reference webhook's sequential per-key outcome;
        # a key then appears in EITHER the upsert or the delete branch,
        # never both (the disjointness upsert(delete_keys=) requires),
        # and superseded PUTs skip the embedding UDF entirely. Tiebreak
        # on equal timestamps is DELETE-over-upsert — deterministic
        # (with equal stamps arrival order is unknowable either way)
        # and the conservative choice: a tombstone only suppresses a
        # row until its next genuine PUT, while a resurrected deleted
        # row leaks data.
        w = Window.partitionBy("key").orderBy(
            F.col("ingest_ts").desc_nulls_last(), F.col("op").asc()
        )
        batch_df = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # persist the reduced micro-batch: both branches of the one
        # write read it, and must not each re-run the source and window
        batch_df = batch_df.persist()
        try:
            ups = batch_df.filter(F.col("op") == "upsert")
            dels = batch_df.filter(F.col("op") == "delete")
            missing = None
            if object_type == "IMAGE":
                if object_bytes is not None:
                    # left join ⇒ a key missing from the object store
                    # yields NULL content; embedding it would crash the
                    # micro-batch (Image.open on None), which then
                    # retries forever. Such rows are dropped with a
                    # logged count — the reference 404s the single
                    # request, the stream must not wedge on it.
                    ups, missing = _drop_missing(
                        ups.join(object_bytes, "key", "left"), "content"
                    )
                else:
                    ups = ups.withColumn(
                        "content", F.encode(F.col("key"), "utf-8")
                    )
                embed_col = image_embed_udf(F.col("content"))
            elif object_text is not None:
                # same guard as the IMAGE branch: a key missing from
                # the object store must be DROPPED with a logged count,
                # not silently upserted as embed("") — every missing
                # key would otherwise share one identical vector that
                # clusters together in search results
                ups, missing = _drop_missing(
                    ups.join(object_text, "key", "left"), "text"
                )
                embed_col = text_embed_udf(F.col("text"))
            else:
                ups = ups.withColumn("text", F.col("key"))
                embed_col = text_embed_udf(F.col("text"))
            rows = ups.select(
                F.col("key"),
                object_url_col(
                    endpoint, F.col("bucket"), F.col("key")
                ).alias("url"),
                embed_col.alias("embedding"),
                F.col("tags"),
                F.lit(None).cast("map<string,string>").alias("props"),
                F.col("ingest_ts"),
            )
            # ONE leased write for the whole micro-batch: upserts and
            # tombstones under one lease and one seq, in one append
            # job. The embedding UDF runs exactly once per row, inside
            # that job (the reference re-ran it per request,
            # pythonvectordbceph.py:162); the tombstones go straight
            # from the DataFrame, so the delete key set never visits
            # the driver. No emptiness probe: a batch that reduces to
            # zero rows writes one schema-only part file.
            collection.upsert(rows, delete_keys=dels.select("key"))
            if missing is not None:
                n_missing = missing.get["missing"]
                if n_missing:
                    _log.warning(
                        "ingest_stream batch %s: dropped %d upsert(s) "
                        "whose object %s is missing",
                        batch_id, n_missing,
                        "bytes" if object_type == "IMAGE" else "text",
                    )
            if compact_log_ratio is not None:
                # best-effort AFTER the data commit: the append is
                # already durable, so a maintenance failure (another
                # session holds the lease, transient FS error mid-swap)
                # must not fail the micro-batch — that would replay and
                # RE-APPEND the whole batch with fresh seqs on every
                # restart while the stream never advances
                try:
                    collection.maybe_compact(max_log_ratio=compact_log_ratio)
                except Exception:
                    _log.warning(
                        "ingest_stream batch %s: post-commit compaction "
                        "failed (will retry on a later batch)",
                        batch_id, exc_info=True,
                    )
        finally:
            batch_df.unpersist()

    writer = events.writeStream.foreachBatch(do_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
