"""Continuous vector-index maintenance: stream → embed → IVF assign →
partitioned append.

The reference's full ingest story composed end-to-end: its webhook
upserts each embedded object into the backend's IVF index (Milvus
inserts into the current inverted lists; the nlist=16384 quantizer is
NOT refit per PUT — milvus-app/pythonvectordbceph_milvus.py:100-102,154).
Here the same contract runs as Structured Streaming:

    readStream(vector batches)
      → foreachBatch:
          assign_new(index, batch)      # build_ivf's Arrow-batch
                                        # argmin kernel, map-side,
                                        # O(batch × nlist), no refit
          append_partitioned(...)       # writes ONLY the cluster dirs
                                        # the batch lands in

Delivery: checkpointed source offsets make each batch processed once
in normal operation; a batch killed MID-APPEND is replayed, so the
pure-append layout is at-least-once — a crash-retry can duplicate
rows, and a duplicated id can then occupy two of a search's k result
slots (same distance twice), displacing the true k-th neighbor. The
two exactly-once paths resolve this where it matters: the collection
route (ingest.py → keyed upsert, last-writer-wins snapshot) dedupes by
key, and the manifest-committed ledgers (operators/merge.py /
shards.py) make a replayed batch an invisible orphan. Use the bare
append layout when the feed itself is idempotent or duplicate slots
are acceptable (e.g. recall evaluation); route through the collection
otherwise.

At 100 TB: the streaming batch is the only thing in flight —
assignment is the build's map-side argmin kernel with the centroids
shipped in the closure, the shuffle for the partitionBy append
carries batch-sized data, and the index at rest is never rewritten.
Centroid drift under distribution shift is handled by periodic
offline ``rebuild_ivf`` runs (refit + reassign + the shared
two-rename swap), exactly as IVF deployments rotate segments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.ivf import IVFIndex, assign_new, append_partitioned
from ..operators.lease import (
    LEASE_TTL_MS,
    acquire_writer_lease,
    release_on_termination,
    sibling_lease_path,
)


def stream_into_ivf(
    stream: DataFrame,
    index: IVFIndex,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    lease_ttl_ms: int = LEASE_TTL_MS,
    lease_timeout_ms: int | None = None,
    steal_lease: bool = False,
) -> StreamingQuery:
    """Attach a streaming vector source to the on-disk IVF layout.

    ``stream`` carries (id, embedding [, payload...]) rows — e.g. the
    output of ingest.py's parse+embed stages. Each micro-batch is
    assigned to the EXISTING centroids and appended to ``path``'s
    cluster-partitioned parquet.

    SINGLE WRITER — ENFORCED: the stream holds the layout's writer
    lease (``<path>._lease``, the SAME lease the rebuild jobs take)
    from start to termination, re-asserting it per micro-batch — so a
    periodic ``rebuild_ivf``/``rebuild_saved_ivf`` racing the stream
    fails fast instead of deleting an in-flight batch's append with
    the swapped-out directory (and vice versa: a stream started during
    a rebuild raises instead of appending into a doomed layout).
    ``steal_lease=True`` reclaims a hard-killed holder's lease before
    its TTL; otherwise restarts wait out ``lease_ttl_ms``."""
    spark = stream.sparkSession
    lease_kwargs = {} if lease_timeout_ms is None else {
        "timeout_ms": lease_timeout_ms
    }
    lease = acquire_writer_lease(
        spark, path, ttl_ms=lease_ttl_ms, steal=steal_lease,
        lease_path=sibling_lease_path(path), **lease_kwargs,
    )
    # survive idle source gaps longer than the TTL (see shard_ingest)
    lease.start_auto_heartbeat()

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        lease.heartbeat()
        if not batch_df.isEmpty():
            append_partitioned(
                assign_new(index, batch_df), path, vec_col=index.vec_col
            )

    writer = (
        stream.writeStream.foreachBatch(do_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    try:
        query = writer.start()
    except Exception:
        lease.release()
        raise
    release_on_termination(query, lease)
    return query
