"""VectorCollection — the bucket→table abstraction.

Reference model being reproduced (SURVEY.md §1):
  - one logical collection per S3 bucket; name = bucket with '-'→'_'
    (milvus-app/pythonvectordbceph_milvus.py:81) / '<bucket>-vectors'
    (s3vectors-app/pythonvectordbceph.py:87);
  - row = (url/key PK, float32 vector, tags JSON, dynamic metadata)
    (pythonvectordbceph_milvus.py:92-99);
  - DDL: idempotent create-if-missing (has_collection → create,
    pythonvectordbceph_milvus.py:92-103; ensure_vector_bucket_exists,
    pythonvectordbceph.py:93-119);
  - upsert / delete / top-k search / filtered query / describe.

Spark-first: the collection is a parquet-backed catalog table of an
append-only change log; every verb compiles to a DataFrame plan
(mutation resolves lazily at read — see operators/mutation.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import vector as V
from .io import read_parquet
from .operators import filter_expr, knn, mutation

# Core schema: fixed columns + dynamic-field overflow map (the Milvus
# enable_dynamic_field=True analog, pythonvectordbceph_milvus.py:98).
def collection_schema(dim: int) -> T.StructType:
    return T.StructType(
        [
            T.StructField("key", T.StringType(), nullable=False),
            T.StructField("url", T.StringType(), nullable=True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), nullable=True),
            T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
            T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
            T.StructField("ingest_ts", T.TimestampType(), nullable=False),
            T.StructField("seq", T.LongType(), nullable=False),
            T.StructField("op", T.StringType(), nullable=False),
        ]
    )


def collection_name_for_bucket(bucket: str) -> str:
    """bucket → table name ('-'→'_', the reference's rule at
    pythonvectordbceph_milvus.py:81)."""
    return re.sub("-", "_", bucket)


def object_url(endpoint: str, bucket: str, key: str) -> str:
    """The reference's URL primary key (pythonvectordbceph.py:135)."""
    return f"{endpoint}/{bucket}/{key}"


def object_url_col(endpoint: str, bucket: Column, key: Column) -> Column:
    """Column-level twin of :func:`object_url` — the single place the
    URL scheme lives, so ingest and batch paths can't drift."""
    return F.concat(F.lit(endpoint + "/"), bucket, F.lit("/"), key)


@dataclass
class VectorCollection:
    """A keyed vector collection backed by a parquet change log."""

    spark: SparkSession
    path: str
    dim: int
    name: str = "collection"
    metric: str = "l2"
    # the log's max(seq) as of our last write, and its row count (None:
    # unknown). Both stay valid while the lease chain is unbroken — see
    # _writer_lease
    _seq: int | None = field(default=None, repr=False)
    _log_rows: int | None = field(default=None, repr=False)
    # owner of this object's last writer-lease handle
    _lease_owner: str | None = field(default=None, repr=False)
    _ivf: object = field(default=None, repr=False)
    _nprobe: int = field(default=4, repr=False)
    _index_params: dict = field(default_factory=dict, repr=False)
    _loaded: object = field(default=None, repr=False)
    # (log_rows, live_rows) at the last maybe_compact check — lets the
    # policy skip the expensive snapshot resolve on unchanged logs
    _compact_stats: tuple = field(default=(None, None), repr=False)
    # writer-lease acquire timeout override (tests set 0 for fail-fast)
    lease_timeout_ms: int | None = field(default=None, repr=False)

    # --- DDL -------------------------------------------------------
    def ensure_exists(self) -> "VectorCollection":
        """Idempotent create (the has_collection→create pattern).

        Existence is probed with a FILESYSTEM check, never a
        read-with-fallback: a read can fail transiently (store hiccup,
        connection reset) and treating that as "missing" would
        OVERWRITE a populated log with an empty one — the seq history
        and every row gone on a blip (_next_seq documents the same
        must-propagate rule for the seq floor). The create itself runs
        under the writer lease with SaveMode.Ignore, so two racing
        creators — or a creator racing a first append — cannot clobber
        a directory that gained data after the probe. A log left at
        ``<path>._old`` by a compaction that crashed mid-swap is
        restored by the lease acquire, not replaced by an empty one."""
        from .operators.merge import _fs

        fs, hpath = _fs(self.spark, self.path)
        if not fs.exists(hpath(self.path)):
            lease = self._writer_lease()
            try:
                if not fs.exists(hpath(self.path)):
                    # from an RDD with no partitions: an empty list
                    # would start Python workers for a schema-only file
                    empty = self.spark.createDataFrame(
                        self.spark.sparkContext.emptyRDD(),
                        collection_schema(self.dim),
                    )
                    empty.write.mode("ignore").parquet(self.path)
                    self._seq, self._log_rows = 0, 0
            finally:
                lease.release()
        return self

    def describe(self) -> dict:
        df = self._log()
        return {
            "name": self.name,
            "dim": self.dim,
            "metric": self.metric,
            "schema": df.schema.jsonValue(),
            "log_rows": df.count(),
            "live_rows": self.snapshot().count(),
        }

    # --- internals -------------------------------------------------
    def _log(self) -> DataFrame:
        return read_parquet(self.spark, self.path, schema=collection_schema(self.dim))

    def _writer_lease(self):
        """Acquire the collection's writer lease — a SIBLING file
        (``<path>._lease``: compact()'s two-rename swap replaces the
        log directory itself, so a lease inside would swap out with
        it). Mutations hold it briefly; compact holds it across the
        swap — so an append can never land between compact's snapshot
        and its rename, where it would vanish with the ``._old``
        directory. The reference delegates this to its backend (Milvus
        upserts are backend-atomic); the parquet-log rebuild owns it.
        Concurrent mutators from OTHER sessions serialize on it or
        fail fast after the acquire timeout; a process killed
        mid-mutation leaves a lease that expires after its TTL.

        Right after the acquire, the holder heals a compaction that
        crashed between its two renames (live log absent, old log at
        ``<path>._old``) by renaming the old log back
        (lease.recover_swap, the IVF rebuild's recovery too) — so the
        next write, ``ensure_exists`` included, continues the old log
        instead of starting an empty one beside it. A healthy log
        costs one ``exists()`` call.

        The lease chain: when the new lease moved past a record of this
        object's previous handle, no other writer held the lease in
        between, so the log is exactly as this object last left it and
        the cached ``_seq`` and ``_log_rows`` stay valid. Any other
        predecessor (another writer, a steal, a breaker that fenced a
        lost release, a wiped record directory) drops both, and the
        next write re-reads them from the log."""
        from .operators.lease import (
            acquire_writer_lease,
            recover_swap,
            sibling_lease_path,
        )

        kw = {} if self.lease_timeout_ms is None else {
            "timeout_ms": self.lease_timeout_ms
        }
        lease = acquire_writer_lease(
            self.spark, self.path,
            lease_path=sibling_lease_path(self.path), **kw,
        )
        try:
            healed = recover_swap(self.spark, self.path, op="collection")
        except BaseException:
            lease.release()
            raise
        if (healed or self._lease_owner is None
                or lease.predecessor_owner != self._lease_owner):
            self._seq, self._log_rows = None, None
        self._lease_owner = lease.owner
        return lease

    def _append(self, df: DataFrame) -> None:
        """ONE leased, observed append of ``df`` (collection columns
        except ``seq``), every row stamped with one fresh seq. The
        rows written are counted by an observation on the write job
        itself, and the count keeps ``_log_rows`` current without a
        separate count job.

        The seq is assigned INSIDE the lease from the chain-checked
        floor: two sessions mutating the same collection serialize on
        the lease, so each write orders ABOVE everything the other
        committed — a per-process counter kept outside the lease made
        last-writer-wins resolve by stale local ordering (a later
        delete could silently lose to an earlier session's upsert)."""
        from pyspark.sql import Observation

        lease = self._writer_lease()
        try:
            # the write job runs the upstream plan — an ingest batch's
            # embedding UDF included — and a big backlog batch can
            # outlive the TTL with nothing ticking the lease; an
            # "expired" lease lets a concurrent compact break it and
            # swap the log out from under the in-flight append
            lease.start_auto_heartbeat()
            seq = F.lit(self._next_seq()).cast("long").alias("seq")
            written = Observation()
            out = df.select(*[
                seq if f.name == "seq" else F.col(f.name)
                for f in collection_schema(self.dim).fields
            ]).observe(written, F.count(F.lit(1)).alias("rows"))
            try:
                out.write.mode("append").parquet(self.path)
            except BaseException:
                self._log_rows = None  # a failed job may leave files
                raise
            if self._log_rows is not None:
                self._log_rows += written.get["rows"]
        finally:
            lease.release()
        self._ivf = None  # any mutation invalidates the ANN index

    def _next_seq(self) -> int:
        """Monotone writer sequence, persistent across process restarts
        AND across concurrent sessions: the next seq is one above the
        log's max(seq), so a reopened or concurrent collection always
        orders its writes ABOVE the existing log — or deletes/upserts
        would silently lose to history. Callers must hold the writer
        lease (see _append).

        The max is re-read from the log (one column-pruned agg — the
        log is compaction-bounded) only when the cached floor is
        unknown: on this object's first write, and whenever
        ``_writer_lease`` finds the lease chain broken. While the chain
        holds, no other writer has touched the log since our last
        write, so the cached floor is exact."""
        from pyspark.errors import AnalysisException

        if self._seq is None:
            try:
                row = self._log().agg(F.max("seq").alias("m")).collect()[0]
                self._seq = int(row.m or 0)
            except AnalysisException as e:
                # ONLY the not-yet-existing-path case may fall back to 0
                # (the append itself creates the log — the old
                # contract). Any other failure must propagate: silently
                # restarting at seq=0 on a transient read error would
                # order new writes BELOW history and no-op deletes.
                if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                    raise
                self._seq = 0
        self._seq += 1
        return self._seq

    def _checked_embedding(self, emb: Column) -> Column:
        """Dim check (the backend's dim-enforced index, B2), enforced
        INSIDE the written column: a wrong-width vector trips
        raise_error during the write job itself. One job per upsert —
        no separate validation count() doubling every write (and
        re-running upstream embedding UDFs)."""
        bad = emb.isNotNull() & (F.size(emb) != self.dim)
        return F.when(
            bad,
            F.raise_error(
                F.concat(
                    F.lit(f"embedding dim != {self.dim} for key="), F.col("key")
                )
            ).cast("array<float>"),
        ).otherwise(emb)

    def _tombstones(self, key_rows: DataFrame) -> DataFrame:
        """Delete markers for a DataFrame of keys — fully distributed;
        the key set never visits the driver."""
        return key_rows.select(
            F.col("key").cast("string").alias("key"),
            F.lit(None).cast("string").alias("url"),
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit(None).cast("map<string,string>").alias("tags"),
            F.lit(None).cast("map<string,string>").alias("props"),
            F.current_timestamp().alias("ingest_ts"),
            F.lit("delete").alias("op"),
        )

    # --- mutation verbs --------------------------------------------
    def upsert(self, rows: DataFrame, delete_keys: DataFrame | None = None) -> None:
        """Replace-by-key semantics via append + last-writer-wins read.
        Idempotent under at-least-once redelivery (same key+seq).

        ``delete_keys`` (a DataFrame with a ``key`` column) tombstones
        those keys in the SAME write: upserts and tombstones share one
        lease, one seq and one append job — the streaming ingest
        micro-batch shape. Its keys must be disjoint from the keys of
        ``rows``: with one seq for both, a key on both sides resolves
        by ingest_ts, not by call order. An empty input writes one
        schema-only part file; unlike the delete verbs, this verb does
        not probe for emptiness."""
        cols = rows.columns

        def opt(c: str) -> Column:
            return F.col(c) if c in cols else F.lit(None)

        ts = (
            F.coalesce(F.col("ingest_ts"), F.current_timestamp())
            if "ingest_ts" in cols else F.current_timestamp()
        )
        out = rows.select(
            F.col("key").cast("string").alias("key"),
            opt("url").cast("string").alias("url"),
            self._checked_embedding(
                F.col("embedding").cast("array<float>")
            ).alias("embedding"),
            opt("tags").cast("map<string,string>").alias("tags"),
            opt("props").cast("map<string,string>").alias("props"),
            ts.cast("timestamp").alias("ingest_ts"),
            F.lit("upsert").alias("op"),
        )
        if delete_keys is not None:
            out = out.unionByName(self._tombstones(delete_keys))
        self._append(out)

    def _append_tombstones(self, key_rows: DataFrame) -> None:
        """Tombstone every key in ``key_rows``; a 0-match delete writes
        nothing and spends no seq."""
        if key_rows.isEmpty():
            return
        self._append(self._tombstones(key_rows))

    def delete_keys(self, keys: list[str]) -> None:
        """delete_vectors(keys=[...]) analog (pythonvectordbceph.py:143-147)."""
        self._append_tombstones(
            self.spark.createDataFrame([(k,) for k in keys], "key string")
        )

    def delete_keys_df(self, key_rows: DataFrame) -> None:
        """Distributed delete: tombstone every key in ``key_rows``
        (a DataFrame with a ``key`` column) without driver round-trips
        — the bulk path streaming ingest and backfills use."""
        self._append_tombstones(key_rows)

    def delete_where(self, expr: str) -> None:
        """Milvus filter-expression delete (client.delete(filter=...),
        pythonvectordbceph_milvus.py:108-113). Tombstones are appended
        straight from the matching DataFrame — no collect(), so a broad
        predicate can't blow up driver memory. The matched key set is
        persisted so the snapshot window pipeline runs once, not once
        for the emptiness probe and again for the append."""
        snap = self.snapshot()
        cond = filter_expr.translate(expr, snap)
        keys = snap.filter(cond).select("key").persist()
        try:
            self._append_tombstones(keys)
        finally:
            keys.unpersist()

    # --- reads ------------------------------------------------------
    def snapshot(self, as_of_seq: int | None = None) -> DataFrame:
        """Strong-consistency read: resolve last-writer-wins, drop
        deleted keys (batch snapshot ≡ the reference's
        consistency_level='Strong', milvus-app/search.py:18).

        ``as_of_seq`` is a time-travel read: resolve the log AS OF that
        writer sequence — every later upsert/delete is invisible. The
        change-log layout makes this free (one pushable ``seq <=`` scan
        filter); compaction collapses history, so travel reaches back
        only to the last compact — the retention trade every log-
        structured table makes."""
        log = self._log()
        if as_of_seq is not None:
            log = log.filter(F.col("seq") <= as_of_seq)
        resolved = mutation.upsert_last_writer(
            log, ["key"], "seq", tiebreak_cols=["ingest_ts"]
        )
        return resolved.filter(F.col("op") != "delete").drop("op", "seq")

    def _read_base(self) -> DataFrame:
        """The frame reads plan over: the loaded snapshot while Spark
        still caches it (see ``load``), else ``snapshot()``."""
        loaded = self._loaded
        if loaded is not None and loaded._jdf.storageLevel().isValid():  # noqa: SLF001
            return loaded
        return self.snapshot()

    @property
    def current_seq(self) -> int:
        """The latest writer sequence in the log — the token a caller
        captures for later ``snapshot(as_of_seq=...)`` reads."""
        row = self._log().agg(F.max("seq").alias("m")).collect()[0]
        return int(row.m or 0)

    def create_index(self, nlist: int = 16, nprobe: int = 4) -> "VectorCollection":
        """Build the IVF coarse quantizer over the current snapshot —
        the reference's create_index(IVF_FLAT, nlist)+load_collection
        (milvus-app/pythonvectordbceph_milvus.py:100-106). Any mutation
        invalidates it (rebuild is the caller's compaction-cadence
        decision)."""
        from .operators.ivf import build_ivf

        if self.metric not in ("l2", "euclidean"):
            raise ValueError(
                f"IVF index supports the L2 metric only (collection metric "
                f"{self.metric!r}); mirror of the reference's IVF_FLAT/L2 — "
                "use exact search for other metrics"
            )
        self._ivf = build_ivf(
            self.snapshot(), nlist=nlist, vec_col="embedding", id_col="key"
        )
        self._nprobe = nprobe
        self._index_params = {"index_type": "IVF_FLAT", "metric_type": "L2",
                              "nlist": nlist, "nprobe": nprobe}
        return self

    def save_index(self, path: str) -> "VectorCollection":
        """Persist the built IVF index (inverted lists + centroids) so
        a later session — or another reader — serves approx searches
        without refitting: the durability the reference's backend
        provides (a Milvus index survives the client process)."""
        from .operators.ivf import save_ivf

        if self._ivf is None:
            raise ValueError("no index to save: call create_index() first")
        save_ivf(self._ivf, path)
        return self

    def load_index(self, path: str, nprobe: int = 4) -> "VectorCollection":
        """Attach a saved IVF index. The loaded inverted lists are the
        partitioned parquet itself, so probes prune at file-listing
        level. The index reflects the collection AS OF its save — the
        same staleness contract as create_index: mutations after the
        save require a rebuild (enforced by the mutation hook only for
        in-session indexes; a loaded index is the caller's cadence
        decision, as with any external index server)."""
        from .operators.ivf import load_ivf

        self._ivf = load_ivf(self.spark, path)
        self._nprobe = nprobe
        self._index_params = {
            "index_type": "IVF_FLAT", "metric_type": "L2",
            "nlist": len(self._ivf.centroids), "nprobe": nprobe,
        }
        return self

    def list_indexes(self) -> list[str]:
        """client.list_indexes() analog
        (milvus-app/pythonvectordbceph_milvus.py:97-99): the single
        vector index when built, else empty."""
        return [f"{self.name}_ivf"] if self._ivf is not None else []

    def describe_index(self) -> dict:
        """client.describe_index() analog: the parameters the index
        was built with plus its current shape (cluster count ==
        nlist; the assigned row set is the index extent)."""
        if self._ivf is None:
            raise ValueError(f"collection {self.name!r} has no index")
        return dict(self._index_params, dim=self.dim,
                    n_clusters=len(self._ivf.centroids))

    def load(self) -> "VectorCollection":
        """client.load_collection() analog. Milvus loads sealed
        segments into query-node memory before search; the Spark
        equivalent is persisting the resolved snapshot (and the IVF
        assignment when an index exists) so repeated searches skip the
        log-resolve window. MEMORY_AND_DISK: an executor that can't
        hold its partitions spills instead of failing — load is an
        optimization, never a correctness gate.

        While loaded, ``search``, ``search_diverse`` and ``query`` plan
        over this pinned snapshot instead of re-listing the log and
        re-analyzing the last-writer-wins window per call. A write
        made in THIS Spark session — upsert, delete, compact, through
        this object or another one on the same path — is visible to
        the next search: Spark re-caches every cached plan over a path
        it appends to, and compact refreshes the path. A write from
        another Spark application is not seen until ``release()`` +
        ``load()``. If the cached snapshot is dropped behind the
        collection's back (``spark.catalog.clearCache()``), reads fall
        back to resolving the log."""
        from pyspark import StorageLevel

        self._loaded = self.snapshot().persist(StorageLevel.MEMORY_AND_DISK)
        if self._ivf is not None:
            self._ivf.assigned.persist(StorageLevel.MEMORY_AND_DISK)
        return self

    def release(self) -> "VectorCollection":
        """client.release_collection() analog: drop the cached
        snapshot/index blocks (lazily — Spark evicts asynchronously)."""
        if getattr(self, "_loaded", None) is not None:
            self._loaded.unpersist()
            self._loaded = None
        if self._ivf is not None:
            self._ivf.assigned.unpersist()
        return self

    def maybe_compact(self, max_log_ratio: float = 3.0) -> bool:
        """Compaction policy: rewrite when the change log has grown past
        ``max_log_ratio``× the live row count (reads pay the
        last-writer-wins window over the whole log, so unbounded
        history degrades every query). Returns True if compacted —
        the maintenance-cadence hook a scheduler calls after ingest.

        Cost-gated: the log size is tracked from the observed row
        counts of this object's own writes (``_append``, ``compact``)
        and counted from parquet footers only while unknown; the live
        count is a full last-writer-wins resolve (expensive). The
        expensive count only runs once the log size crosses the
        threshold against the last-known live count — so a per-batch
        call from ingest_stream runs no job until the log actually
        approaches the ratio."""
        if self._log_rows is None:
            self._log_rows = self._log().count()
        log_rows = self._log_rows
        last_log, last_live = self._compact_stats
        if log_rows == last_log:
            return False  # nothing appended since the last check
        if last_live is not None and log_rows <= max_log_ratio * max(
            last_live, 1
        ):
            # live rows only change when the log does; the cached count
            # is an upper bound on today's live set unless deletes
            # shrank it — and deletes grow the log, pulling the exact
            # check forward, so staleness is bounded by the ratio.
            # max(live, 1) keeps the cheap gate meaningful at live=0
            # (ratio*0 would force the expensive resolve EVERY call).
            self._compact_stats = (log_rows, last_live)
            return False
        live_rows = self.snapshot().count()
        self._compact_stats = (log_rows, live_rows)
        if log_rows <= max_log_ratio * max(live_rows, 1):
            # max(live, 1): a FULLY-DELETED collection (live=0) must
            # still compact once its tombstone history outgrows the
            # ratio — compacting to the empty resolved snapshot is
            # legal, and skipping it forever would leave every
            # subsequent read paying the whole dead history.
            return False
        self.compact()
        return True

    def compact(self) -> None:
        """Rewrite the log as its resolved snapshot (all seq collapsed
        to a fresh base). Reads amortize: the last-writer-wins window
        afterwards runs over live rows only, not full history. At scale
        this is the periodic maintenance job, optionally bucketed by
        key so subsequent merges are co-located.

        ONE write of the snapshot to ``<path>._compact``, then the
        two-rename swap the IVF rebuild uses (lease.swap_dirs). A crash
        between the renames leaves the old log at ``<path>._old``; the
        next writer-lease holder renames it back (see _writer_lease).

        Holds the writer lease from BEFORE the snapshot read to after
        the swap: an append landing in that window would otherwise be
        renamed into ``._old`` and deleted with it (or recreate the
        live path mid-swap and wedge the rollback). Auto-heartbeated:
        a compaction longer than the lease TTL (plausible on the large
        logs this targets) would otherwise present an EXPIRED lease,
        letting a concurrent session legitimately break it mid-swap and
        delete the racing append with ``._old`` — the same reason
        rebuild_ivf heartbeats across its refit."""
        lease = self._writer_lease()
        try:
            lease.start_auto_heartbeat()
            self._compact_locked()
        finally:
            lease.release()

    def _compact_locked(self) -> None:
        from pyspark.sql import Observation

        from .operators.lease import swap_dirs

        written = Observation()
        snap = self.snapshot().select(*[
            F.lit(0).cast("long").alias("seq") if f.name == "seq"
            else F.lit("upsert").alias("op") if f.name == "op"
            else F.col(f.name)
            for f in collection_schema(self.dim).fields
        ]).observe(written, F.count(F.lit(1)).alias("rows"))
        tmp = self.path + "._compact"
        # ONE write, then the swap — not temp-write + re-read + second
        # full write, which doubles the I/O of every compaction
        snap.write.mode("overwrite").parquet(tmp)
        # until the swap lands, the log is either the old one or the
        # rewritten one: unknown
        self._seq, self._log_rows = None, None
        self._ivf = None  # index plans reference the replaced files
        swap_dirs(self.spark, tmp, self.path, op="compact")
        # the log is now exactly the rewritten snapshot, all at seq 0
        self._seq, self._log_rows = 0, written.get["rows"]
        self._compact_stats = (None, None)  # counts changed wholesale

    def query(self, filter: str = "", limit: int | None = None,
              output_fields: list[str] | None = None) -> DataFrame:
        """client.query(filter=..., limit=..., output_fields=[...])
        analog (milvus-app/describe.py:26-31)."""
        snap = self._read_base()
        df = snap.filter(filter_expr.translate(filter, snap))
        if output_fields:
            df = df.select(*output_fields)
        if limit is not None:
            df = df.orderBy("key").limit(limit)
        return df

    def search(self, qvec: list[float], k: int = 2,
               filter: str = "", output_fields: list[str] | None = None,
               approx: bool = False) -> DataFrame:
        """Top-k ANN search, optionally filtered (filter-then-rank in
        one Catalyst plan). Default k=2 mirrors the reference CLIs.

        ``approx=True`` probes the IVF index (create_index first):
        nprobe/nlist of the clusters are scanned instead of the full
        collection — the reference's IVF_FLAT search path (L2 only;
        create_index rejects other metrics). Approx results are
        (key, cluster_id, distance).

        A query whose length is not ``dim``, or with a NaN/inf element,
        raises ValueError instead of ranking NULL or NaN distances."""
        qvec = V.check_query_vector(qvec, self.dim)
        if approx:
            if self._ivf is None:
                raise ValueError("no index: call create_index() first "
                                 "(stale after mutations)")
            if filter:
                raise ValueError("approx search does not support filters; "
                                 "use exact search for filtered queries")
            return self._ivf.search(qvec, k, nprobe=self._nprobe)
        snap = self._read_base()
        base = snap.filter(filter_expr.translate(filter, snap))
        return knn.knn_topk(
            base, qvec, k, vec_col="embedding", id_col="key",
            metric=self.metric,
            output_cols=output_fields or ["key", "url", "tags"],
        )

    def search_diverse(self, qvec: list[float], k: int = 2,
                       fetch_k: int = 20, lambda_: float = 0.5,
                       filter: str = "") -> DataFrame:
        """MMR-diversified search: exact cosine top-``fetch_k``
        (distributed, TakeOrderedAndProject) then the greedy
        relevance-vs-redundancy rerank on the bounded candidate set —
        the RAG retrieval mode that refuses to spend the result budget
        on near-duplicates of the first hit. Optional filter applies
        before the candidate scan (filter-then-rank, one plan).
        Returns (key, relevance, mmr_score, mmr_rank); a bad query
        vector raises ValueError as in ``search``."""
        qvec = V.check_query_vector(qvec, self.dim)
        snap = self._read_base()
        base = snap.filter(filter_expr.translate(filter, snap))
        return knn.mmr_topk(
            base, qvec, k=k, fetch_k=fetch_k, lambda_=lambda_,
            vec_col="embedding", id_col="key",
        )
