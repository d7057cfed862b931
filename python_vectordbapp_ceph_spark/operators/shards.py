"""Incremental training-shard ledger: token-budget shard packing
(queries/assembly.q_token_shards' two-phase cumsum) composed with the
merge-manifest commit protocol (operators/merge.py), so NEW documents
extend the shard sequence as an atomically-committed SEGMENT without
re-packing — or even re-reading — the shards already published.

This is the training-resume case: a corpus refresh lands, the loader
must keep seeking into the shards it already has (byte-identical
files, identical doc→shard assignments), and the new documents must
continue the packing exactly where the last commit stopped (the first
new doc may legitimately top up the final partially-filled shard).

Layout — each append is one SEGMENT, stored as one `_kb` partition of
a merge-style manifest base:

    path/gen=<v>-<tok>/_kb=<segment>/part-*.parquet
    path/_commits/v%012d.json     {segment -> generation token}

Committed segments are WRITE-ONCE: an append stages its own uniquely-
named generation directory and publishes by the same rename-only
manifest commit as merge.py — a crashed append leaves an invisible
orphan (vacuum() reclaims), a racing append loses the rename and can
never have touched the winner's files, and `version=` time travel
replays the ledger as of any earlier append.

Packing continuity costs ONE bounded read: the running token total is
the max `cum` of the LAST segment only (one directory listed, one
scalar to the driver) — the packed history is never re-scanned. At
100 TB that means appending a 1 GB refresh touches ~1 GB, not 100 TB.

Reference parity: the reference's ingest appends objects to a Ceph
bucket and re-lists on read (s3vectors-app/pythonvectordbceph.py's
event loop); this supplies the equivalent append surface for the
shard artifact with exactly-once visibility.
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..io import read_parquet
from .bloom import bloom_build_packed, bloom_contains_many
from .merge import (
    _COMMITS,
    _commit_file,
    _fs,
    _gen_token,
    _read_json,
    _staged_write,
    commit_optimistic,
    current_manifest,
    read_buckets,
    staged_schema,
)
from .twophase import global_cumsum

_log = logging.getLogger(__name__)

SHARD_BUDGET_DEFAULT = 10_000
_SALT = ":7"  # the deterministic-shuffle salt shared with q_token_shards

# per-segment membership-bloom sidecar: k hash functions over m bit
# positions. m SCALES with the segment's key count (~16 bits/key,
# power of two, floored at BLOOM_M, capped at BLOOM_M_CAP) and is
# recorded IN the sidecar — a fixed m saturates once compaction merges
# many segments' keys into one container (measured in the r10 sfx10
# soak: 43k keys in 2^17 bits ≈ FPR→1, every probe a maybe, the gate
# degraded to a full-ledger verify per batch). Correctness never
# depends on these values (bloom positives are exactly verified,
# negatives are guaranteed absent), only the prune ratio does.
# Sidecars are stored in the BITSET form (bloom_build_packed: (word,
# bits) rows, ≤ m/64 of them — 64 set positions per row), so even a
# cap-sized filter is ~128k rows / ~1 MB parquet; pre-r10 position-set
# sidecars still probe correctly (bloom_contains_many detects the
# format and packs on the fly).
BLOOM_K = 7
BLOOM_M = 1 << 17
BLOOM_M_CAP = 1 << 23

# dedup gate growth alarm: the per-probe broadcast is the union of all
# live sidecars' bitsets; past this size the fix is arming compaction,
# and the gate says so loudly instead of degrading silently
SIDECAR_UNION_WARN_BYTES = 32 << 20

# (ledger path, gen token) -> (m, lo, hi) of that generation's
# sidecar: the bloom geometry plus the key-range ZONEMAP (r11 — lets a
# probe whose key range is disjoint from a container skip its bloom
# entirely; the steady-state refresh appends monotonically increasing
# ids, so most committed containers are disjoint from most batches).
# (lo, hi) are TYPED per the ledger's key family: longs for integral
# doc_ids, strs (binary-order min/max, r14) for string doc_ids,
# (None, None) = range unknown, always probed. Gen dirs are
# write-once, so entries never invalidate; bounded by the live
# generations ever seen by this driver process.
_SIDECAR_M_CACHE: dict[tuple[str, str], tuple] = {}


def _is_integral(dtype: str) -> bool:
    """True for Spark integral dtypes — the only key types the
    kmin/kmax zonemap is sound for (string min/max is lexicographic;
    long-cast string ranges can invert and mis-prune)."""
    return dtype in ("tinyint", "smallint", "int", "bigint")


def _bloom_m(n_keys: int) -> int:
    m = BLOOM_M
    target = 16 * max(1, int(n_keys))
    cap = max(BLOOM_M, BLOOM_M_CAP)
    while m < target and m < cap:
        m <<= 1
    return m


# column names the packing/layout machinery owns: an incoming payload
# column colliding with one would be silently overwritten downstream,
# so append_segment refuses it loudly (part of the schema-evolution
# contract)
_RESERVED_COLS = frozenset(
    {"cum", "shard_id", "segment", "_kb", "_k", "_pid", "_off", "_mass",
     "gen"}
)


def _pack(docs: DataFrame, budget: int, offset) -> DataFrame:
    """Assign (doc_id, n_tokens) rows to token-budget shards starting
    at global token ``offset``: deterministic shuffle order within the
    batch (md5(id:salt), the q_shuffle_order deal), two-phase global
    cumsum (no corpus-sized window on one task), shard = the shard
    containing the doc's first token — docs never split.

    Extra PAYLOAD columns beyond (doc_id, n_tokens) ride through the
    packing untouched (schema evolution — see append_segment's
    contract); they play no part in the shuffle order or the budget
    arithmetic, so their presence can never change an assignment."""
    extras = [c for c in docs.columns if c not in ("doc_id", "n_tokens")]
    bad = sorted(set(extras) & _RESERVED_COLS)
    if bad:
        raise ValueError(
            f"payload column(s) {bad} collide with the shard ledger's "
            f"reserved columns {sorted(_RESERVED_COLS)}; rename them "
            "before appending"
        )
    t = docs.select(
        "doc_id",
        "n_tokens",
        *extras,
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_SALT))).alias(
            "_k"
        ),
    )
    c = global_cumsum(t, ["_k", "doc_id"], "n_tokens", cum_col="cum")
    # offset enters as a typed literal column (never f-string SQL — a
    # None or unexpected type fails loudly at plan time, not as a
    # confusing parse error) and folds into the committed `cum`, so
    # shard_id derives from the already-offset running total
    return c.select(
        "doc_id",
        "n_tokens",
        *extras,
        (F.col("cum") + F.lit(int(offset)).cast("bigint")).alias("cum"),
    ).withColumn("shard_id", F.expr(f"(cum - n_tokens) div {int(budget)}"))


def _write_sidecar(
    spark: SparkSession, path: str, gen: str, schema: str
) -> None:
    """Stage the generation's bloom sidecar into its (still-invisible)
    directory, built from the STAGED files (no pack recompute): m
    sized to the key count, plus the key-range zonemap (kmin, kmax) —
    count/min/max in ONE small agg over the staged key column. The
    sidecar publishes (and vacuums) atomically with its segment via
    the manifest rename. ``schema`` is the staged data schema
    (merge.staged_schema), so the staged files are read without
    inference."""
    staged = read_parquet(
        spark, f"{path}/gen={gen}",
        schema=StructType(
            StructType.fromJson(json.loads(schema)).fields
            + [StructField("_kb", IntegerType())]
        ),
    )
    stats = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("kmin"),
        F.max("doc_id").alias("kmax"),
    ).collect()[0]
    m = _bloom_m(stats.n)
    # TYPED zonemap columns: integral doc_ids record (kmin, kmax) as
    # longs; STRING doc_ids record (kmin_str, kmax_str) — min/max under
    # Spark's binary (UTF8_BINARY) string ordering, which matches the
    # probe side's Python code-point comparison (UTF-8 byte order
    # preserves code-point order), so range-disjointness is sound for
    # the string total order too. The r11 hazard was CASTING string
    # min/max to long ("10" < "9" inverts) — keeping each key family in
    # its own typed columns removes the cast entirely. Other key types
    # write all-null zonemaps = always probed (bloom still prunes).
    dtype = dict(staged.dtypes).get("doc_id", "")
    integral = _is_integral(dtype)
    is_str = dtype == "string"
    kmin = stats.kmin if integral else None
    kmax = stats.kmax if integral else None
    kmin_s = stats.kmin if is_str else None
    kmax_s = stats.kmax if is_str else None
    (
        bloom_build_packed(staged.select("doc_id"), "doc_id", BLOOM_K, m)
        .withColumn("m", F.lit(m))
        .withColumn("kmin", F.lit(kmin).cast("long"))
        .withColumn("kmax", F.lit(kmax).cast("long"))
        .withColumn("kmin_str", F.lit(kmin_s).cast("string"))
        .withColumn("kmax_str", F.lit(kmax_s).cast("string"))
        .write.mode("overwrite")
        .parquet(f"{path}/gen={gen}/_bloom")
    )


def dedup_against_ledger(
    spark: SparkSession, path: str, docs: DataFrame
) -> DataFrame:
    """Drop incoming docs whose ``doc_id`` is already committed in the
    ledger — the dedup gate of an incremental corpus refresh — at
    bloom-pruned cost:

      1. read the per-segment bloom sidecars (bitset form: ≤ m/64
         rows each, written atomically with every segment since this
         feature) — kilobytes per segment however large the segments
         are;
      2. ZONEMAP-prune the containers: each sidecar records its key
         range (kmin, kmax); containers disjoint from the batch's own
         key range are skipped before any bloom work — the
         steady-state refresh appends monotonically increasing ids, so
         most batches are disjoint from most committed history and the
         whole gate costs one min/max scan of the batch (r11, the
         drift-ceiling fix: the residual per-batch growth in the r10
         soak was redelivery-verify cost that range-disjoint batches
         never owed);
      3. bloom-probe the incoming keys against the SURVIVING
         containers: definite-absent keys (the overwhelming majority
         of a refresh) pass WITHOUT touching the ledger data — no
         false negatives, so nothing committed can slip through;
      4. exactly verify only the maybe-present candidates with an
         anti-join against the flagged containers' key column
         (column-pruned scan; the candidate side is broadcast-small by
         construction).

    Segments committed before the sidecar existed have no bloom; the
    gate then falls back to the plain exact anti-join against the full
    key column (pre-zonemap sidecars probe with their range unknown =
    never pruned). Returns ``docs`` filtered, schema unchanged."""
    version, live = current_manifest(spark, path)
    if version is None or not live:
        return docs
    # sidecar presence via the Hadoop FS of the LEDGER's path (s3a://,
    # hdfs://, file://) — a local os.path check would be always-false
    # off local disk and silently disable the prune
    fs, hpath = _fs(spark, path)
    sidecars = {b: f"{path}/gen={g}/_bloom" for b, g in live.items()}
    if all(fs.exists(hpath(p)) for p in sidecars.values()):
        from ..cache import tracked_persist

        # probe PER CONTAINER (the count is bounded by max_segments
        # once in-line compaction runs): each sidecar carries its own
        # m (r10: m scales with key count so merged containers don't
        # saturate; legacy m-less sidecars were built at BLOOM_M), and
        # tagging maybes with their container id lets the exact verify
        # scan ONLY the flagged containers. Before r10 the verify
        # anti-joined the FULL ledger key column per batch — O(corpus)
        # per micro-batch even when the bloom had pruned everything
        # (measured: the dedup-only sfx10 soak's batch wall grew 1.7×
        # over 52 batches; flat after this change).
        # each sidecar's (m, kmin, kmax) is constant within it and
        # IMMUTABLE for its generation (write-once dirs), so resolve
        # unknown ones in one union job and cache by (path, gen): a
        # long-running stream pays the lookup only for the ≤2
        # generations each batch mints
        unknown = [
            b for b, g in live.items()
            if (path, g) not in _SIDECAR_M_CACHE
        ]
        if unknown:
            # sidecars of every format generation share these paths (the
            # position-set form, m-less, zonemap-less), so their schema
            # comes from the session memo, never a fixed one
            u_sides = {b: read_parquet(spark, sidecars[b]) for b in unknown}
            m_parts = [
                u_sides[b].select(
                    F.lit(b).alias("b"),
                    (F.col("m") if "m" in u_sides[b].columns
                     else F.lit(BLOOM_M)).alias("m"),
                    (F.col("kmin") if "kmin" in u_sides[b].columns
                     else F.lit(None).cast("long")).alias("kmin"),
                    (F.col("kmax") if "kmax" in u_sides[b].columns
                     else F.lit(None).cast("long")).alias("kmax"),
                    (F.col("kmin_str") if "kmin_str" in u_sides[b].columns
                     else F.lit(None).cast("string")).alias("kmin_str"),
                    (F.col("kmax_str") if "kmax_str" in u_sides[b].columns
                     else F.lit(None).cast("string")).alias("kmax_str"),
                ).limit(1)
                for b in sorted(unknown)
            ]
            m_union = m_parts[0]
            for p in m_parts[1:]:
                m_union = m_union.unionByName(p)
            for r in m_union.collect():
                # one typed (lo, hi) pair per container: longs for
                # integral-keyed sidecars, strs for string-keyed ones,
                # (None, None) = range unknown, always probed
                lo, hi = (
                    (r.kmin, r.kmax) if r.kmin is not None
                    else (r.kmin_str, r.kmax_str)
                )
                _SIDECAR_M_CACHE[(path, live[r.b])] = (
                    int(r.m or BLOOM_M), lo, hi
                )
        meta_by_b = {b: _SIDECAR_M_CACHE[(path, g)] for b, g in live.items()}
        # ZONEMAP prune: one min/max scan of the batch's key column,
        # then a driver-side range-overlap check per container — any
        # container whose committed key range is disjoint from the
        # batch cannot hold a redelivery, so its bloom never loads and
        # its keys are never verified. Sound for INTEGRAL keys (long
        # ranges) and, since r14, STRING keys (typed kmin_str/kmax_str
        # under the same binary total order on both sides — never a
        # string→long cast, the r11 mis-prune hazard). Unknown ranges
        # (legacy sidecars) and cross-family comparisons (a string
        # batch against an integral-keyed container, possible only on
        # a mixed-history ledger) are conservatively probed. Other key
        # types skip the prune entirely (bloom still bounds the work;
        # no correctness loss, only the range fast-path).
        key_dtype = dict(docs.dtypes).get("doc_id", "")
        if _is_integral(key_dtype) or key_dtype == "string":
            rng = docs.agg(
                F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
            ).collect()[0]
            if rng.lo is None:
                return docs  # empty batch
            want_str = key_dtype == "string"

            def _overlaps(meta) -> bool:
                lo, hi = meta[1], meta[2]
                if lo is None or hi is None:
                    return True  # range unknown: always probe
                if isinstance(lo, str) != want_str:
                    return True  # key-family mismatch: probe, never compare
                return lo <= rng.hi and rng.lo <= hi

            probe_bs = [b for b in sorted(live) if _overlaps(meta_by_b[b])]
        else:
            probe_bs = sorted(live)
        if not probe_bs:
            return docs  # whole history is range-disjoint: no dups possible
        keys = docs.select("doc_id").distinct()
        sides = {b: read_parquet(spark, sidecars[b]) for b in probe_bs}
        m_by_b = {b: meta_by_b[b][0] for b in probe_bs}
        # the probe broadcasts the union of the SURVIVING sidecars'
        # bitsets (≤ m/8 bytes each) — bounded by max_segments when
        # in-line compaction is armed, UNBOUNDED when it isn't (and
        # the zonemap can't prune overlapping history). Warn loudly at
        # 32 MB so an unarmed long-running stream hears about the
        # growth before the broadcast becomes the batch bottleneck.
        union_bytes = sum(m_by_b.values()) // 8
        if union_bytes > SIDECAR_UNION_WARN_BYTES:
            _log.warning(
                "dedup_against_ledger: %d of %d live containers' bloom "
                "sidecars union to ~%d MB of broadcast for this probe — "
                "arm compaction (stream_append max_segments / shards."
                "compact) to bound the live container count",
                len(probe_bs), len(live), union_bytes >> 20,
            )
        cand = tracked_persist(
            bloom_contains_many(
                [(b, sides[b], m_by_b[b])
                 for b in sorted(sides)],
                keys, "doc_id", BLOOM_K,
            ).withColumnRenamed("_tag", "_container")
        )
        # bounded driver collect: ≤ one row per live container
        flagged = [r._container for r in
                   cand.select("_container").distinct().collect()]
        if not flagged:
            return docs  # zero maybes → nothing to verify, nothing to drop
        committed = read_buckets(spark, path, buckets=flagged).select("doc_id")
        confirmed = (
            cand.select("doc_id").distinct()
            .join(committed, "doc_id", "left_semi")
        )
        return docs.join(F.broadcast(confirmed), "doc_id", "left_anti")
    committed = read_buckets(spark, path).select("doc_id")
    return docs.join(committed, "doc_id", "left_anti")


def last_batch_tag(spark: SparkSession, path: str) -> str | None:
    """The ``batch_tag`` carried by the CURRENT commit, or None — the
    streaming sink's replay marker. A foreachBatch sink is
    at-least-once: a crash after the manifest publish but before the
    checkpoint's commit-log write replays the micro-batch, and without
    this marker the replay would pack the same documents into a SECOND
    visible segment (with dedup=False there is no other guard).
    Cost: one O(1) version resolve + one commit-JSON read."""
    version, _ = current_manifest(spark, path)
    if version is None:
        return None
    try:
        rec = _read_json(
            spark, f"{path}/{_COMMITS}/{_commit_file(version)}"
        )
    except Exception:
        return None
    tag = rec.get("batch_tag")
    return None if tag is None else str(tag)


def append_segment(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    budget: int = SHARD_BUDGET_DEFAULT,
    files_per_segment: int = 4,
    dedup: bool = False,
    batch_tag: str | None = None,
    conflict_retries: int = 0,
) -> int:
    """Append ``docs`` (doc_id, n_tokens) to the ledger at ``path`` as
    the next segment; creates the ledger on first call. Returns the
    committed segment id, or ``-1`` when the (possibly deduped) batch
    packed to ZERO rows — nothing is committed then: publishing an
    empty segment would put a data-less path into the manifest and
    brick every later read (the staged empty generation is an
    unreferenced orphan that vacuum() reclaims). The packing
    continues from the last
    committed token offset, so incremental appends produce the SAME
    doc→shard mapping as a one-shot pack over the segment-major
    concatenation (pytest-pinned).

    ``dedup=True`` routes the batch through
    :func:`dedup_against_ledger` first, so a refresh that re-delivers
    already-packed documents (at-least-once upstream feeds) appends
    only the genuinely new ones. Every append also stages a bloom
    sidecar of its own keys inside its generation directory — it
    publishes (and vacuums) atomically with the segment, which is what
    keeps the gate's step 1 a metadata-sized read.

    SCHEMA EVOLUTION (pinned contract, r14): a batch may carry extra
    PAYLOAD columns beyond (doc_id, n_tokens) — they are ACCEPTED and
    stored in the new segment, and reads NULL-BACKFILL them for the
    segments that predate the column (read_ledger/compact read with
    mergeSchema, a footer-level merge — metadata-sized, never row
    data). Symmetrically, a batch MISSING a column earlier segments
    carry appends fine and reads null-backfill its rows. Payload
    columns never affect packing: the shuffle order and budget
    arithmetic see only (doc_id, n_tokens), so evolving the schema
    cannot change any doc→shard assignment (pytest-pinned). Two hard
    rules fail loudly instead of corrupting: a payload column may not
    collide with the ledger's reserved columns (cum/shard_id/segment/
    _kb/...), and a TYPE CHANGE of an existing column is refused by
    the parquet footer merge at read time (mergeSchema raises on
    incompatible types) — use a new column name. Time travel is
    unaffected: `version=` replays the ledger with exactly the schema
    committed as of that version.

    CONCURRENCY: appends are ORDER-DEPENDENT (the next segment id and
    token offset derive from the committed tail), so two appends
    racing from one read version single-win — the loser raises
    :class:`~.merge.ConcurrentWriteConflictError`; a concurrent
    COMPACTION is disjoint and rebased over (both land).
    ``conflict_retries=N`` re-runs the whole append from a fresh read
    up to N times on that conflict — the retry packs after the
    winner's segment, exactly the serial outcome."""
    from .merge import ConcurrentWriteConflictError

    last_err = None
    for _attempt in range(max(0, int(conflict_retries)) + 1):
        try:
            return _append_segment_once(
                spark, path, docs, budget, files_per_segment, dedup,
                batch_tag,
            )
        except ConcurrentWriteConflictError as e:
            last_err = e
    raise last_err


def _append_segment_once(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    budget: int,
    files_per_segment: int,
    dedup: bool,
    batch_tag: str | None,
) -> int:
    version, live = current_manifest(spark, path)
    if version is None:
        v, seg, offset = 0, 0, 0
    else:
        v, seg = version + 1, (max(live) + 1 if live else 0)
        if live:
            # continuity state = ONE scalar off ONE directory: the max
            # cum of the last segment; the rest of the ledger is never
            # listed, read, or re-packed
            last = read_buckets(spark, path, buckets=[max(live)])
            # defensive coalesce: committed segments are non-empty by
            # the survivors guard below, but a None max must not reach
            # the packing arithmetic
            offset = last.agg(F.max("cum")).collect()[0][0] or 0
        else:
            offset = 0
    if dedup:
        docs = dedup_against_ledger(spark, path, docs)
    # `segment` rides IN the data too (not only as the _kb directory):
    # compaction rewrites many segments into one container directory,
    # and the data column is what lets the merged rows keep their
    # original segment ids byte-for-byte (read_ledger coalesces
    # data-column over directory)
    packed = (
        _pack(docs, budget, offset)
        .withColumn("segment", F.lit(seg))
        .withColumn("_kb", F.lit(seg))
    )
    gen = _gen_token(v)
    schema = staged_schema(packed)
    survivors = _staged_write(spark, path, packed, gen, 1, files_per_segment)
    if not survivors:
        # the batch packed to zero rows (e.g. dedup dropped an already-
        # committed redelivery): publishing would map `seg` to a
        # generation with no _kb directory and every later read would
        # raise PATH_NOT_FOUND. Skip the commit and delete our own
        # dead staging eagerly — this writer KNOWS it's garbage, and
        # vacuum's stage-grace window (which protects OTHER writers'
        # possibly-in-flight staging) would otherwise keep it around
        # for the grace duration (r11: the soak's full-redelivery
        # batches each minted one).
        fs, hpath = _fs(spark, path)
        fs.delete(hpath(f"{path}/gen={gen}"), True)
        return -1
    # key bloom + zonemap into the SAME staged (still-invisible)
    # generation dir: published by the rename below or orphaned with
    # it on a crash
    _write_sidecar(spark, path, gen, schema)
    # OPTIMISTIC commit (merge.commit_optimistic): two concurrent
    # APPENDS both compute segment id max(live)+1, so they overlap on
    # `seg` and the loser raises ConcurrentWriteConflictError — appends
    # are order-dependent (the next id AND the token offset derive
    # from the previous tail) and must re-read, not rebase. A
    # concurrent COMPACTION, though, touches only ALREADY-COMMITTED
    # container ids (disjoint from the fresh `seg`), so an append
    # rebases over it and both land without the writer lease.
    extra = {"schema": schema}
    if batch_tag is not None:
        extra["batch_tag"] = batch_tag
    commit_optimistic(
        spark, path,
        read_version=version, touched={seg}, gen=gen, survivors=[seg],
        extra=extra,
    )
    spark.catalog.refreshByPath(path)
    return seg


def read_ledger(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The full doc→shard assignment (doc_id, n_tokens, cum, shard_id,
    segment), manifest-resolved; ``version=`` time-travels to the
    ledger as of an earlier append (valid while the superseded
    generations are retained — compaction keeps them; vacuum()
    reclaims).

    ``segment`` resolves data-column-first: a compacted container
    holds rows from many original segments, each carrying its own id
    in the data, while pre-compaction (and pre-column) segments derive
    it from their `_kb` directory — so compaction never changes what a
    reader sees."""
    df = read_buckets(spark, path, version=version, merge_schema=True)
    if df is None:
        raise FileNotFoundError(f"no committed shard ledger under {path}")
    if "segment" in df.columns:
        return df.withColumn(
            "segment", F.coalesce(F.col("segment"), F.col("_kb"))
        ).drop("_kb")
    return df.withColumnRenamed("_kb", "segment")


def compact(
    spark: SparkSession,
    path: str,
    max_segments: int = 16,
    files_per_segment: int = 4,
) -> int:
    """SEGMENT COMPACTION — the small-files defense for a long-running
    ledger. Every append (and every streaming micro-batch) commits one
    segment: its own `_kb` directory, its own parquet files, its own
    bloom sidecar. Left alone, a nightly stream accumulates thousands
    of tiny directories, and at 100 TB the file-listing + footer reads
    dominate every scan — the classic small-files killer.

    When the live container count exceeds ``max_segments``, the
    SMALLEST ``count − max_segments + 1`` containers (by on-disk
    bytes, oldest-id tiebreak) are rewritten into ONE new container
    (coalesced files, one merged bloom sidecar), leaving exactly
    ``max_segments`` live containers. Smallest-first is LSM tiering:
    each byte is rewritten O(log n) times over a stream's lifetime,
    and a large accumulated container only re-merges once its peers
    have grown comparable — merging the OLDEST instead re-rewrote the
    ever-growing head container on every steady-state trip, O(total)
    per micro-batch (measured: first-10→last-10 batch median grew
    1.6× within a 52-batch sfx10 soak). The rewrite is published as a
    normal manifest generation, so every ledger guarantee survives:

      - WRITE-ONCE: the merged data stages into a fresh uniquely-named
        `gen=<v>-<tok>` directory; committed directories are never
        touched. A racing writer (append or compaction) targeting the
        same version loses the publish rename cleanly and can never
        have clobbered the winner's files.
      - READ-IDENTICAL: rows carry their ORIGINAL segment ids in the
        data column, so read_ledger returns exactly the pre-compaction
        frame — compaction changes layout, never content.
      - TIME TRAVEL: superseded generation directories are retained
        (not deleted), so `version=` still replays every
        pre-compaction state; vacuum() reclaims them when the caller
        is done with history.
      - CONTINUITY: the new container's manifest key is the MAX of the
        merged ids, so `max(live)` — which both the next segment id
        and the token-offset read key derive from — is unchanged (if
        the newest segment is in the merge set, the merged container
        inherits its key and still holds the max-cum row).
      - DEDUP GATE: the merged bloom is rebuilt from the merged keys
        with m RESIZED to the merged key count (recorded in the
        sidecar), so dedup_against_ledger keeps its metadata-sized
        prune with ONE sidecar where there were K — and the prune
        ratio survives the growth instead of saturating.

    Returns the number of containers merged away (0 = nothing to do,
    the count was within budget).

    Reference anchor: this is the ledger's equivalent of the segment
    compaction the reference delegates to Milvus (milvus-app/README.md
    index/admin surface)."""
    max_segments = max(1, int(max_segments))
    version, live = current_manifest(spark, path)
    if version is None or len(live) <= max_segments:
        return 0
    # size probe: K driver-side FS summaries of container dirs —
    # metadata-scale however big the data is
    fs, hpath = _fs(spark, path)

    def _bytes(b: int, g: str) -> int:
        try:
            return fs.getContentSummary(
                hpath(f"{path}/gen={g}/_kb={b}")
            ).getLength()
        except Exception:
            return 0

    k = len(live) - max_segments + 1
    by_size = sorted(live.items(), key=lambda bg: (_bytes(*bg), bg[0]))
    merged_ids = sorted(b for b, _ in by_size[:k])
    target = max(merged_ids)
    # read via the manifest, data-column segment semantics — re-
    # compacting an already-compacted container preserves the original
    # ids transitively
    old = read_buckets(
        spark, path, buckets=merged_ids, merge_schema=True
    )
    if "segment" in old.columns:
        old = old.withColumn(
            "segment", F.coalesce(F.col("segment"), F.col("_kb"))
        ).drop("_kb")
    else:
        old = old.withColumnRenamed("_kb", "segment")
    merged = old.withColumn("_kb", F.lit(target))
    gen = _gen_token(version + 1)
    schema = staged_schema(merged)
    _staged_write(spark, path, merged, gen, 1, files_per_segment)
    # the merged bloom is REBUILT with m resized to the merged key
    # count — reusing the per-segment m here is exactly how a fixed-m
    # design saturates as containers grow — and the merged zonemap is
    # the merged keys' true range
    _write_sidecar(spark, path, gen, schema)
    # the atomic visibility point — OPTIMISTIC: a racing APPEND touches
    # only its fresh segment id (disjoint from the already-committed
    # ids this compaction merges), so the compaction rebases over it
    # and both land; a racing COMPACTION overlaps on the merged ids and
    # the loser raises, its staged directory an unreferenced orphan.
    # The superseded commit's batch_tag (the streaming sink's replay
    # marker) is carried FORWARD and RE-READ per attempt (extra_fn):
    # in-line compaction runs between the append commit and the
    # stream's checkpoint write, and erasing — or rebasing past — the
    # newest marker would re-open the replay-duplication window it
    # exists to close.
    def _tag_extra():
        tag = last_batch_tag(spark, path)
        return {"batch_tag": tag} if tag is not None else None

    commit_optimistic(
        spark, path,
        read_version=version, touched=set(merged_ids), gen=gen,
        survivors=[target], extra={"schema": schema}, extra_fn=_tag_extra,
    )
    # superseded generations retained for time travel; vacuum() reclaims
    spark.catalog.refreshByPath(path)
    return len(merged_ids)


def shard_manifest(ledger: DataFrame) -> DataFrame:
    """The per-shard rollup a loader consumes (q_shard_manifest's
    shape + segment span): one hash aggregate over the assignment.
    ``n_segments`` > 1 marks shards that straddle an append boundary
    (the topped-up final shard of an earlier segment)."""
    return (
        ledger.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.countDistinct("segment").alias("n_segments"),
        )
        .orderBy("shard_id")
    )
