"""IVF-style ANN: KMeans coarse quantizer + partition-pruned probe.

Spark-native equivalent of the reference's delegated Milvus index
``IVF_FLAT, nlist=16384, metric L2``
(milvus-app/pythonvectordbceph_milvus.py:100-102).

Design (scale-first):
  build:  MLlib KMeans fits ``nlist`` centroids on a sample; every row
          gets a ``cluster_id``; the table is WRITTEN partitioned by
          ``cluster_id``. At 100 TB the write is a single shuffle and
          thereafter every probe is partition-pruned at the parquet
          scan — Spark reads only nprobe/nlist of the data.
  probe:  rank centroids by distance to the query (driver-side — the
          centroid table is nlist×dim, tiny), take the ``nprobe``
          nearest cluster ids, ``filter(cluster_id IN probes)`` (static
          partition pruning), exact re-rank inside the survivors.

Approximate by construction → registered rows-only with the driver
(recall checked in tests against brute force instead).
"""

from __future__ import annotations

import logging
import math
from dataclasses import dataclass
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..functions import vector as V
from .knn import topk_by_distance

_log = logging.getLogger(__name__)


@dataclass
class IVFIndex:
    """Coarse-quantized index: assigned table + centroid list.

    ``curve`` is the optional measured recall-vs-nprobe ladder
    (sorted (nprobe, recall@k) pairs — see record_recall_curve):
    loaded from the ``_nprobe_curve`` sidecar by load_ivf, consumed by
    resolve_nprobe / the ``target_recall=`` search surface."""

    assigned: DataFrame            # base table + cluster_id column
    centroids: list[list[float]]   # nlist × dim, index = cluster_id
    vec_col: str
    id_col: str
    curve: list[tuple[int, float]] | None = None

    def resolve_nprobe(self, target_recall: float) -> int:
        """The measured KNEE: the smallest recorded nprobe whose
        measured recall meets ``target_recall`` — the quantized tiers
        state their accuracy contract via re-rank; this is the IVF
        tier's equivalent, resolved from the index's own recorded
        curve instead of a guessed constant. If even the full-probe
        entry falls short (possible when the curve was recorded with a
        k larger than some clusters), the max recorded nprobe is
        returned with a warning — accuracy saturates, never silently
        undershoots a smaller nprobe."""
        if not self.curve:
            raise ValueError(
                "no recorded recall curve on this index — build/rebuild "
                "with record_curve=True (or call record_recall_curve) "
                "before using target_recall="
            )
        for nprobe, recall in self.curve:
            if recall >= float(target_recall):
                return int(nprobe)
        max_np, max_r = self.curve[-1]
        _log.warning(
            "resolve_nprobe: target recall %.3f exceeds the curve's "
            "maximum measured %.3f; using nprobe=%d (full ladder)",
            float(target_recall), max_r, max_np,
        )
        return int(max_np)

    def probe_clusters(self, qvec: list[float], nprobe: int) -> list[int]:
        """Rank centroids by L2 distance to the query (driver-side:
        nlist×dim floats, microseconds even at nlist=16384)."""
        dists = [
            (cid, math.dist(qvec, c)) for cid, c in enumerate(self.centroids)
        ]
        dists.sort(key=lambda t: (t[1], t[0]))
        return [cid for cid, _ in dists[:nprobe]]

    def search(
        self,
        qvec: list[float],
        k: int,
        nprobe: int = 4,
        target_recall: float | None = None,
    ) -> DataFrame:
        """Probe the nprobe nearest inverted lists, exact re-rank inside.

        The IN-filter on cluster_id is a pushable predicate: over a
        table written partitionBy('cluster_id') it becomes partition
        pruning and only nprobe/nlist of the files are read.

        ``target_recall=`` resolves nprobe from the index's recorded
        recall curve (resolve_nprobe) instead of the caller guessing.
        """
        qvec = V.check_query_vector(qvec, len(self.centroids[0]))
        if target_recall is not None:
            nprobe = self.resolve_nprobe(target_recall)
        probes = self.probe_clusters(qvec, nprobe)
        cand = self.assigned.filter(F.col("cluster_id").isin(probes))
        return topk_by_distance(
            cand, qvec, k, [self.id_col, "cluster_id"],
            self.vec_col, self.id_col, "l2",
        )


_DRIVER_FIT_MAX_ELEMS = 32_000_000  # ≈256 MB of f64 — driver fit budget


def _argmin_chunked(X, C, chunk: int = 8192):
    """Row-wise nearest-centroid ids via -2·X·Cᵀ + |c|² (the |x|² term
    is constant per row and cannot change the argmin). Chunked so the
    n×k distance block never exceeds chunk×nlist floats."""
    import numpy as np

    c2 = (C * C).sum(1)
    out = np.empty(len(X), dtype=np.int64)
    for s in range(0, len(X), chunk):
        d = X[s:s + chunk] @ C.T
        d *= -2.0
        d += c2[None, :]
        # np.argmin takes the FIRST minimum — the lowest cluster_id,
        # the same tiebreak probe_clusters and assign_new use
        out[s:s + chunk] = np.argmin(d, axis=1)
    return out


def _kmeans_fit_driver(X, nlist: int, seed: int, max_iter: int,
                       tol: float = 1e-4):
    """Lloyd's iterations over the (bounded) fit sample as numpy — the
    sample is ≤fit_sample_rows by construction, so the fit is
    driver-sized at ANY corpus scale; what used to be ~25 scheduling-
    bound MLlib jobs per build is now zero. Seeded k-means++ init;
    empty clusters keep their previous center (MLlib's behavior)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n, _d = X.shape
    k = int(nlist)
    if n <= k:
        # fewer points than lists: every point is a center, the rest
        # repeat deterministically (degenerate, but never raises —
        # matches fitting k on n<k points)
        reps = -(-k // n)
        return np.tile(X, (reps, 1))[:k].astype(np.float64, copy=True)
    C = np.empty((k, X.shape[1]), dtype=np.float64)
    C[0] = X[int(rng.randint(n))]
    d2 = ((X - C[0]) ** 2).sum(1)
    for i in range(1, k):
        s = float(d2.sum())
        idx = int(rng.choice(n, p=d2 / s)) if s > 0 else int(rng.randint(n))
        C[i] = X[idx]
        np.minimum(d2, ((X - C[i]) ** 2).sum(1), out=d2)
    for _ in range(max_iter):
        a = _argmin_chunked(X, C)
        moved = 0.0
        for i in range(k):
            m = a == i
            if m.any():
                nc = X[m].mean(0)
                moved = max(moved, float(np.sqrt(((nc - C[i]) ** 2).sum())))
                C[i] = nc
        if moved <= tol:
            break
    return C


def _assign_udf(centroids):
    """Vectorized nearest-centroid assignment: one BLAS matmul per
    Arrow batch (the srp_signatures pattern) instead of a per-row
    JVM/Python prediction. NULL or wrong-dimension vectors RAISE (the
    r14 advice: the MLlib path this replaced failed loudly, and a
    silently NULL-assigned row would vanish from every probe filter
    and land in __HIVE_DEFAULT_PARTITION__ on write_partitioned —
    assign_new is the path with the counted-drop contract for dirty
    ingest batches; the BUILD contract requires clean input). The
    check is in-batch — zero extra Spark jobs."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(1)
    dim = C.shape[1]

    @F.pandas_udf("int")
    def assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            vals = s.to_numpy()
            mask = np.fromiter(
                (v is not None and len(v) == dim for v in vals),
                dtype=bool, count=len(vals),
            )
            if not mask.all():
                n_null = sum(1 for v in vals if v is None)
                raise ValueError(
                    f"build_ivf: {int((~mask).sum())} row(s) with NULL "
                    f"({n_null}) or wrong-dimension (expected {dim}) "
                    "vectors — clean the input or route dirty batches "
                    "through assign_new's counted-drop path"
                )
            X = np.stack([np.asarray(v, dtype=np.float64) for v in vals])
            d = X @ C.T
            d *= -2.0
            d += c2[None, :]
            yield pd.Series(np.argmin(d, axis=1)).astype("Int32")

    # the probe filter (cluster_id IN (...)) references the UDF's
    # output column, and the optimizer's filter pushdown would
    # otherwise evaluate the UDF TWICE — once below the pushed filter
    # and once in the projection (two ArrowEvalPython nodes observed
    # in the search plan). asNondeterministic() forbids the
    # duplication; the function itself is pure, the marker is purely
    # an optimizer fence.
    return assign.asNondeterministic()


def build_ivf(
    df: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 20,
    fit_sample_rows: int = 100_000,
    driver_fit_max_elems: int = _DRIVER_FIT_MAX_ELEMS,
) -> IVFIndex:
    """Fit the coarse quantizer and assign cluster ids.

    The KMeans FIT runs on a bounded sample (``fit_sample_rows`` cap,
    tightened so rows×dim ≤ ``driver_fit_max_elems``): centroid
    quality converges long before the full table is seen, and fitting
    on 100 TB would otherwise dominate the build. Because the sample
    is bounded by construction, the Lloyd's iterations run DRIVER-SIDE
    as numpy over ONE collected sample (the FAISS train-on-sample
    design) — the previous MLlib fit spent ~25 scheduling-bound Spark
    jobs iterating over the same ≤100k rows. The ASSIGN pass still
    covers every row: one vectorized Arrow-batch argmin over the
    table, no shuffle.

    nlist defaults small for the test tables; production sizing follows
    the reference's nlist=16384 at ~1e9+ rows (≈ sqrt(N) rule) — raise
    ``driver_fit_max_elems`` alongside if you want more than
    driver_fit_max_elems/dim training points for such an index.
    """
    import numpy as np

    # ONE probe job for (row count, vector dim) — r15: the separate
    # count() + first() pair cost two scheduling-bound jobs per build;
    # first(ignorenulls) over size(vec) inside the same aggregate
    # returns the dimension of the first non-null vector, the identical
    # value the old filtered first() produced. The when() guard keeps a
    # NULL vector NULL: with ANSI off size(NULL) is -1, not NULL, and
    # first(ignorenulls) would report a "-1-dimensional" input
    vec = F.col(vec_col)
    probe = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.first(F.when(vec.isNotNull(), F.size(vec)), ignorenulls=True).alias("_d"),
    ).first()
    n = int(probe["_n"])
    if n == 0:
        raise ValueError(
            "build_ivf: input has no rows — an IVF quantizer cannot be "
            "fitted on an empty table (defer index build until data arrives)"
        )
    if probe["_d"] is None:
        raise ValueError(
            f"build_ivf: every {vec_col} is NULL — nothing to fit on"
        )
    dim = int(probe["_d"])
    fit_rows = min(
        int(fit_sample_rows),
        max(int(nlist), driver_fit_max_elems // max(dim, 1)),
    )
    fit_df = df
    if n > fit_rows:
        fit_df = df.sample(fraction=min(1.0, fit_rows / n * 1.1), seed=seed)
    sample = fit_df.select(
        F.col(vec_col).cast("array<double>").alias("_v")
    ).toPandas()
    valid = [
        np.asarray(v, dtype=np.float64) for v in sample["_v"]
        if v is not None and len(v) == dim
    ]
    if not valid:
        raise ValueError(
            f"build_ivf: the fit sample ({len(sample)} row(s)) contains "
            f"no valid {dim}-dimensional {vec_col} vectors — every "
            "sampled row is NULL or wrong-dimension; clean the input "
            "before building (r14 advice: np.stack([]) raised an opaque "
            "'need at least one array to stack' here)"
        )
    X = np.stack(valid)
    C = _kmeans_fit_driver(X, nlist, seed, max_iter)
    assigned = df.withColumn(
        "cluster_id", _assign_udf(C)(F.col(vec_col))
    )
    centroids = [list(map(float, c)) for c in C]
    return IVFIndex(assigned=assigned, centroids=centroids, vec_col=vec_col, id_col=id_col)


def _canonical_f32(df: DataFrame, vec_col: str) -> DataFrame:
    """Force the at-rest vector element type to float32 — the
    reference backend's FloatVector storage type (A10). Writers MUST
    share one physical type: parquet readers cannot mix FLOAT and
    DOUBLE files for the same column, so an append whose batch arrived
    as array<double> (e.g. a JSON stream) would poison the layout."""
    return df.withColumn(vec_col, F.col(vec_col).cast("array<float>"))


def write_partitioned(index: IVFIndex, path: str) -> None:
    """Persist the inverted-file layout: parquet partitioned by
    cluster_id, so probes become partition-pruned scans. Vectors are
    stored float32 (canonical at-rest type)."""
    _canonical_f32(index.assigned, index.vec_col).write.mode("overwrite").partitionBy(
        "cluster_id"
    ).parquet(path)


def _write_meta(spark, index: IVFIndex, meta_path: str) -> None:
    # centroids persist as float64: they are index METADATA (probe
    # ranking inputs), not at-rest vector data — the canonical-f32
    # rule applies to the assigned table's vectors; doubles make the
    # save/load roundtrip bit-exact so probe order never drifts
    meta = spark.createDataFrame(
        [
            (cid, [float(x) for x in c], index.vec_col, index.id_col)
            for cid, c in enumerate(index.centroids)
        ],
        "cluster_id int, centroid array<double>, vec_col string, id_col string",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(meta_path)


_CURVE_SIDECAR = "_nprobe_curve"


def default_nprobe_ladder(nlist: int) -> list[int]:
    """Powers of two up to (and always including) the full probe —
    log2(nlist)+1 measurement points, each one pruned scan."""
    ladder, p = [], 1
    while p < nlist:
        ladder.append(p)
        p <<= 1
    ladder.append(nlist)
    return ladder


def record_recall_curve(
    index: IVFIndex,
    layout_path: str | None = None,
    k: int = 5,
    n_queries: int = 32,
    nprobes: list[int] | None = None,
) -> list[tuple[int, float]]:
    """Measure the index's OWN recall-vs-nprobe curve and (optionally)
    persist it as the ``_nprobe_curve`` sidecar inside ``layout_path``
    (the partitioned assigned directory — underscore-prefixed, hidden
    from scans, swapped atomically with the data it describes).

    Method: a fixed deterministic query sample (first ``n_queries``
    ids) is searched at every ladder point through the SAME batch plan
    production uses (search_batch); ground truth is the full probe
    (nprobe = nlist examines every inverted list = exact by
    construction, no separate brute-force oracle). recall@k per ladder
    point = |approx ∩ exact| / |exact| over the sample. Monotone
    non-decreasing by construction: a larger nprobe's candidate set is
    a superset, so its top-k can only get closer to the truth.

    Cost: len(ladder)+1 partition-pruned scans over the index — at
    nlist=16384 that's ~15 probes of a 32-query batch, bounded and
    build-time-appropriate. Returns the sorted curve; also attaches it
    to ``index.curve``."""
    spark = index.assigned.sparkSession
    nlist = len(index.centroids)
    if nprobes is None:
        nprobes = default_nprobe_ladder(nlist)
    nprobes = sorted({int(p) for p in nprobes if 1 <= int(p) <= nlist})
    queries = (
        index.assigned.select(
            F.col(index.id_col).alias("q_id"),
            F.col(index.vec_col).alias("q_embedding"),
        )
        .orderBy("q_id")
        .limit(int(n_queries))
    )

    def _pairs(nprobe: int) -> set:
        return {
            (r["q_id"], r[index.id_col])
            for r in search_batch(index, queries, k=k, nprobe=nprobe).collect()
        }

    truth = _pairs(nlist)
    curve = []
    for p in nprobes:
        got = truth if p == nlist else _pairs(p)
        recall = len(got & truth) / max(1, len(truth))
        curve.append((int(p), float(recall)))
    curve.sort()
    index.curve = curve
    if layout_path is not None:
        spark.createDataFrame(
            [(n, r, int(k), int(n_queries)) for n, r in curve],
            "nprobe int, recall double, k int, n_queries int",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{layout_path}/{_CURVE_SIDECAR}"
        )
    return curve


def _read_curve(spark, assigned_path: str) -> list[tuple[int, float]] | None:
    from .merge import _fs

    fs, hpath = _fs(spark, assigned_path)
    loc = f"{assigned_path}/{_CURVE_SIDECAR}"
    if not fs.exists(hpath(loc)):
        return None
    return sorted(
        (int(r.nprobe), float(r.recall))
        for r in spark.read.parquet(loc).collect()
    )


def save_ivf(
    index: IVFIndex, path: str, record_curve: bool = False,
    curve_k: int = 5, curve_queries: int = 32,
) -> None:
    """Persist the WHOLE index — inverted lists AND centroids — so a
    fresh session reconstructs it without refitting KMeans. This is
    the durability the reference gets for free from its backend (the
    Milvus index survives the client process; a session-local index
    would have to be rebuilt on every restart — at 100 TB, a full
    KMeans pass per restart).

    Layout: ``path/assigned`` = the inverted-file parquet partitioned
    by cluster_id (probes prune at the file listing);
    ``path/assigned/_meta`` = one tiny parquet of (cluster_id,
    centroid, vec_col, id_col) — nlist rows, kilobytes, everything
    load_ivf needs. The sidecar lives INSIDE the assigned directory —
    underscore-prefixed paths are hidden from parquet scans (the
    ``_delta_log`` convention) — so a directory-rename rebuild swaps
    data and centroids at ONE visibility point. Written after the
    data: a crash in between leaves no sidecar → load_ivf raises
    FileNotFoundError (no index), never a mismatched one.

    ``record_curve=True`` additionally measures and persists the
    recall-vs-nprobe curve (record_recall_curve) next to the _meta
    sidecar, enabling ``target_recall=`` searches on the loaded
    index."""
    spark = index.assigned.sparkSession
    write_partitioned(index, f"{path}/assigned")
    _write_meta(spark, index, f"{path}/assigned/_meta")
    if record_curve:
        record_recall_curve(
            index, f"{path}/assigned", k=curve_k, n_queries=curve_queries
        )


def _read_meta(spark, root: str):
    """Sorted sidecar rows, probing the canonical location (inside
    ``assigned``) first, then the legacy sibling ``root/_meta``.
    Existence goes through the Hadoop FS so a missing directory raises
    the intended FileNotFoundError, not a raw AnalysisException."""
    from .merge import _fs

    fs, hpath = _fs(spark, root)
    for loc in (f"{root}/assigned/_meta", f"{root}/_meta"):
        if fs.exists(hpath(loc)):
            rows = sorted(
                spark.read.parquet(loc).collect(), key=lambda r: r.cluster_id
            )
            if rows:
                return rows
    raise FileNotFoundError(f"no IVF metadata under {root}/assigned/_meta")


def load_ivf(spark, path: str) -> IVFIndex:
    """Reconstruct a saved index. The assigned side is the
    partitioned parquet itself, so a probe's ``cluster_id IN (...)``
    filter prunes at the FILE-LISTING level — a loaded index reads
    nprobe/nlist of the data per search, which is the entire point of
    IVF at scale (the in-session index filters a computed frame; the
    loaded one never touches the unprobed files).

    Composes with the streaming maintenance path: point
    ``stream_into_ivf`` at ``<path>/assigned`` and every micro-batch's
    no-refit append (same centroids, so the ``_meta`` sidecar stays
    valid by construction) is visible to the next load_ivf/search —
    the persisted index IS the live index, exactly the backend-index
    contract the reference delegates."""
    _reader_precheck(spark, f"{path}/assigned")
    meta = _read_meta(spark, path)
    return IVFIndex(
        assigned=spark.read.parquet(f"{path}/assigned"),
        centroids=[[float(x) for x in r.centroid] for r in meta],
        vec_col=meta[0].vec_col,
        id_col=meta[0].id_col,
        curve=_read_curve(spark, f"{path}/assigned"),
    )


def assign_new(index: IVFIndex, new_df: DataFrame) -> DataFrame:
    """Incremental index ADD: assign NEW vectors to the EXISTING
    centroids — the per-upsert path the reference's backend runs on
    every ingest event (Milvus inserts into the current IVF lists;
    it does not refit nlist=16384 per PUT). No KMeans refit, no touch
    of already-assigned rows.

    Plan: the centroid table (nlist×dim — tiny even at nlist=16384)
    broadcasts; the batch crossJoins it (|batch|·nlist rows, bounded
    by the BATCH size, not the table) and argmin-reduces per id with
    a rank window — all JVM-side expression math. Assignment uses the
    same exact L2 the fit used, so an added vector lands in the same
    list a full rebuild would give it (drift from stale centroids is
    the standard IVF trade-off; periodic rebuild_ivf handles it).

    Returns the assigned batch (new_df columns + cluster_id), ready
    for ``append_partitioned`` and/or a new IVFIndex via unionByName.
    """
    from pyspark.sql import Window

    spark = new_df.sparkSession
    # rows with a NULL or WRONG-DIMENSION embedding can't be assigned:
    # both yield a NULL _d2 against every centroid, and with the
    # nulls-last + cluster_id tiebreak ranking such a row would be
    # silently assigned to cluster 0 — the inverted-list pollution
    # this guard exists to eliminate. Drop both shapes with the same
    # logged-count contract the ingest guards use (ONE counting job
    # for both kinds, same job count as the old null-only guard).
    dim = len(index.centroids[0]) if index.centroids else 0
    vec = F.col(index.vec_col)
    counts = new_df.select(
        F.count(F.when(vec.isNull(), 1)).alias("n_null"),
        F.count(
            F.when(vec.isNotNull() & (F.size(vec) != dim), 1)
        ).alias("n_dim"),
    ).first()
    if counts["n_null"]:
        _log.warning(
            "assign_new: dropping %d row(s) with NULL %s — a null "
            "vector has no nearest centroid",
            counts["n_null"], index.vec_col,
        )
    if counts["n_dim"]:
        _log.warning(
            "assign_new: dropping %d row(s) whose %s dimension != %d "
            "(the index dimension) — a wrong-dim vector has no distance "
            "to any centroid",
            counts["n_dim"], index.vec_col, dim,
        )
    if counts["n_null"] or counts["n_dim"]:
        new_df = new_df.filter(vec.isNotNull() & (F.size(vec) == dim))
    cents = F.broadcast(
        spark.createDataFrame(
            [(cid, c) for cid, c in enumerate(index.centroids)],
            "cluster_id int, _cent array<double>",
        )
    )
    d2 = V.squared_l2(F.col(index.vec_col).cast("array<double>"), F.col("_cent"))
    # rank per INPUT ROW, not per id: an at-least-once source can
    # re-deliver the same id twice in one batch (possibly with
    # different payloads), and a per-id window would silently collapse
    # them to one arbitrary row — the append keeps every input row and
    # leaves duplicate-id resolution to the documented at-least-once
    # semantics of the maintenance stream
    w = Window.partitionBy("_row").orderBy(
        F.col("_d2").asc_nulls_last(), F.col("cluster_id").asc()
    )
    return (
        new_df.withColumn("_row", F.monotonically_increasing_id())
        .crossJoin(cents)
        .withColumn("_d2", d2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_d2", "_cent", "_row")
    )


def ivf_add(index: IVFIndex, new_df: DataFrame) -> IVFIndex:
    """Incrementally extended index: same centroids, batch appended."""
    assigned_new = assign_new(index, new_df)
    return IVFIndex(
        assigned=index.assigned.unionByName(assigned_new),
        centroids=index.centroids,
        vec_col=index.vec_col,
        id_col=index.id_col,
    )


def ivf_lease_path(path: str) -> str:
    """The single-writer lease file guarding the inverted-file layout
    at ``path`` — a SIBLING (``<path>._lease``), because the rebuild's
    two-rename swap replaces the directory itself: a lease stored
    inside would swap out with the data it guards. Shared by the
    maintenance writers: ``stream_into_ivf`` holds it for the stream's
    lifetime; ``rebuild_ivf``/``rebuild_saved_ivf`` hold it across the
    refit+swap. Without it, an append racing the swap either vanishes
    with the ``._old`` directory (silently lost rows) or recreates the
    live path between the two renames and wedges the rollback."""
    from .lease import sibling_lease_path

    return sibling_lease_path(path)


def rebuild_ivf(
    spark,
    path: str,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 20,
    lease_timeout_ms: int | None = None,
) -> IVFIndex:
    """Periodic offline index rebuild: refit the coarse quantizer on
    the CURRENT on-disk vectors (incremental adds drift away from the
    centroids they were assigned to), reassign every row, and swap the
    new layout in atomically. This is the maintenance job the IVF
    docstrings defer drift handling to — the Spark analog of rotating
    index segments in an ANN serving stack.

    Crash-safe the same way collection.compact() is: ONE write to a
    sibling temp dir, then a two-rename swap (each rename atomic on
    HDFS/POSIX). A crash between renames leaves the old layout at
    ``path + '._old'`` with the live path absent; the next
    rebuild/load heals it (:func:`_recover_swap`). Readers opened
    after the swap see only the new layout; the refreshByPath drops
    any cached file listings.

    Returns the fresh IVFIndex whose ``assigned`` reads from ``path``.

    SINGLE WRITER — ENFORCED: holds the layout's writer lease
    (:func:`ivf_lease_path`) from before the source read to after the
    swap; raises LedgerLockedError if a maintenance stream (or another
    rebuild) holds it. An append racing the swap would otherwise be
    silently deleted with the old directory.
    """
    from .lease import acquire_writer_lease

    _kw = {} if lease_timeout_ms is None else {"timeout_ms": lease_timeout_ms}
    lease = acquire_writer_lease(
        spark, path, lease_path=ivf_lease_path(path), **_kw
    )
    # a 100 TB refit can outlive the TTL — keep the lease fresh so a
    # maintenance stream can't legitimately break it mid-rebuild
    lease.start_auto_heartbeat()
    try:
        _recover_swap(spark, path, op="rebuild_ivf")
        current = spark.read.parquet(path).drop("cluster_id")
        index = build_ivf(
            current, nlist=nlist, vec_col=vec_col, id_col=id_col,
            seed=seed, max_iter=max_iter,
        )
        tmp = path + "._rebuild"
        _canonical_f32(index.assigned, vec_col).write.mode(
            "overwrite"
        ).partitionBy("cluster_id").parquet(tmp)
        _swap_dirs(spark, tmp, path, op="rebuild_ivf")
    finally:
        lease.release()
    return IVFIndex(
        assigned=spark.read.parquet(path),
        centroids=index.centroids,
        vec_col=vec_col,
        id_col=id_col,
    )


def _reader_precheck(
    spark, path: str, polls: int = 10, poll_s: float = 0.2
) -> None:
    """load_ivf's handling of the interrupted-swap layout (live path
    absent, ``path._old`` present). A reader must NOT rename the old
    layout back without the writer lease: that window also occurs
    mid-swap under a LIVE rebuild, and a lease-less heal there would
    restore the old directory just before the rebuild's tmp->path
    rename — which would then nest the new layout INSIDE the restored
    one, a silently mixed index. Instead: poll briefly for the live
    writer's swap to finish (it is two renames — milliseconds), then
    attempt recovery UNDER the lease (timeout 0: a crashed writer's
    expired/released lease is claimable immediately; a live or
    TTL-fresh one is not), and raise with the recovery hint if a
    writer still holds it."""
    import time

    from .lease import LedgerLockedError, acquire_writer_lease

    hpath = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    old = path + "._old"
    for _ in range(max(1, polls)):
        if fs.exists(hpath(path)) or not fs.exists(hpath(old)):
            return  # healthy (or simply absent — the read raises below)
        time.sleep(poll_s)
    try:
        lease = acquire_writer_lease(
            spark, path, lease_path=ivf_lease_path(path), timeout_ms=0
        )
    except LedgerLockedError as e:
        raise IOError(
            f"load_ivf: index at {path} is mid-swap (live path absent, "
            f"{old} present) and a writer holds the lease — retry once "
            "its swap completes, or run rebuild_ivf/rebuild_saved_ivf "
            "to recover if the writer is dead"
        ) from e
    try:
        _recover_swap(spark, path, op="load_ivf")
    finally:
        lease.release()


def _recover_swap(spark, path: str, op: str, _fs_pair=None) -> bool:
    """Heal a crash that landed BETWEEN _swap_dirs' two renames: the
    live path is absent but ``path._old`` (the renamed-aside previous
    layout) exists — rename it back so readers and rebuilds see the
    pre-swap index instead of a missing one. LEASE-HOLDING CALLERS
    ONLY (rebuild_ivf, rebuild_saved_ivf, and load_ivf's
    _reader_precheck after it takes the lease): renaming without the
    lease races a live rebuild's own swap. A no-op (False) when the
    layout is healthy. ``_fs_pair`` injects (fs, hpath) — tests only,
    to pin the lost-rename-race branch below deterministically."""
    if _fs_pair is not None:
        fs, hpath = _fs_pair
    else:
        hpath = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
        fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    old = path + "._old"
    if fs.exists(hpath(path)) or not fs.exists(hpath(old)):
        return False
    if not fs.rename(hpath(old), hpath(path)):
        # a concurrent recoverer (or the writer itself) may have healed
        # the layout between our existence check and the rename — a
        # healthy index must not read as a hard failure
        if fs.exists(hpath(path)):
            spark.catalog.refreshByPath(path)
            return True
        raise IOError(
            f"{op}: crash-recovery rename {old} -> {path} failed; "
            "restore the layout manually before retrying"
        )
    _log.warning(
        "%s: recovered index at %s from an interrupted swap "
        "(previous layout restored from %s)", op, path, old,
    )
    spark.catalog.refreshByPath(path)
    return True


def _swap_dirs(spark, tmp: str, path: str, op: str) -> None:
    """Two-rename directory swap (each rename atomic on HDFS/POSIX):
    ``path`` → ``path._old`` → delete, ``tmp`` → ``path``. A crash
    between the renames leaves the live path ABSENT with the old
    layout intact at ``path._old``; recovery is NOT automatic at the
    crash site — the next load_ivf/rebuild_saved_ivf heals it via
    :func:`_recover_swap` (readers in the crash-to-recovery window see
    path-not-found, never mixed or lost data). Drops cached file
    listings afterwards so already-open sessions re-list."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    fs = hpath(tmp).getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    old = path + "._old"
    fs.delete(hpath(old), True)  # leftover from a prior crash
    if not fs.rename(hpath(path), hpath(old)):
        raise IOError(
            f"{op}: rename {path} -> {old} failed; "
            "live index untouched, rebuilt layout at the temp path"
        )
    if not fs.rename(hpath(tmp), hpath(path)):
        fs.rename(hpath(old), hpath(path))  # roll back
        raise IOError(
            f"{op}: rename {tmp} -> {path} failed; "
            "old index restored, rebuilt layout at the temp path"
        )
    fs.delete(hpath(old), True)
    spark.catalog.refreshByPath(path)


def rebuild_saved_ivf(
    spark, root: str, nlist: int | None = None, seed: int = 42,
    max_iter: int = 20, lease_timeout_ms: int | None = None,
    record_curve: bool = False, curve_k: int = 5, curve_queries: int = 32,
) -> IVFIndex:
    """Rebuild a SAVED index in place (the save_ivf layout:
    ``root/assigned`` with the ``_meta`` sidecar inside), refreshing
    BOTH halves at ONE visibility point. Calling bare rebuild_ivf on
    ``root/assigned`` would refit the centroids and swap the data
    while leaving the sidecar stale — a later load_ivf would then rank
    probes with the OLD centroids against the NEW cluster ids and
    silently search the wrong inverted lists. This wrapper stages the
    rebuilt layout AND the fresh sidecar in the temp directory, then
    runs the same two-rename swap — a reader (concurrent or
    post-crash) sees old data + old centroids or new data + new
    centroids, never a mixed pair.

    ``nlist`` defaults to the SAVED index's geometry (the sidecar row
    count) — a default-arg rebuild refreshes centroids without
    silently changing how many inverted lists exist.

    SINGLE WRITER — ENFORCED: holds ``root/assigned``'s writer lease
    (the SAME lease ``stream_into_ivf`` holds when pointed at the
    saved layout) across the refit+swap — a racing maintenance stream
    fails fast instead of having its appended batch deleted with the
    old directory."""
    from .lease import acquire_writer_lease

    assigned_path = f"{root}/assigned"
    _kw = {} if lease_timeout_ms is None else {"timeout_ms": lease_timeout_ms}
    lease = acquire_writer_lease(
        spark, assigned_path, lease_path=ivf_lease_path(assigned_path), **_kw
    )
    lease.start_auto_heartbeat()  # refit can outlive the TTL
    # meta is read AFTER the lease: reading it before could observe
    # another rebuild's in-flight swap (path momentarily absent → a
    # spurious FileNotFoundError on a healthy index, or a pre-swap
    # sidecar whose geometry is superseded the instant that writer
    # releases)
    try:
        _recover_swap(spark, assigned_path, op="rebuild_saved_ivf")
        meta = _read_meta(spark, root)
    except Exception:
        lease.release()
        raise
    vec_col, id_col = meta[0].vec_col, meta[0].id_col
    if nlist is None:
        nlist = len(meta)
    try:
        current = spark.read.parquet(assigned_path).drop("cluster_id")
        index = build_ivf(
            current, nlist=nlist, vec_col=vec_col, id_col=id_col,
            seed=seed, max_iter=max_iter,
        )
        tmp = assigned_path + "._rebuild"
        _canonical_f32(index.assigned, vec_col).write.mode(
            "overwrite"
        ).partitionBy("cluster_id").parquet(tmp)
        _write_meta(spark, index, f"{tmp}/_meta")  # staged WITH the data
        if record_curve:
            # measured on the fresh index, STAGED with its data — the
            # swap publishes data + centroids + curve at one visibility
            # point. A plain rebuild (record_curve=False) deliberately
            # DROPS any previous curve with the old directory: the old
            # measurements described the old centroids, and a stale
            # curve silently surviving a rebuild is exactly the
            # mixed-metadata hazard the swap discipline exists to stop.
            record_recall_curve(
                index, tmp, k=curve_k, n_queries=curve_queries
            )
        _swap_dirs(spark, tmp, assigned_path, op="rebuild_saved_ivf")
        # a legacy sibling sidecar (pre-r10 layout) is now stale —
        # remove it so nothing can ever read old centroids again; safe
        # after the swap because the canonical sidecar is already live
        from .merge import _fs

        fs, hpath = _fs(spark, root)
        fs.delete(hpath(f"{root}/_meta"), True)
    finally:
        lease.release()
    return IVFIndex(
        assigned=spark.read.parquet(assigned_path),
        centroids=index.centroids,
        vec_col=vec_col,
        id_col=id_col,
    )


def append_partitioned(
    assigned_new: DataFrame, path: str, vec_col: str = "embedding"
) -> None:
    """Append an assigned batch into the on-disk inverted-file layout:
    append-mode partitionBy writes ONLY the cluster dirs the batch
    touches — existing partitions' files are never rewritten, so the
    incremental add costs O(batch), not O(index). The batch's vector
    column is cast to the layout's canonical float32 regardless of how
    it arrived (JSON streams decode as array<double>)."""
    _canonical_f32(assigned_new, vec_col).write.mode("append").partitionBy(
        "cluster_id"
    ).parquet(path)


def search_batch(
    index: IVFIndex,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    q_vec_col: str = "q_embedding",
    q_id_col: str = "q_id",
    max_driver_batch: int = 10_000,
    target_recall: float | None = None,
) -> DataFrame:
    """Batch IVF probe: top-k per query for MANY queries in one plan.

    Per query the nprobe nearest centroids resolve to a
    (q_id, cluster_id) probe list. The index joins that list on
    cluster_id — so each query only meets the rows of its own probed
    inverted lists (an equi-join, NOT the crossJoin of the exact batch
    path) — and a per-query window takes the k nearest survivors.

    Probe-list derivation is sized to the batch: up to
    ``max_driver_batch`` queries it resolves DRIVER-side (|Q| × nlist
    × dim flops on tiny tables, broadcast back). Above the cap — the
    API accepts any DataFrame, and a million-row "query batch" must
    not materialize on the driver — it switches to the same
    broadcast-centroid crossJoin + per-query rank the incremental-add
    path (assign_new) uses: fully distributed, no collect anywhere,
    and the probe join loses its broadcast hint (a corpus-sized probe
    side shouldn't broadcast; AQE picks the join strategy).

    At scale: the probe list is nprobe rows per query, the join is
    partition-pruned to the union of probed clusters, and the shuffle
    for the window carries only candidate rows — nprobe/nlist of the
    data.

    ``target_recall=`` resolves nprobe from the index's recorded
    recall curve (resolve_nprobe — the measured knee) instead of the
    caller guessing a constant; raises if no curve was recorded."""
    from pyspark.sql import Window

    spark = queries.sparkSession
    if target_recall is not None:
        nprobe = index.resolve_nprobe(target_recall)
    # ONE job both sizes and fetches: take(cap+1) returns the rows AND
    # proves smallness (the old limit().count() + collect() executed a
    # derived queries plan twice, and the source could grow between
    # the two — over-collecting onto the driver)
    qrows = queries.select(q_id_col, q_vec_col).take(max_driver_batch + 1)
    small = len(qrows) <= max_driver_batch
    if small:
        # a NULL query vector has no nearest centroids — skip it, the
        # same outcome the distributed branch produces (no candidate
        # rows for that query id), instead of a driver-side TypeError
        probe_rows = [
            (row[q_id_col], cid, [float(x) for x in row[q_vec_col]])
            for row in qrows
            if row[q_vec_col] is not None
            for cid in index.probe_clusters(
                [float(x) for x in row[q_vec_col]], nprobe
            )
        ]
        # derive the q_id field type from the input schema — string or
        # other non-long id columns must round-trip unchanged (ADVICE r4)
        qid_type = StructField(q_id_col, queries.schema[q_id_col].dataType)
        probes = spark.createDataFrame(
            probe_rows,
            StructType([
                qid_type,
                StructField("cluster_id", IntegerType()),
                StructField("_qv", ArrayType(DoubleType())),
            ]),
        )
        probes_join = F.broadcast(probes)
        # static pruning for the persisted layout: the probed-cluster
        # UNION is known driver-side, so push it as an IN filter — over
        # a partitionBy('cluster_id') parquet this is file-listing
        # pruning (PartitionFilters), the same guarantee the
        # single-query probe has. The join alone gives none: a join key
        # only prunes via DPP, which local/static plans don't promise.
        probed_union = sorted({cid for _, cid, _ in probe_rows})
        base = index.assigned.filter(F.col("cluster_id").isin(probed_union))
    else:
        cents = F.broadcast(
            spark.createDataFrame(
                [(cid, c) for cid, c in enumerate(index.centroids)],
                "cluster_id int, _cent array<double>",
            )
        )
        d2 = V.squared_l2(F.col("_qv"), F.col("_cent"))
        w_probe = Window.partitionBy(q_id_col).orderBy(
            F.col("_d2").asc_nulls_last(), F.col("cluster_id").asc()
        )
        probes = (
            queries.select(
                q_id_col, F.col(q_vec_col).cast("array<double>").alias("_qv")
            )
            # a null query vector has no nearest centroids (its _d2 is
            # NULL for every one) — drop it, matching the driver path
            .filter(F.col("_qv").isNotNull())
            .crossJoin(cents)
            .withColumn("_d2", d2)
            .withColumn("_rn", F.row_number().over(w_probe))
            .filter(F.col("_rn") <= nprobe)
            .select(q_id_col, "cluster_id", "_qv")
        )
        probes_join = probes
        base = index.assigned  # union unknown statically → DPP/AQE
    cand = base.join(
        probes_join,
        base["cluster_id"] == probes["cluster_id"],
    ).drop(probes["cluster_id"])
    dist = F.round(
        V.l2_distance(F.col(index.vec_col).cast("array<double>"), F.col("_qv")), 6
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("distance").asc_nulls_last(), F.col(index.id_col).asc()
    )
    return (
        cand.withColumn("distance", dist)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(q_id_col, index.id_col, "cluster_id", "distance")
    )
