"""IVF-style ANN: KMeans coarse quantizer + partition-pruned probe.

Spark-native equivalent of the reference's delegated Milvus index
``IVF_FLAT, nlist=16384, metric L2``
(milvus-app/pythonvectordbceph_milvus.py:100-102).

Design (scale-first):
  build:  KMeans fits ``nlist`` centroids on a bounded sample; one
          Arrow-batch kernel gives every row its ``cluster_id`` (the
          same kernel assigns incremental adds); the table is WRITTEN
          partitioned by ``cluster_id``. At 100 TB the write is a
          single shuffle and thereafter every probe is partition-pruned
          at the parquet scan — Spark reads only nprobe/nlist of the
          data.
  probe:  rank centroids by distance to the query (driver-side — the
          centroid table is nlist×dim, tiny), take the ``nprobe``
          nearest cluster ids, ``filter(cluster_id IN probes)`` (static
          partition pruning), exact re-rank inside the survivors.

Approximate by construction → registered rows-only with the driver
(recall checked in tests against brute force instead).
"""

from __future__ import annotations

import json
import logging
import math
import time
from dataclasses import dataclass, replace
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions import vector as V
from ..io import read_back_schema, read_parquet
from .knn import topk_by_distance
from .lease import (
    LedgerLockedError,
    acquire_writer_lease,
    recover_swap,
    sibling_lease_path,
    swap_dirs,
)
from .merge import _fs

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
        # the same tiebreak probe_clusters uses
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
    JVM/Python prediction. The ONE assignment kernel: build_ivf
    assigns every row with it and assign_new every added row, so an
    added vector lands in exactly the list the build would give it.
    NULL or wrong-dimension vectors RAISE (the r14 advice: the MLlib
    path this replaced failed loudly, and a silently NULL-assigned row
    would vanish from every probe filter and land in
    __HIVE_DEFAULT_PARTITION__ on write_partitioned — assign_new drops
    such rows with a logged count before calling the kernel; the BUILD
    contract requires clean input). The check is in-batch — zero extra
    Spark jobs."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
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
            yield pd.Series(_argmin_chunked(X, C)).astype("Int32")

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


# The sidecars are written by this module, so their readers pass these
# schemas instead of inferring them. ``assigned_schema`` (the JSON
# schema of the layout's files, plus the cluster_id partition column)
# is NULL in a sidecar written before it was recorded; its layout is
# then inferred.
_META_SCHEMA = StructType([
    StructField("cluster_id", IntegerType()),
    StructField("centroid", ArrayType(DoubleType())),
    StructField("vec_col", StringType()),
    StructField("id_col", StringType()),
    StructField("assigned_schema", StringType()),
])
_CURVE_SCHEMA = StructType([
    StructField("nprobe", IntegerType()),
    StructField("recall", DoubleType()),
    StructField("k", IntegerType()),
    StructField("n_queries", IntegerType()),
])


def _layout_schema(index: IVFIndex) -> StructType:
    """The schema a read of the layout ``write_partitioned`` writes for
    ``index`` infers: the files' columns, then ``cluster_id``."""
    data = read_back_schema(
        _canonical_f32(index.assigned, index.vec_col).schema,
        drop=("cluster_id",),
    )
    return StructType(data.fields + [StructField("cluster_id", IntegerType())])


def _write_meta(spark, index: IVFIndex, meta_path: str) -> None:
    # centroids persist as float64: they are index METADATA (probe
    # ranking inputs), not at-rest vector data — the canonical-f32
    # rule applies to the assigned table's vectors; doubles make the
    # save/load roundtrip bit-exact so probe order never drifts. Built
    # from pandas so the rows cross as one Arrow batch: a list of
    # tuples is parallelized and mapped by a Python task per partition
    meta = spark.createDataFrame(
        pd.DataFrame({
            "cluster_id": range(len(index.centroids)),
            "centroid": [[float(x) for x in c] for c in index.centroids],
            "vec_col": index.vec_col,
            "id_col": index.id_col,
            "assigned_schema": _layout_schema(index).json(),
        }),
        _META_SCHEMA,
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
            pd.DataFrame(
                [(n, r, int(k), int(n_queries)) for n, r in curve],
                columns=["nprobe", "recall", "k", "n_queries"],
            ),
            _CURVE_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{layout_path}/{_CURVE_SIDECAR}"
        )
    return curve


def _read_curve(spark, assigned_path: str) -> list[tuple[int, float]] | None:
    fs, hpath = _fs(spark, assigned_path)
    loc = f"{assigned_path}/{_CURVE_SIDECAR}"
    if not fs.exists(hpath(loc)):
        return None
    return sorted(
        (int(r.nprobe), float(r.recall))
        for r in read_parquet(spark, loc, schema=_CURVE_SCHEMA).collect()
    )


def _write_layout(
    index: IVFIndex, assigned_path: str, record_curve: bool,
    curve_k: int, curve_queries: int,
) -> None:
    """Write one complete inverted-file layout at ``assigned_path``:
    the partitioned data, then the ``_meta`` centroid sidecar inside
    it, then (``record_curve``) the measured recall curve. save_ivf
    writes it in place; rebuild_ivf stages it in a temp directory and
    swaps it in."""
    write_partitioned(index, assigned_path)
    _write_meta(index.assigned.sparkSession, index, f"{assigned_path}/_meta")
    if record_curve:
        record_recall_curve(
            index, assigned_path, k=curve_k, n_queries=curve_queries
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
    _write_layout(
        index, f"{path}/assigned", record_curve, curve_k, curve_queries
    )


def _read_meta(spark, assigned_path: str):
    """Sorted sidecar rows of the layout at ``assigned_path``, or None.
    Probes the canonical location (inside the layout) first, then the
    legacy sibling ``<root>/_meta`` of a ``<root>/assigned`` layout
    saved before the sidecar moved inside. Existence goes through the
    Hadoop FS, so a missing directory reads as None, not a raw
    AnalysisException."""
    fs, hpath = _fs(spark, assigned_path)
    locs = [f"{assigned_path}/_meta"]
    root, _, name = assigned_path.rstrip("/").rpartition("/")
    if name == "assigned":
        locs.append(f"{root}/_meta")
    for loc in locs:
        if fs.exists(hpath(loc)):
            rows = sorted(
                read_parquet(spark, loc, schema=_META_SCHEMA).collect(),
                key=lambda r: r.cluster_id,
            )
            if rows:
                return rows
    return None


def _read_layout(spark, path: str, meta) -> DataFrame:
    """The inverted-file layout at ``path``, read with the schema its
    ``_meta`` sidecar rows record (session memo, else inference, for a
    sidecar that records none)."""
    recorded = meta[0].assigned_schema if meta else None
    if recorded is None:
        return read_parquet(spark, path)
    return read_parquet(
        spark, path, schema=StructType.fromJson(json.loads(recorded))
    )


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
    assigned = f"{path}/assigned"
    _reader_precheck(spark, assigned)
    meta = _read_meta(spark, assigned)
    if meta is None:
        raise FileNotFoundError(f"no IVF metadata under {assigned}/_meta")
    return IVFIndex(
        assigned=_read_layout(spark, assigned, meta),
        centroids=[[float(x) for x in r.centroid] for r in meta],
        vec_col=meta[0].vec_col,
        id_col=meta[0].id_col,
        curve=_read_curve(spark, assigned),
    )


def assign_new(index: IVFIndex, new_df: DataFrame) -> DataFrame:
    """Incremental index ADD: assign NEW vectors to the EXISTING
    centroids — the per-upsert path the reference's backend runs on
    every ingest event (Milvus inserts into the current IVF lists;
    it does not refit nlist=16384 per PUT). No KMeans refit, no touch
    of already-assigned rows.

    Plan: one counting job drops (with a logged count per kind) the
    rows that have no nearest centroid — NULL or wrong-dimension
    vectors — then the build's own Arrow-batch kernel (_assign_udf)
    assigns the rest: map-side, O(|batch| × nlist × dim) flops, no
    join and no shuffle. Because it is the kernel build_ivf uses, an
    added vector lands in exactly the list a build with the same
    centroids gives it, ties to the lowest cluster id (drift from
    stale centroids is the standard IVF trade-off; periodic
    rebuild_ivf handles it). Every input row is kept, so an id
    delivered twice in one batch stays twice (the at-least-once
    semantics of the maintenance stream).

    Returns the assigned batch (new_df columns + cluster_id), ready
    for ``append_partitioned`` and/or a new IVFIndex via unionByName.
    """
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
    return new_df.withColumn("cluster_id", _assign_udf(index.centroids)(vec))


def ivf_add(index: IVFIndex, new_df: DataFrame) -> IVFIndex:
    """Incrementally extended index: same centroids, batch appended
    (a recorded recall curve described the old lists and is dropped)."""
    return replace(
        index, assigned=index.assigned.unionByName(assign_new(index, new_df)),
        curve=None,
    )


def rebuild_ivf(
    spark,
    path: str,
    nlist: int | None = None,
    vec_col: str | None = None,
    id_col: str | None = None,
    seed: int = 42,
    max_iter: int = 20,
    lease_timeout_ms: int | None = None,
    record_curve: bool = False,
    curve_k: int = 5,
    curve_queries: int = 32,
) -> IVFIndex:
    """Periodic offline index rebuild of the inverted-file layout at
    ``path``: refit the coarse quantizer on the CURRENT on-disk
    vectors (incremental adds drift away from the centroids they were
    assigned to), reassign every row, and swap the new layout in
    atomically — the Spark analog of rotating index segments in an ANN
    serving stack. The one rebuild: rebuild_saved_ivf runs it on a
    saved index's ``root/assigned``.

    Under the lease it reads the layout's ``_meta`` sidecar when one
    exists: ``vec_col``, ``id_col`` and ``nlist`` default to the saved
    index's columns and geometry (else "embedding", "vec_id", 16), so
    a default-arg rebuild refreshes centroids without changing how many
    inverted lists exist.

    ONE staged write to ``path._rebuild`` — the data, a fresh
    ``_meta`` sidecar and, with ``record_curve=True``, the recall curve
    measured on the new index (record_recall_curve) — then the shared
    two-rename swap (lease.swap_dirs). Data, centroids and curve
    become visible together, so a reader (concurrent or post-crash)
    sees old data + old centroids or new + new, never a mixed pair. A
    rebuild without ``record_curve`` deliberately DROPS the previous
    curve with the old directory: it described the old centroids. A
    crash between the renames leaves the old layout at
    ``path._old``; the next rebuild or load_ivf heals it
    (lease.recover_swap).

    SINGLE WRITER — ENFORCED: holds the layout's sibling writer lease
    (``<path>._lease``, the one ``stream_into_ivf`` holds) from before
    the source read to after the swap, auto-heartbeated because a
    large refit can outlive the TTL; raises LedgerLockedError if a
    maintenance stream or another rebuild holds it. An append racing
    the swap would otherwise be deleted with the old directory.

    Returns the fresh IVFIndex whose ``assigned`` reads from ``path``.
    """
    _kw = {} if lease_timeout_ms is None else {"timeout_ms": lease_timeout_ms}
    lease = acquire_writer_lease(
        spark, path, lease_path=sibling_lease_path(path), **_kw
    )
    lease.start_auto_heartbeat()
    try:
        recover_swap(spark, path, op="rebuild_ivf")
        meta = _read_meta(spark, path)
        if meta is not None:
            vec_col = vec_col or meta[0].vec_col
            id_col = id_col or meta[0].id_col
            nlist = nlist or len(meta)
        index = build_ivf(
            _read_layout(spark, path, meta).drop("cluster_id"),
            nlist=nlist or 16,
            vec_col=vec_col or "embedding", id_col=id_col or "vec_id",
            seed=seed, max_iter=max_iter,
        )
        tmp = path + "._rebuild"
        _write_layout(index, tmp, record_curve, curve_k, curve_queries)
        swap_dirs(spark, tmp, path, op="rebuild_ivf")
    finally:
        lease.release()
    return replace(
        index, assigned=read_parquet(spark, path, schema=_layout_schema(index))
    )


def rebuild_saved_ivf(
    spark, root: str, nlist: int | None = None, seed: int = 42,
    max_iter: int = 20, lease_timeout_ms: int | None = None,
    record_curve: bool = False, curve_k: int = 5, curve_queries: int = 32,
) -> IVFIndex:
    """Rebuild a SAVED index in place (the save_ivf layout): this is
    :func:`rebuild_ivf` on ``root/assigned``, whose sidecar supplies
    the columns and the default ``nlist``, followed by the delete of a
    legacy sibling ``root/_meta`` (the layout before the sidecar moved
    inside ``assigned``) — stale once the swap has published the new
    sidecar, so nothing can read old centroids again."""
    index = rebuild_ivf(
        spark, f"{root}/assigned", nlist=nlist, seed=seed,
        max_iter=max_iter, lease_timeout_ms=lease_timeout_ms,
        record_curve=record_curve, curve_k=curve_k,
        curve_queries=curve_queries,
    )
    fs, hpath = _fs(spark, root)
    fs.delete(hpath(f"{root}/_meta"), True)
    return index


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
    fs, hpath = _fs(spark, path)
    old = path + "._old"
    for _ in range(max(1, polls)):
        if fs.exists(hpath(path)) or not fs.exists(hpath(old)):
            return  # healthy (or simply absent — the read raises below)
        time.sleep(poll_s)
    try:
        lease = acquire_writer_lease(
            spark, path, lease_path=sibling_lease_path(path), timeout_ms=0
        )
    except LedgerLockedError as e:
        raise IOError(
            f"load_ivf: index at {path} is mid-swap (live path absent, "
            f"{old} present) and a writer holds the lease — retry once "
            "its swap completes, or run rebuild_ivf/rebuild_saved_ivf "
            "to recover if the writer is dead"
        ) from e
    try:
        recover_swap(spark, path, op="load_ivf")
    finally:
        lease.release()


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
    not materialize on the driver — it switches to a broadcast-
    centroid crossJoin + per-query rank of the top ``nprobe`` lists
    (probe_clusters' order): fully distributed, no collect anywhere,
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
