"""Tracked persist registry: operators that must persist intermediates
(self-join inputs, branch-split inputs) register them here so a
long-lived session (driver gate, bench loop) can release them instead
of accumulating pinned blocks until eviction churn."""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

# scope name -> pinned frames. Scopes exist so a long-lived stream's
# per-batch cleanup (shard_ingest releases after every micro-batch)
# cannot drain intermediates pinned by UNRELATED concurrent work in
# the same driver (a second stream's dedup candidates, twophase's
# sampled boundaries) — a global drain silently broke those persists'
# contracts. The scope is carried in a thread-local set by
# :func:`cache_scope`; callers of tracked_persist stay unchanged.
_PERSISTED: dict[str, list[DataFrame]] = {}
_SCOPE = threading.local()
_DEFAULT_SCOPE = "global"


def _current_scope() -> str:
    return getattr(_SCOPE, "name", _DEFAULT_SCOPE)


@contextmanager
def cache_scope(name: str):
    """Route every tracked_persist on THIS thread to scope ``name``
    for the duration — release with ``release_caches(name)``."""
    prev = _current_scope()
    _SCOPE.name = name
    try:
        yield
    finally:
        _SCOPE.name = prev

# applicationId → checkpoint dir already registered on that context, so
# repeated materialize() calls don't spawn a fresh UUID subdir each time
_CKPT_REGISTERED: dict[str, str] = {}


def tracked_persist(df: DataFrame) -> DataFrame:
    _PERSISTED.setdefault(_current_scope(), []).append(df.persist())
    return df


def materialize(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    Default (``checkpoint_dir=None``) is ``localCheckpoint()``: blocks
    live on executor block managers — fastest, but any executor loss
    mid-job fails the query unrecoverably (Spark cannot recompute
    truncated lineage). Fine on local[*]; on a 1000-node 100 TB run
    pass a reliable ``checkpoint_dir`` (HDFS/S3A path) to switch to
    ``df.checkpoint()``, which survives executor churn at the cost of
    one distributed write per materialization."""
    if checkpoint_dir is None:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    if _CKPT_REGISTERED.get(sc.applicationId) != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
        _CKPT_REGISTERED[sc.applicationId] = checkpoint_dir
    return df.checkpoint(eager=True)


def collect_bounded(df: DataFrame, cap: int, rows: int | None = None):
    """The driver-finish gate: ``df`` as a pandas frame when it has at
    most ``cap`` rows, else None. The driver never holds more than
    ``cap`` rows.

    One ``limit(cap).toPandas()`` job is both the decision and, when it
    passes, the data: fewer than ``cap`` rows means the frame is whole.
    Exactly ``cap`` rows is ambiguous, and only then one more job asks
    whether a row lies past the cap (``offset(cap).isEmpty()``: one
    job that ships no columns, where ``count()`` runs two under AQE).
    A caller that already knows the row count passes it as ``rows``;
    no job then decides, and a frame that fits is collected whole.
    ``cap <= 0`` turns the gate off."""
    if cap <= 0 or (rows is not None and rows > cap):
        return None
    if rows is not None:
        return df.toPandas()
    pdf = df.limit(cap).toPandas()
    return pdf if len(pdf) < cap or df.offset(cap).isEmpty() else None


def release_caches(scope: str | None = None) -> None:
    """Unpersist tracked intermediates. ``scope=None`` (the legacy
    session-wide cleanup: bench loops, the driver gate) drains EVERY
    scope; a named scope drains only the frames registered under it —
    the per-batch form that coexists with concurrent pinned work."""
    scopes = list(_PERSISTED) if scope is None else [scope]
    for s in scopes:
        frames = _PERSISTED.get(s)
        if not frames:
            _PERSISTED.pop(s, None)
            continue
        while frames:
            try:
                frames.pop().unpersist()
            except Exception:
                pass
        _PERSISTED.pop(s, None)
