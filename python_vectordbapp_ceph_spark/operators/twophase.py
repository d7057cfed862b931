"""Two-phase (distributed) global running sums.

Spark executes an UNPARTITIONED `Window.orderBy(...)` on a single
task — range partitioning applies to global SORTS, not windows — so
any global cumulative sum written naively caps the operator at one
task's memory. Histograms over rounded scores are "bounded by value
cardinality", but a heavy-tailed continuous column (raw doc lengths at
100 TB) can still push that histogram to 10⁸ rows; vocabulary tables
grow with the corpus outright. The distributed answer is the classic
two-phase rank (used by q_shuffle_order since r6, generalized here):

  1. range-repartition on the order key — one sampled wide exchange;
     each partition owns a contiguous key range (persisted, so both
     passes see the SAME partitioning);
  2. per-partition partial masses → cumulative prefix offsets over
     ≤num-partitions rows (bounded by cluster width, never by data);
  3. broadcast the offsets back and add a WITHIN-partition running
     sum.

Every phase is bounded by a single partition's slice of the input.

Phase 2 runs DRIVER-SIDE since round 14: the partial masses are one
bounded collect (≤num-partitions rows — the same cluster-width bound
the earlier single-partition offsets window relied on), the prefix
sums are plain Python in _pid order (identical addition order to the
window they replace, so even float sums are bit-identical), and the
offsets return to the plan as a broadcast LocalTableScan whose schema
is copied from the ANALYZED schema of the window formulation — result
column types are unchanged to the digit. This removes the offsets
window stage and (in global_ntile) the total-count re-execution of
the ranked plan: measured 52 → ~30 Spark jobs on q_rfm_segments'
three chained ntiles at sf0.1.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import tracked_persist

# Below this Catalyst size estimate the input fits ONE window task
# comfortably (well under the guide-§2.2 100 MB–1 GB per-task shuffle
# target), so the two-phase machinery (sampled range exchange + persist
# + bounded offsets collect) costs strictly more than the plain
# unpartitioned window it exists to avoid — a multi-second, multi-job
# overhead per call at bench scale. Gating on the OPTIMIZED-plan size
# estimate is free (driver-side, no job) and SAFE in both directions:
# the two paths are result-identical (same expression tree with a
# typed zero in place of the broadcast offset), so a wrong estimate
# can only cost performance, never correctness; Catalyst overestimates
# joins/unions, which errs toward the distributed path. At 100 TB every
# real input estimate is orders of magnitude above the gate.
# Parameterized: spark conf key first, env second, default 64 MiB.
_SMALL_PLAN_CONF = "spark.python_vectordbapp.twophase.smallPlanMaxBytes"
_SMALL_PLAN_ENV = "SPARK_GRAFT_TWOPHASE_SMALL_BYTES"
_SMALL_PLAN_DEFAULT = 64 << 20


def _small_plan_gate_bytes(spark) -> int:
    """The gate in bytes. An override that is not an integer raises:
    falling back to the default would run the plan shape the caller
    set the override to change, with nothing to say so."""
    key, v = _SMALL_PLAN_CONF, spark.conf.get(_SMALL_PLAN_CONF, None)
    if v is None:
        key, v = _SMALL_PLAN_ENV, os.environ.get(_SMALL_PLAN_ENV) or None
    if v is None:
        return _SMALL_PLAN_DEFAULT
    try:
        return int(v)
    except ValueError:
        raise ValueError(
            f"{key}={v!r} is not an integer byte count"
        ) from None


# logical plan node classes that can MULTIPLY rows relative to their
# inputs — with any of these present the leaf-sum fallback below is not
# an upper bound (Expand: rollup/cube/grouping sets emit one row per
# grouping set)
_CARDINALITY_NODES = frozenset({
    "Generate", "Expand", "MapInPandas", "MapInArrow", "PythonMapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "CoGroup",
    "MapGroups", "FlatMapGroupsWithState",
})


def _node_classes(plan) -> set[str]:
    """Simple class names of every node in a logical plan tree —
    matched by class, never by substrings of ``treeString()``, where a
    column named ``Generated_w`` reads as a Generate node."""
    names, stack = set(), [plan]
    while stack:
        node = stack.pop()
        names.add(node.getClass().getSimpleName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _fits_single_task(df: DataFrame) -> bool:
    """True when Catalyst's optimized-plan size estimate says the whole
    input fits one window task (performance gate only — both callers'
    paths produce identical rows and types, see module docstring).

    Catalyst's non-CBO join estimate is the PRODUCT of the sides, which
    overshoots a broadcast-dim join over a small fact by orders of
    magnitude. When the plan estimate misses the gate, fall back to the
    SUM of the leaf-relation estimates, accepted only when no plan node
    can multiply rows (no Generate/explode, no Expand/rollup, no Python
    map/cogroup — checkpointed/unknown leaves report Long.Max and fail
    the sum, the conservative direction). A many-to-many join fanning
    small inputs far past their size is the residual miss; it costs one
    oversized window task, never a wrong result."""
    gate = _small_plan_gate_bytes(df.sparkSession)
    if gate <= 0:
        return False
    try:
        plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
        est = int(plan.stats().sizeInBytes())
        if 0 <= est <= gate:
            return True
        if _node_classes(plan) & _CARDINALITY_NODES:
            return False
        leaves = plan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            total += int(leaves.apply(i).stats().sizeInBytes())
            if total > gate:
                return False
        return True
    except Exception:
        return False


def fits_single_task(df: DataFrame) -> bool:
    """Public face of the single-task gate, for callers that thread one
    decision through several same-cardinality cumsum calls (see
    global_cumsum's ``single_task``)."""
    return _fits_single_task(df)


def _typed_zero_offset(df: DataFrame, val: Column) -> Column:
    """lit(0) cast to the exact type the two-phase broadcast offset
    column would carry — analyzed only, never executed — so the
    single-task formulation's `0 + sum(val).over(w)` goes through the
    identical Catalyst type-coercion as `_off + sum(val).over(w_in)`
    and result types match the distributed path digit for digit."""
    w_off = Window.orderBy(F.lit(1)).rowsBetween(Window.unboundedPreceding, -1)
    off_t = (
        df.groupBy()
        .agg(F.sum(val).alias("_mass"))
        .select(
            F.coalesce(F.sum("_mass").over(w_off), F.lit(0)).alias("_off")
        )
        .schema["_off"]
        .dataType
    )
    return F.lit(0).cast(off_t)


def _coerce(value, dtype):
    """Coerce a driver-side running-sum value to the Python type
    createDataFrame expects for ``dtype`` (the analyzed offset type)."""
    import decimal

    if value is None:
        return None
    t = dtype.simpleString()
    if t.startswith("decimal"):
        return value if isinstance(value, decimal.Decimal) else decimal.Decimal(value)
    if t in ("double", "float"):
        return float(value)
    return int(value)


def _offsets_rows(mass_rows, group_key, dtype):
    """Strictly-preceding prefix sums of ``_mass`` in ``_pid`` order,
    per group (group_key() maps a Row to its group tuple). Addition
    runs in the same _pid order as the window it replaces."""
    out = []
    run: dict = {}
    for r in sorted(mass_rows, key=lambda r: (r["_pid"],)):
        g = group_key(r)
        off = run.get(g, 0)
        out.append((r, _coerce(off, dtype)))
        m = r["_mass"]
        if m is not None:
            run[g] = off + m
    return out


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    val_col: str | Column,
    cum_col: str | None = "cum",
    before_col: str | None = None,
    single_task: bool | None = None,
) -> DataFrame:
    """``df`` plus distributed global running sum(s) of ``val_col`` in
    ``order_cols`` order: ``cum_col`` includes the current row,
    ``before_col`` is the strictly-preceding sum (either may be None
    to skip). ``order_cols`` accepts names or Columns (e.g.
    ``F.col("freq").desc()``) and must be a TOTAL order for the
    result to be deterministic.

    The caller's ``df`` is persisted (tracked_persist) to pin the
    sampled range boundaries; release via cache.release_caches() as
    usual.

    SINGLE-TASK GATE (round 15, guide §1.2): when the optimized-plan
    size estimate fits one window task (_fits_single_task), the same
    running sums come from a plain unpartitioned window — identical
    expression tree with a typed zero in place of the broadcast offset,
    so values AND result types match the two-phase path exactly; the
    sampled range exchange, the persist of the re-partitioned copy and
    the offsets collect (multiple scheduling-bound jobs per call) are
    skipped. The input is still tracked_persist-ed so multi-consumer
    callers reuse one execution, as before. ``single_task`` overrides
    the estimate (None = auto): callers chaining cumsums over the SAME
    row set pass the first call's decision through, because the second
    input's plan hangs off a not-yet-materialized persist whose size
    estimate is unusable (InMemoryRelation reports its child's
    join-product estimate until the cache fills)."""
    val = F.col(val_col) if isinstance(val_col, str) else val_col
    if single_task if single_task is not None else _fits_single_task(df):
        parts = tracked_persist(df)
        zero = _typed_zero_offset(df, val)
        w = Window.orderBy(*order_cols)
        out = parts
        if cum_col is not None:
            out = out.withColumn(
                cum_col,
                zero
                + F.sum(val).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
        if before_col is not None:
            out = out.withColumn(
                before_col,
                zero
                + F.coalesce(
                    F.sum(val).over(
                        w.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
        return out
    out, _ = _global_cumsum_total(df, order_cols, val_col, cum_col, before_col)
    return out


def _global_cumsum_total(
    df: DataFrame,
    order_cols: list,
    val_col: str | Column,
    cum_col: str | None,
    before_col: str | None,
):
    """global_cumsum plus the TOTAL mass (a driver-side scalar, free
    byproduct of the bounded partials collect) — global_ntile needs it
    and previously paid a full re-execution of the ranked plan for it."""
    val = F.col(val_col) if isinstance(val_col, str) else val_col
    spark = df.sparkSession
    npart = max(spark.sparkContext.defaultParallelism, 2)
    parts = tracked_persist(
        df.repartitionByRange(npart, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    partials = parts.groupBy("_pid").agg(F.sum(val).alias("_mass"))
    # analyzed (never executed) window formulation pins _off's exact
    # type so downstream arithmetic types match the old plan digit for
    # digit
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    off_schema = partials.select(
        "_pid", F.coalesce(F.sum("_mass").over(w_off), F.lit(0)).alias("_off")
    ).schema
    mass_rows = partials.collect()  # ≤npart rows — cluster-width bound
    pairs = _offsets_rows(mass_rows, lambda r: None, off_schema["_off"].dataType)
    offsets = spark.createDataFrame(
        [(r["_pid"], off) for r, off in pairs], off_schema
    )
    total = 0
    for r in mass_rows:
        if r["_mass"] is not None:
            total = total + r["_mass"]
    w_in = Window.partitionBy("_pid").orderBy(*order_cols)
    out = parts.join(F.broadcast(offsets), "_pid")
    if cum_col is not None:
        out = out.withColumn(
            cum_col,
            F.col("_off")
            + F.sum(val).over(
                w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    if before_col is not None:
        out = out.withColumn(
            before_col,
            F.col("_off")
            + F.coalesce(
                F.sum(val).over(w_in.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
    return out.drop("_pid", "_off"), total


def grouped_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    val_col: str | Column,
    cum_col: str | None = "cum",
    before_col: str | None = None,
) -> DataFrame:
    """Per-group distributed running sum for the FEW-GROUPS-EACH-LARGE
    regime — the case where ``Window.partitionBy(group)`` is no better
    than an unpartitioned window because one group holds O(n) rows
    (length buckets, source shards, label classes). Many-small-groups
    data should use a plain partitioned window instead; this variant's
    offset table is #groups × #partitions rows and is broadcast, so it
    assumes bounded group cardinality.

    Same three phases as :func:`global_cumsum`, with the group key
    prefixed to the range-partitioning key so each partition owns a
    contiguous (group, key) slice; prefix offsets accumulate per group
    over the ≤num-partitions slices that group spans. ``group_cols``
    must be column NAMES (they key the broadcast equi-join back).

    Same single-task gate as :func:`global_cumsum`: under the size
    estimate the per-group running sums come from one
    ``Window.partitionBy(group)`` pass (NULL group values are ordinary
    window partitions, matching the eqNullSafe join semantics of the
    distributed path), with the typed zero preserving result types."""
    val = F.col(val_col) if isinstance(val_col, str) else val_col
    if _fits_single_task(df):
        parts = tracked_persist(df)
        zero = _typed_zero_offset(df, val)
        w = Window.partitionBy(*[F.col(g) for g in group_cols]).orderBy(
            *order_cols
        )
        out = parts
        if cum_col is not None:
            out = out.withColumn(
                cum_col,
                zero
                + F.sum(val).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
        if before_col is not None:
            out = out.withColumn(
                before_col,
                zero
                + F.coalesce(
                    F.sum(val).over(
                        w.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
        return out
    spark = df.sparkSession
    npart = max(spark.sparkContext.defaultParallelism, 2)
    gcols = [F.col(g) for g in group_cols]
    parts = tracked_persist(
        df.repartitionByRange(npart, *gcols, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    partials = parts.groupBy(*group_cols, "_pid").agg(F.sum(val).alias("_mass"))
    # analyzed-only window formulation pins _off's type; the offsets
    # themselves come from one bounded collect (#groups × #partitions
    # rows — the same cardinality the broadcast join already assumed)
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_schema = partials.select(
        *group_cols,
        "_pid",
        F.coalesce(F.sum("_mass").over(w_off), F.lit(0)).alias("_off"),
    ).schema

    def _gkey(r):
        return tuple(
            tuple(v) if isinstance(v, list) else v
            for v in (r[g] for g in group_cols)
        )

    pairs = _offsets_rows(
        partials.collect(), _gkey, off_schema["_off"].dataType
    )
    offsets = spark.createDataFrame(
        [tuple([*(r[g] for g in group_cols), r["_pid"], off]) for r, off in pairs],
        off_schema,
    )
    w_in = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    # NULL-SAFE equi-join back: a list-of-names join uses null-unsafe
    # equality, so every row whose group key is NULL would match
    # nothing and be silently DROPPED from the output (the window
    # phases above treat NULL as an ordinary group value — the join
    # must too)
    off = offsets.select(
        *[F.col(g).alias(f"_og{i}") for i, g in enumerate(group_cols)],
        F.col("_pid").alias("_opid"),
        "_off",
    )
    cond = parts["_pid"] == off["_opid"]
    for i, g in enumerate(group_cols):
        cond = cond & parts[g].eqNullSafe(off[f"_og{i}"])
    out = parts.join(F.broadcast(off), cond).drop(
        "_opid", *[f"_og{i}" for i in range(len(group_cols))]
    )
    if cum_col is not None:
        out = out.withColumn(
            cum_col,
            F.col("_off")
            + F.sum(val).over(
                w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    if before_col is not None:
        out = out.withColumn(
            before_col,
            F.col("_off")
            + F.coalesce(
                F.sum(val).over(w_in.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
    return out.drop("_pid", "_off")


def global_ntile(
    df: DataFrame, order_cols: list, n_tiles: int, out_col: str
) -> DataFrame:
    """``df`` plus EXACT ``ntile(n_tiles)`` over the global
    ``order_cols`` total order — without the unpartitioned
    data-cardinality window the naive `ntile().over(Window.orderBy())`
    plans: the global rank comes from the two-phase cumsum of 1, and
    the tile index is the closed form of ntile's bucket sizing (the
    first n MOD t buckets take CEIL(n/t) rows, the rest FLOOR(n/t) —
    identical to Spark's and DuckDB's ntile). The row count n is the
    total mass from the cumsum's bounded partials collect — a free
    driver-side byproduct; the earlier max(_rnk) aggregate re-executed
    the whole ranked plan just for this scalar (q_rfm chains three
    global_ntile calls; the third re-ran two stacked cumsums for a
    count).

    Same single-task gate as :func:`global_cumsum`: under the size
    estimate this is literally ``ntile(n).over(Window.orderBy(...))``
    — Spark's ntile implements the identical bucket sizing the closed
    form replicates (same values, same INT type)."""
    if _fits_single_task(df):
        parts = tracked_persist(df)
        return parts.withColumn(
            out_col, F.ntile(n_tiles).over(Window.orderBy(*order_cols))
        )
    ranked, total = _global_cumsum_total(
        df, order_cols, F.lit(1), "_rnk", None
    )
    return (
        ranked.withColumn("_n", F.lit(int(total)).cast("long"))
        .withColumn("_q", F.expr(f"_n div {n_tiles}"))
        .withColumn("_r", F.expr(f"_n % {n_tiles}"))
        .withColumn("_big", F.expr("_r * (_q + 1)"))
        .withColumn(
            out_col,
            # CASE short-circuits per row, so the _q=0 (n < n_tiles)
            # case never evaluates the ELSE branch's div _q
            F.expr(
                "CAST(CASE WHEN _rnk <= _big THEN (_rnk - 1) div (_q + 1) + 1"
                " ELSE _r + (_rnk - _big - 1) div _q + 1 END AS INT)"
            ),
        )
        .drop("_rnk", "_n", "_q", "_r", "_big")
    )
