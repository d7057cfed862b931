"""Half-life decay over period-bucketed counts — the shared assembly
behind the batch recency aggregate (queries/analytics.py::
q_decay_halflife) and its streaming monitor (streaming/decay.py).

The decay factor 2^-(age/H) is discretized to whole half-lives and
applied as a power-of-two integer weight, so everything is exact
integer/decimal arithmetic (registry no-transcendentals rule). Here the
anchoring grain is the ABSOLUTE half-life bucket b = epoch_us div H
(vs the batch query's exact max-timestamp anchor): bucket-grain
anchoring is what makes the state MERGEABLE — a monitor keeps one
additive row per (series, bucket), re-weighting at read time, instead
of rewriting history as time advances. Weights saturate at 2^0 = 1
beyond ``cap`` half-lives (a pure cutoff would be discontinuous), so
the state horizon can be vacuumed past ``cap`` buckets without
changing any output by more than the saturated tail it drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 7-day half-life in epoch microseconds; cap keeps 1 << (cap - k)
# inside a BIGINT (matches queries/analytics.py's _HL_US/_HL_CAP)
HL_US = 7 * 86400 * 1_000_000
HL_CAP = 40


def decayed_bucket_totals(
    df: DataFrame,
    series_col: str = "event_type",
    bucket_col: str = "b",
    cnt_col: str = "cnt",
    total_col: str | None = None,
    cap: int = HL_CAP,
) -> DataFrame:
    """Fold per-(series, bucket) counts into per-series decayed sums,
    anchored at the newest bucket present. One broadcast scalar + one
    series-cardinality aggregate; input is state-sized (series ×
    buckets), never event-sized."""
    d38 = "decimal(38,0)"
    ref = df.agg(F.max(bucket_col).alias("_ref_b"))
    wt = F.expr(
        f"shiftleft(1L, {cap} - least(_ref_b - {bucket_col}, {cap}L))"
    )
    w = df.crossJoin(F.broadcast(ref)).withColumn("wt", wt)
    aggs = [
        F.sum(F.col(cnt_col)).alias("n_events"),
        F.sum(F.col("wt").cast(d38) * F.col(cnt_col)).alias("decayed_n"),
    ]
    if total_col is not None:
        aggs.append(
            F.sum(
                F.col("wt").cast(d38) * F.col(total_col).cast(d38)
            ).alias("decayed_value_micro")
        )
    return w.groupBy(series_col).agg(*aggs)
