"""operators/twophase.py — the distributed global-cumsum primitive
must be value-identical to the naive single-partition window on any
input, ordering direction, and physical layout.

Round 15 added a single-task gate (small optimized-plan estimates take
a plain window instead of the two-phase machinery). The distributed
path's pins here run with the gate DISABLED so they keep covering the
at-scale plan; test_small_gate_* pin the two paths equal (values and
dtypes) and the conf switch itself."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_vectordbapp_ceph_spark.operators.twophase import (
    _SMALL_PLAN_CONF,
    _SMALL_PLAN_ENV,
    _fits_single_task,
    _small_plan_gate_bytes,
    global_cumsum,
)


@contextmanager
def _gate_bytes(spark, v):
    spark.conf.set(_SMALL_PLAN_CONF, str(v))
    try:
        yield
    finally:
        spark.conf.unset(_SMALL_PLAN_CONF)


def _naive(df, order_cols, val, cum_col=None, before_col=None):
    w = Window.orderBy(*order_cols)
    out = df
    if cum_col:
        out = out.withColumn(
            cum_col,
            F.sum(val).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    if before_col:
        out = out.withColumn(
            before_col,
            F.coalesce(
                F.sum(val).over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
    return out


def _mk(spark, n=997, parts=13):
    # deterministic pseudo-random values with repeated keys (ties must
    # be broken by the id column for a total order)
    return spark.range(n).repartition(parts).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(37)).alias("k"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100)) + 1).alias("v"),
    )


def test_matches_naive_ascending(spark):
    df = _mk(spark)
    got = {
        (r.id, r.cum, r.before)
        for r in global_cumsum(
            df, ["k", "id"], "v", cum_col="cum", before_col="before"
        ).collect()
    }
    want = {
        (r.id, r.cum, r.before)
        for r in _naive(df, ["k", "id"], F.col("v"), "cum", "before").collect()
    }
    assert got == want


def test_matches_naive_descending(spark):
    df = _mk(spark)
    order = [F.col("v").desc(), F.col("id")]
    got = {
        (r.id, r.cum)
        for r in global_cumsum(df, order, "v", cum_col="cum").collect()
    }
    want = {
        (r.id, r.cum)
        for r in _naive(df, order, F.col("v"), "cum").collect()
    }
    assert got == want


def test_layout_invariant(spark):
    """Same rows regardless of the input's physical partitioning."""
    a = global_cumsum(_mk(spark, parts=3), ["k", "id"], "v", cum_col="cum")
    b = global_cumsum(_mk(spark, parts=31), ["k", "id"], "v", cum_col="cum")
    assert {(r.id, r.cum) for r in a.collect()} == {
        (r.id, r.cum) for r in b.collect()
    }


def test_no_unpartitioned_data_window(spark):
    """The only unpartitioned window in the DISTRIBUTED plan is the
    prefix-offset one over per-partition partials (ordered by _pid) —
    pinned with the single-task gate disabled (gate=0 forces the
    at-scale path regardless of the test input's size)."""
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    with _gate_bytes(spark, 0):
        plan = explain_str(
            global_cumsum(_mk(spark), ["k", "id"], "v", cum_col="cum"),
            "simple",
        )
    for ln in plan.splitlines():
        if "Window [" in ln and "windowspecdefinition(_pid#" not in ln:
            assert "_pid#" in ln, ln  # the offsets window orders BY _pid


def test_global_ntile_matches_naive(spark):
    """Closed-form two-phase ntile == Spark's ntile window for every
    n mod t residue (uneven buckets) and for n < n_tiles."""
    from python_vectordbapp_ceph_spark.operators.twophase import global_ntile

    for n in (997, 996, 2, 40):
        df = _mk(spark, n=n)
        got = {
            (r.id, r.t)
            for r in global_ntile(df, ["v", "id"], 4, "t").collect()
        }
        want = {
            (r.id, r.t)
            for r in df.select(
                "id", F.ntile(4).over(Window.orderBy("v", "id")).alias("t")
            ).collect()
        }
        assert got == want, f"n={n}"


def test_global_ntile_no_unpartitioned_data_window(spark):
    from python_vectordbapp_ceph_spark.operators.twophase import global_ntile
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    with _gate_bytes(spark, 0):
        plan = explain_str(
            global_ntile(_mk(spark), ["v", "id"], 4, "t"), "simple"
        )
    for ln in plan.splitlines():
        if "Window [" in ln and "windowspecdefinition(_pid#" not in ln:
            assert "_pid#" in ln, ln  # the offsets window orders BY _pid


# --- round-15 single-task gate pins -----------------------------------------


def test_small_gate_paths_equal_global(spark):
    """Gated (single-task window) and distributed outputs must match in
    VALUES and DTYPES — including the decimal offset-type coercion."""
    from python_vectordbapp_ceph_spark.operators.twophase import (
        grouped_cumsum,
    )

    df = _mk(spark).withColumn("dv", (F.col("v") / 100).cast("decimal(18,2)"))
    for val in ("v", "dv"):
        with _gate_bytes(spark, 1 << 40):
            small = global_cumsum(
                df, ["k", "id"], val, cum_col="cum", before_col="pre"
            )
            small_rows = {
                (r.id, r.cum, r.pre) for r in small.collect()
            }
            small_types = dict(small.dtypes)
        with _gate_bytes(spark, 0):
            dist = global_cumsum(
                df, ["k", "id"], val, cum_col="cum", before_col="pre"
            )
            assert {(r.id, r.cum, r.pre) for r in dist.collect()} == small_rows
            assert dict(dist.dtypes) == small_types
    # grouped variant, with NULL group values
    g = df.withColumn(
        "grp", F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id") % 2)
    )
    with _gate_bytes(spark, 1 << 40):
        s = grouped_cumsum(g, ["grp"], ["id"], "dv", cum_col="c")
        s_rows = {(r.id, r.grp, r.c) for r in s.collect()}
        s_types = dict(s.dtypes)
        assert len(s_rows) == 997  # NULL-group rows survive the gate path
    with _gate_bytes(spark, 0):
        d = grouped_cumsum(g, ["grp"], ["id"], "dv", cum_col="c")
        assert {(r.id, r.grp, r.c) for r in d.collect()} == s_rows
        assert dict(d.dtypes) == s_types


def test_small_gate_paths_equal_ntile(spark):
    from python_vectordbapp_ceph_spark.operators.twophase import global_ntile

    for n in (997, 40, 2):
        df = _mk(spark, n=n)
        with _gate_bytes(spark, 1 << 40):
            s = global_ntile(df, ["v", "id"], 4, "t")
            s_rows = {(r.id, r.t) for r in s.collect()}
            s_types = dict(s.dtypes)
        with _gate_bytes(spark, 0):
            d = global_ntile(df, ["v", "id"], 4, "t")
            assert {(r.id, r.t) for r in d.collect()} == s_rows
            assert dict(d.dtypes) == s_types


def test_small_gate_conf_switch(spark):
    """gate=0 must plan the two-phase shape (repartitionByRange shows
    up as RangePartitioning); a huge gate must not."""
    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    df = _mk(spark)
    with _gate_bytes(spark, 0):
        dist_plan = explain_str(
            global_cumsum(df, ["k", "id"], "v", cum_col="cum"), "simple"
        )
    with _gate_bytes(spark, 1 << 40):
        small_plan = explain_str(
            global_cumsum(df, ["k", "id"], "v", cum_col="cum"), "simple"
        )
    assert "rangepartitioning" in dist_plan.lower()
    assert "rangepartitioning(_pid" not in small_plan.lower()
    assert "spark_partition_id" not in small_plan.lower()


def test_small_gate_bad_conf_override_raises(spark):
    """An unparsable conf override names itself instead of silently
    running the default 64 MiB gate."""
    with _gate_bytes(spark, "64MB"):
        with pytest.raises(ValueError, match=f"{_SMALL_PLAN_CONF}='64MB'"):
            _small_plan_gate_bytes(spark)


def test_small_gate_bad_env_override_raises(spark, monkeypatch):
    monkeypatch.setenv(_SMALL_PLAN_ENV, "lots")
    with pytest.raises(ValueError, match=f"{_SMALL_PLAN_ENV}='lots'"):
        _small_plan_gate_bytes(spark)
    monkeypatch.setenv(_SMALL_PLAN_ENV, "123")
    assert _small_plan_gate_bytes(spark) == 123


def _fact_dim_join(spark, dim_col="w"):
    """2000-row fact x 50-row dim: Catalyst's non-CBO join estimate
    (the product) misses a 200 000-byte gate, the leaf sum fits it."""
    fact = spark.range(2000).select(
        "id",
        F.pmod(F.col("id"), F.lit(50)).alias("k"),
        (F.col("id") % 7).alias("v"),
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias(dim_col)
    )
    return fact.join(dim, "k")


def test_small_gate_matches_node_classes_not_column_names(spark):
    """A column whose name contains a row-multiplying node's name
    (``Generated_w`` ⊃ ``Generate``) must not fail the leaf-sum
    fallback; a real Generate (explode) still does."""
    with _gate_bytes(spark, 200_000):
        assert _fits_single_task(_fact_dim_join(spark))
        assert _fits_single_task(_fact_dim_join(spark, "Generated_w"))
        exploded = _fact_dim_join(spark).select(
            "k", F.explode(F.array("v", "w")).alias("x")
        )
        assert not _fits_single_task(exploded)


def test_small_gate_rejects_expand(spark):
    """rollup/cube plan an Expand that emits one row per grouping set:
    the leaf-size sum is no upper bound there, so the gate must not
    accept it through the fallback."""
    with _gate_bytes(spark, 200_000):
        rolled = _fact_dim_join(spark).rollup("k", "v", "w").agg(
            F.count("*").alias("n")
        )
        assert not _fits_single_task(rolled)
