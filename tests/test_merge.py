"""Partition-pruned MERGE: correctness + on-disk footprint (only
affected buckets rewritten; all-deleted buckets removed)."""

import os

from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.operators.merge import (
    merge_into,
    read_base,
    write_bucketed_base,
)

N_BUCKETS = 8


def _base_rows(spark):
    return spark.createDataFrame(
        [(f"k{i}", i * 10, 0) for i in range(40)], "key string, val long, ts long"
    )


def _manifest(path):
    """Parse the highest commit file directly (no Spark): the manifest
    IS the visibility point, so the tests assert through it."""
    import json

    cdir = os.path.join(path, "_commits")
    names = sorted(
        n for n in os.listdir(cdir) if n.startswith("v") and n.endswith(".json")
    )
    with open(os.path.join(cdir, names[-1])) as f:
        return json.load(f)


def _list_partition_files(path):
    """bucket dir -> files, resolved through the CURRENT manifest."""
    out = {}
    for b, g in _manifest(path)["buckets"].items():
        full = os.path.join(path, f"gen={g}", f"_kb={b}")
        out[f"_kb={b}"] = sorted(os.listdir(full))
    return out


def test_merge_correctness_and_footprint(spark, tmp_path):
    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    before = _list_partition_files(path)

    changes = spark.createDataFrame(
        [("k1", 111, 1, "upsert"),     # update
         ("k2", 0, 1, "delete"),       # delete
         ("new1", 999, 1, "upsert")],  # insert
        "key string, val long, ts long, op string",
    )
    touched = merge_into(spark, path, changes, key_col="key", ts_col="ts",
                         n_buckets=N_BUCKETS)
    assert 0 < len(touched) <= 3

    after = _list_partition_files(path)
    untouched = [d for d in before
                 if int(d.split("=")[1]) not in touched]
    assert untouched, "expected some buckets untouched"
    for d in untouched:  # identical files on disk
        assert before[d] == after[d]

    got = {(r.key, r.val) for r in read_base(spark, path).collect()}
    want = {(f"k{i}", i * 10) for i in range(40) if i not in (1, 2)}
    want |= {("k1", 111), ("new1", 999)}
    assert got == want


def test_merge_change_beats_base_on_ts_tie(spark, tmp_path):
    path = str(tmp_path / "base")
    spark_df = spark.createDataFrame([("a", 1, 5)], "key string, val long, ts long")
    write_bucketed_base(spark_df, path, "key", N_BUCKETS)
    changes = spark.createDataFrame(
        [("a", 2, 5, "upsert")], "key string, val long, ts long, op string"
    )
    merge_into(spark, path, changes, key_col="key", ts_col="ts", n_buckets=N_BUCKETS)
    assert [(r.key, r.val) for r in read_base(spark, path).collect()] == [("a", 2)]


def test_merge_empties_fully_deleted_bucket(spark, tmp_path):
    path = str(tmp_path / "base")
    one = spark.createDataFrame([("solo", 7, 0)], "key string, val long, ts long")
    write_bucketed_base(one, path, "key", N_BUCKETS)
    changes = spark.createDataFrame(
        [("solo", 0, 1, "delete")], "key string, val long, ts long, op string"
    )
    merge_into(spark, path, changes, key_col="key", ts_col="ts", n_buckets=N_BUCKETS)
    assert _manifest(path)["buckets"] == {}
    empty = read_base(spark, path, schema="key string, val long, ts long, _kb int")
    assert empty.count() == 0


def test_merge_files_per_bucket_multiplier(spark, tmp_path):
    """files_per_bucket=2 splits each bucket's rows across up to 2
    write tasks (2 files) so a giant bucket doesn't serialize through
    one task; data must round-trip identically."""
    path = str(tmp_path / "base")
    rows = spark.createDataFrame(
        [(f"k{i}", i, 0) for i in range(400)], "key string, val long, ts long"
    )
    write_bucketed_base(rows, path, "key", 4, files_per_bucket=2)
    files = _list_partition_files(path)
    parquet_counts = [
        len([f for f in fs if f.endswith(".parquet")]) for fs in files.values()
    ]
    assert max(parquet_counts) == 2, parquet_counts
    assert all(1 <= n <= 2 for n in parquet_counts), parquet_counts

    got = {(r.key, r.val) for r in read_base(spark, path).collect()}
    assert got == {(f"k{i}", i) for i in range(400)}

    # merge with the multiplier keeps correctness and the footprint contract
    changes = spark.createDataFrame(
        [("k1", -1, 1, "upsert"), ("k2", 0, 1, "delete")],
        "key string, val long, ts long, op string",
    )
    merge_into(spark, path, changes, key_col="key", ts_col="ts",
               n_buckets=4, files_per_bucket=2)
    got = {(r.key, r.val) for r in read_base(spark, path).collect()}
    want = {(f"k{i}", i) for i in range(400) if i not in (1, 2)} | {("k1", -1)}
    assert got == want


def test_merge_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir routes merge materialization through reliable
    checkpoints; result identical to the localCheckpoint path."""
    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    changes = spark.createDataFrame(
        [("k3", 333, 1, "upsert"), ("k4", 0, 1, "delete")],
        "key string, val long, ts long, op string",
    )
    merge_into(spark, path, changes, key_col="key", ts_col="ts",
               n_buckets=N_BUCKETS, checkpoint_dir=str(tmp_path / "ckpt"))
    got = {(r.key, r.val) for r in read_base(spark, path).collect()}
    want = {(f"k{i}", i * 10) for i in range(40) if i not in (3, 4)}
    want |= {("k3", 333)}
    assert got == want


def test_incremental_view_equals_full_recompute(spark, tmp_path):
    """A sequence of insert/retract batches folded into the view must
    be indistinguishable from recomputing the aggregate from the
    surviving base rows."""
    from pyspark.sql import functions as F
    from python_vectordbapp_ceph_spark.io import load_table
    from python_vectordbapp_ceph_spark.operators.incremental import (
        apply_delta, init_agg_view, read_view,
    )
    from conftest import SF_DIR, rows_set

    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    path = str(tmp_path / "ivm")
    init_agg_view(o, ["custkey"], "o_totalprice", path, n_buckets=8)

    live = o
    for mod, sign in [(4, 1), (3, -1), (5, -1)]:
        delta = o.filter(F.col("custkey") % mod == 0).withColumn(
            "sign", F.lit(sign)
        )
        apply_delta(spark, path, delta, ["custkey"], "o_totalprice", n_buckets=8)
        live = live.unionByName(delta.drop("sign")) if sign > 0 else live
    # expected = base + inserts(%4) - retractions(%3) - retractions(%5),
    # expressed as signed contributions
    contrib = (
        o.withColumn("sign", F.lit(1))
        .unionByName(o.filter(F.col("custkey") % 4 == 0).withColumn("sign", F.lit(1)))
        .unionByName(o.filter(F.col("custkey") % 3 == 0).withColumn("sign", F.lit(-1)))
        .unionByName(o.filter(F.col("custkey") % 5 == 0).withColumn("sign", F.lit(-1)))
    )
    want = (
        contrib.groupBy("custkey")
        .agg(
            F.sum("sign").alias("cnt"),
            F.sum(
                F.col("sign").cast("decimal(18,2)")
                * F.col("o_totalprice").cast("decimal(18,2)")
            ).cast("decimal(38,2)").alias("total"),
        )
        .filter(F.col("cnt") > 0)
    )
    got = read_view(spark, path)
    assert rows_set(got) == rows_set(want)


def test_incremental_view_footprint_is_delta_buckets(spark, tmp_path):
    """A single-key delta must rewrite exactly one bucket, and the
    other buckets' files must be untouched on disk."""
    import os
    from pyspark.sql import functions as F
    from python_vectordbapp_ceph_spark.io import load_table
    from python_vectordbapp_ceph_spark.operators.incremental import (
        apply_delta, init_agg_view,
    )
    from conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    path = str(tmp_path / "ivm_fp")
    init_agg_view(o, ["custkey"], "o_totalprice", path, n_buckets=8)

    def bucket_state():
        """bucket -> (generation, files, max mtime), manifest-resolved."""
        out = {}
        for b, g in _manifest(path)["buckets"].items():
            full = os.path.join(path, f"gen={g}", f"_kb={b}")
            parquets = [f for f in os.listdir(full) if f.endswith(".parquet")]
            out[f"_kb={b}"] = (
                g,
                sorted(parquets),
                max(os.path.getmtime(os.path.join(full, f)) for f in parquets),
            )
        return out

    before = bucket_state()
    one_key = o.limit(1).withColumn("sign", F.lit(1))
    touched = apply_delta(
        spark, path, one_key, ["custkey"], "o_totalprice", n_buckets=8
    )
    assert len(touched) == 1
    after = bucket_state()
    changed = {d for d in after if after[d] != before.get(d)}
    assert changed == {f"_kb={touched[0]}"}


def test_quality_report_detects_planted_violations(spark):
    """Each rule counts exactly the rows planted to violate it."""
    from python_vectordbapp_ceph_spark.operators.quality import (
        in_range, in_set, matches, not_null, quality_report,
    )

    rows = [
        (1, 10.0, "A", "ok-1"),
        (2, -5.0, "A", "ok-2"),      # range violation
        (3, 20.0, "Z", "ok-3"),      # set violation
        (None, 30.0, "B", "ok-4"),   # null violation
        (5, 40.0, "B", "bad"),       # regex violation
        (5, 50.0, "A", "ok-5"),      # duplicate key (with previous row)
        (9, 60.0, "A", "ok-6"),      # fk violation (9 not in dim)
    ]
    df = spark.createDataFrame(rows, "k int, v double, s string, t string")
    dim = spark.createDataFrame([(i,) for i in [1, 2, 3, 5]], "k int")
    rep = {
        r.check: (r.n_violations, r.n_rows)
        for r in quality_report(
            df,
            row_checks=[
                not_null("k"),
                in_range("v", 0, 100),
                in_set("s", ["A", "B"]),
                matches("t", "^ok-"),
            ],
            unique_cols=["k"],
            fk=("k", dim, "k"),
        ).collect()
    }
    assert rep["not_null(k)"] == (1, 7)
    assert rep["in_range(v)"] == (1, 7)
    assert rep["in_set(s)"] == (1, 7)
    assert rep["matches(t)"] == (1, 7)
    # 7 rows, 6 distinct non-null k... count_distinct ignores the null
    # row, so duplicates = 7 - 5 = 2 (the null and the repeated 5)
    assert rep["unique(k)"] == (2, 7)
    # anti-join on k: the null row never matches, so 9 and None both miss
    assert rep["fk(k)"] == (2, 7)


def test_incremental_view_initialized_on_empty_base(spark, tmp_path):
    """A view created BEFORE any data exists must be readable and
    delta-appendable: a partitioned write of an empty aggregate emits
    zero parquet files, so the schema sidecar is what keeps the view
    alive until the first delta arrives."""
    from python_vectordbapp_ceph_spark.operators.incremental import (
        apply_delta,
        init_agg_view,
        read_view,
    )

    empty = spark.createDataFrame([], "custkey long, price double")
    path = str(tmp_path / "view")
    init_agg_view(empty, ["custkey"], "price", path, n_buckets=8)
    assert read_view(spark, path).count() == 0

    delta = spark.createDataFrame(
        [(1, 10.0, 1), (1, 5.0, 1), (2, 7.0, 1)],
        "custkey long, price double, sign int",
    )
    touched = apply_delta(spark, path, delta, ["custkey"], "price", n_buckets=8)
    assert touched
    got = {
        r.custkey: (r.cnt, float(r.total))
        for r in read_view(spark, path).collect()
    }
    assert got == {1: (2, 15.0), 2: (1, 7.0)}


def test_merge_crash_before_publish_leaves_old_state(spark, tmp_path, monkeypatch):
    """Crash-atomicity: kill the merge AFTER the rewritten buckets are
    staged but BEFORE the manifest publish (the single visibility
    transition). The base must read back EXACTLY its old contents —
    never a mix — the staged generation must be invisible, and a
    retried merge must self-heal to exactly the new contents."""
    import python_vectordbapp_ceph_spark.operators.merge as M

    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    old = {(r.key, r.val) for r in read_base(spark, path).collect()}

    changes = spark.createDataFrame(
        [("k1", 111, 1, "upsert"), ("k2", 0, 1, "delete"),
         ("new1", 999, 1, "upsert")],
        "key string, val long, ts long, op string",
    )

    real_publish = M._try_publish

    def crash_publish(*a, **kw):
        raise RuntimeError("injected crash between stage and publish")

    # _try_publish is the single visibility transition every commit
    # route funnels through (fixed-version _publish AND the optimistic
    # rebase loop)
    monkeypatch.setattr(M, "_try_publish", crash_publish)
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        merge_into(spark, path, changes, key_col="key", ts_col="ts",
                   n_buckets=N_BUCKETS)

    # old state intact, staged v1 generation (unique token dir) invisible
    spark.catalog.refreshByPath(path)
    assert {(r.key, r.val) for r in read_base(spark, path).collect()} == old
    staged = [d for d in os.listdir(path) if d.startswith("gen=1-")]
    assert staged, "stage should exist"
    assert _manifest(path)["version"] == 0

    # retry self-heals: same generation recomputed, committed, visible
    monkeypatch.setattr(M, "_try_publish", real_publish)
    merge_into(spark, path, changes, key_col="key", ts_col="ts",
               n_buckets=N_BUCKETS)
    got = {(r.key, r.val) for r in read_base(spark, path).collect()}
    want = {(f"k{i}", i * 10) for i in range(40) if i not in (1, 2)}
    want |= {("k1", 111), ("new1", 999)}
    assert got == want
    assert _manifest(path)["version"] == 1


def test_merge_crash_mid_stage_then_vacuum(spark, tmp_path):
    """A partially-written staging directory (crash mid bucket writes)
    is invisible to readers and reclaimed by vacuum()."""
    from python_vectordbapp_ceph_spark.operators.merge import vacuum

    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    old = {(r.key, r.val) for r in read_base(spark, path).collect()}

    # simulate a crashed stage: orphan generation with partial buckets
    orphan = os.path.join(path, "gen=1", "_kb=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"torn write")

    spark.catalog.refreshByPath(path)
    assert {(r.key, r.val) for r in read_base(spark, path).collect()} == old

    assert vacuum(spark, path) == 1
    assert not os.path.exists(os.path.join(path, "gen=1"))
    # live data untouched
    assert {(r.key, r.val) for r in read_base(spark, path).collect()} == old


def test_merge_publish_race_first_writer_wins(spark, tmp_path):
    """Two writers publishing the same version: the second rename must
    fail loudly (first-writer-wins), never silently clobber."""
    import pytest

    from python_vectordbapp_ceph_spark.operators.merge import _publish

    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    _publish(spark, path, 1, {0: 1})
    with pytest.raises(RuntimeError, match="publish race"):
        _publish(spark, path, 1, {0: 1})
    assert _manifest(path)["buckets"] == {"0": 1}


def test_merge_time_travel_reads_pre_merge_snapshot(spark, tmp_path):
    """keep_history=True retains superseded generations: version 0
    must read back the exact pre-merge base while the current version
    shows the merged state; vacuum() then reclaims history and the
    current read is unaffected."""
    import pytest

    from python_vectordbapp_ceph_spark.operators.merge import vacuum

    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    old = {(r.key, r.val) for r in read_base(spark, path).collect()}

    changes = spark.createDataFrame(
        [("k1", 111, 1, "upsert"), ("k2", 0, 1, "delete"),
         ("new1", 999, 1, "upsert")],
        "key string, val long, ts long, op string",
    )
    merge_into(spark, path, changes, key_col="key", ts_col="ts",
               n_buckets=N_BUCKETS, keep_history=True)

    now = {(r.key, r.val) for r in read_base(spark, path).collect()}
    want = {(f"k{i}", i * 10) for i in range(40) if i not in (1, 2)}
    want |= {("k1", 111), ("new1", 999)}
    assert now == want
    # the snapshot: exactly the old rows
    v0 = {(r.key, r.val) for r in read_base(spark, path, version=0).collect()}
    assert v0 == old

    # vacuum reclaims the superseded generation; current state intact
    assert vacuum(spark, path) > 0
    spark.catalog.refreshByPath(path)
    assert {(r.key, r.val) for r in read_base(spark, path).collect()} == now
    with pytest.raises(Exception):
        read_base(spark, path, version=0).collect()


def test_merge_without_keep_history_drops_old_generation(spark, tmp_path):
    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    changes = spark.createDataFrame(
        [("k1", 111, 1, "upsert")], "key string, val long, ts long, op string"
    )
    touched = merge_into(spark, path, changes, key_col="key", ts_col="ts",
                         n_buckets=N_BUCKETS)
    # the touched bucket's gen=0-* dir is gone; untouched ones remain
    g0 = [d for d in os.listdir(path) if d.startswith("gen=0-")]
    assert len(g0) == 1
    assert not os.path.exists(
        os.path.join(path, g0[0], f"_kb={touched[0]}")
    )
    assert any(
        d.startswith("_kb=") for d in os.listdir(os.path.join(path, g0[0]))
    )


def test_merge_race_loser_cannot_clobber_winner(spark, tmp_path, monkeypatch):
    """Two merges computed from the same base version: the loser must
    not only fail its publish — its STAGED WRITE must not have touched
    a single byte of the winner's committed generation (round-7
    hazard: shared `gen=<G>` staging dirs let the loser's overwrite
    delete winner files the manifest already referenced)."""
    import pytest

    import python_vectordbapp_ceph_spark.operators.merge as M

    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    stale = M.current_manifest(spark, path)  # both writers read v0

    # writer A commits (keep_history so B's stale v0 read still works)
    merge_into(
        spark, path,
        spark.createDataFrame([("k1", 111, 1, "upsert")],
                              "key string, val long, ts long, op string"),
        key_col="key", ts_col="ts", n_buckets=N_BUCKETS, keep_history=True,
    )
    won = {(r.key, r.val) for r in read_base(spark, path).collect()}

    def file_state():
        out = {}
        for b, g in _manifest(path)["buckets"].items():
            full = os.path.join(path, f"gen={g}", f"_kb={b}")
            for f in sorted(os.listdir(full)):
                p = os.path.join(full, f)
                out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = file_state()

    # writer B still believes the base is at v0: pin its manifest reads.
    # Both writers touched k1's bucket, so the optimistic conflict
    # check fires (overlap = still single-winner).
    monkeypatch.setattr(M, "current_manifest",
                        lambda *a, **kw: stale)
    with pytest.raises(M.ConcurrentWriteConflictError, match="overlapping"):
        M.merge_into(
            spark, path,
            spark.createDataFrame([("k1", 222, 2, "upsert")],
                                  "key string, val long, ts long, op string"),
            key_col="key", ts_col="ts", n_buckets=N_BUCKETS,
        )
    monkeypatch.undo()

    # winner's committed files byte-for-byte untouched; reads unchanged
    assert file_state() == before
    spark.catalog.refreshByPath(path)
    assert {(r.key, r.val) for r in read_base(spark, path).collect()} == won
    # loser's unique staged dir is an unreferenced orphan -> vacuumed
    assert M.vacuum(spark, path) > 0
    assert {(r.key, r.val) for r in read_base(spark, path).collect()} == won


def test_describe_history_tracks_commits_and_retention(spark, tmp_path):
    """describe_history lists exactly the time-travelable versions with
    their widths; retention vacuum shrinks the listing to the window."""
    from python_vectordbapp_ceph_spark.operators.merge import (
        describe_history,
        merge_into,
        vacuum,
        write_bucketed_base,
    )

    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    for i in range(2):
        changes = spark.createDataFrame(
            [(f"k{i}", 1000 + i, i + 1, "upsert")],
            "key string, val long, ts long, op string",
        )
        merge_into(spark, path, changes, key_col="key", ts_col="ts",
                   n_buckets=N_BUCKETS, keep_history=True)

    hist = describe_history(spark, path).collect()
    assert [r.version for r in hist] == [0, 1, 2]
    assert all(r.n_buckets >= 1 and r.committed_at is not None for r in hist)

    vacuum(spark, path, keep_versions=2)
    hist2 = describe_history(spark, path).collect()
    assert [r.version for r in hist2] == [1, 2]


def test_merge_write_plan_has_one_kb_exchange(spark, tmp_path, monkeypatch):
    """files_per_bucket=1: the survivors reach the staged write still
    hash-partitioned on ``_kb`` from the resolve window's exchange, so
    the written plan holds exactly ONE shuffle exchange, on ``_kb``
    alone — a planner change that brings back the second alignment
    shuffle fails here."""
    import re

    from pyspark.sql.readwriter import DataFrameWriter

    from python_vectordbapp_ceph_spark.plans.inspect import explain_str

    path = str(tmp_path / "base")
    write_bucketed_base(_base_rows(spark), path, "key", N_BUCKETS)
    plans = []
    real_parquet = DataFrameWriter.parquet

    def spy(self, p, *a, **kw):
        if "/gen=" in str(p):
            plans.append(explain_str(self._df, "simple"))
        return real_parquet(self, p, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    changes = spark.createDataFrame(
        [("k1", 111, 1, "upsert"), ("k2", 0, 1, "delete")],
        "key string, val long, ts long, op string",
    )
    merge_into(spark, path, changes, key_col="key", ts_col="ts",
               n_buckets=N_BUCKETS, files_per_bucket=1)
    assert len(plans) == 1, plans
    exchanges = re.findall(r"(?<!\w)Exchange (\w+\([^)]*\))", plans[0])
    assert len(exchanges) == 1, plans[0]
    assert re.fullmatch(r"hashpartitioning\(_kb#\d+L?, \d+\)", exchanges[0]), (
        exchanges[0]
    )


# --- bucket-aligned staging: the within-bucket salt skips map columns ---


def test_files_per_bucket_multiplier_on_map_column(spark, tmp_path):
    """The within-bucket salt must not hash MapType columns (Spark
    rejects hash over maps) — collection-shaped tables are exactly the
    big tables the multiplier targets."""
    from python_vectordbapp_ceph_spark.operators.merge import (
        read_base,
        write_bucketed_base,
    )

    df = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.col("id").alias("val"),
        F.create_map(F.lit("a"), F.col("id").cast("string")).alias("tags"),
    )
    base = str(tmp_path / "base")
    write_bucketed_base(df, base, "key", n_buckets=4, files_per_bucket=2)
    assert read_base(spark, base).count() == 100


def test_bucket_aligned_handles_nested_map_columns(spark):
    from python_vectordbapp_ceph_spark.operators import merge as M

    df = spark.createDataFrame(
        [(i, f"k{i}", [{"a": str(i)}]) for i in range(20)],
        "id long, key string, tags array<map<string,string>>",
    )
    out = M._bucket_aligned(M._with_bucket(df, "key", 4), 4, 2)
    assert out.count() == 20  # analysis used to fail: HASH_MAP_TYPE


def test_bucket_aligned_handles_struct_nested_map(spark):
    from python_vectordbapp_ceph_spark.operators import merge as M

    df = spark.createDataFrame(
        [(i, f"k{i}", (i, {"a": "b"})) for i in range(10)],
        "id long, key string, meta struct<n:long,m:map<string,string>>",
    )
    out = M._bucket_aligned(M._with_bucket(df, "key", 4), 4, 2)
    assert out.count() == 10


def test_bucket_aligned_all_map_frame_random_salt(spark):
    """Every column map-bearing -> random-salt fallback still works."""
    from python_vectordbapp_ceph_spark.operators import merge as M

    df = spark.createDataFrame(
        [([{"a": str(i)}],) for i in range(10)],
        "tags array<map<string,string>>",
    ).withColumn("_kb", F.lit(0))
    assert M._bucket_aligned(df, 1, 2).count() == 10
