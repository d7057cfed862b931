"""Typed parquet reads (io.read_parquet): a read whose schema is known
starts no schema-inference job, and the schema it uses is the one
inference would return.

Each test here fails if the session memo or a writer-recorded schema is
wrong: the pinned ``df.schema`` is compared with a fresh inference of
the same files, and reads that must infer (a rewritten table, another
application, a commit without a schema) are checked to do so.
"""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR, jobs_of, rows_set
from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark import io
from python_vectordbapp_ceph_spark.io import load_table, read_parquet
from python_vectordbapp_ceph_spark.operators import merge as M


def _inferred(spark, *paths, **options):
    """The schema Spark infers for ``paths``, bypassing the memo."""
    return spark.read.options(**options).parquet(*paths).schema


def _write_events(sf_dir, ts_type):
    """The fixture's events table re-encoded with ``ts`` as ``ts_type``
    (with pyarrow, as the test data itself is written)."""
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(ts_type))
    out = f"{sf_dir}/events.parquet"
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(out):
        os.remove(os.path.join(out, f))
    pq.write_table(t, f"{out}/part-0.parquet")
    return out


@pytest.mark.parametrize("ts_type", [pa.timestamp("ns"), pa.timestamp("us")],
                         ids=["nanos", "ntz"])
def test_load_table_memo_schema_equals_inferred(spark, tmp_path, ts_type):
    """Both encodings the testdata has shipped for ``events.ts``: the
    second load starts no job, and its pinned schema and rows equal
    those of an inferring read."""
    sf = str(tmp_path)
    path = _write_events(sf, ts_type)
    first, n_first = jobs_of(spark, lambda: load_table(spark, sf, "events"))
    second, n_second = jobs_of(spark, lambda: load_table(spark, sf, "events"))
    assert n_first >= 1 and n_second == 0
    raw = read_parquet(spark, path).schema
    assert raw == _inferred(spark, path)
    assert second.schema == first.schema
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert rows_set(second) == rows_set(first)


def test_rewrite_with_other_schema_infers_again(spark, tmp_path):
    """A table rewritten at the same path with ``ts`` in the other
    encoding changes the file listing, so the next load infers again
    and reads the new encoding correctly."""
    sf = str(tmp_path)
    path = _write_events(sf, pa.timestamp("ns"))
    before = rows_set(load_table(spark, sf, "events"))
    load_table(spark, sf, "events")
    _write_events(sf, pa.timestamp("us"))
    after, n = jobs_of(spark, lambda: load_table(spark, sf, "events"))
    assert n >= 1
    assert read_parquet(spark, path).schema == _inferred(spark, path)
    assert dict(spark.read.parquet(path).dtypes)["ts"] == "timestamp_ntz"
    assert rows_set(after) == before


def test_another_application_never_reuses_the_memo(spark, monkeypatch):
    """The memo key holds the applicationId: a second session (the
    ``--hostile`` oracle sweep runs one) infers for itself."""
    path = f"{SF_DIR}/orders.parquet"
    read_parquet(spark, path)
    _, warm = jobs_of(spark, lambda: read_parquet(spark, path))
    assert warm == 0
    monkeypatch.setattr(
        type(spark.sparkContext), "applicationId",
        property(lambda sc: "another-application"),
    )
    _, cold = jobs_of(spark, lambda: read_parquet(spark, path))
    assert cold >= 1


def test_memo_key_holds_the_inference_confs(spark):
    """A conf that changes what inference returns is part of the key:
    the same files read with binaryAsString flipped infer again."""
    path = f"{SF_DIR}/region.parquet"
    read_parquet(spark, path)
    _, warm = jobs_of(spark, lambda: read_parquet(spark, path))
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        _, flipped = jobs_of(spark, lambda: read_parquet(spark, path))
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert warm == 0 and flipped >= 1


def _rows(df):
    """Order-insensitive rows, maps included (rows_set needs hashable
    values)."""
    return sorted(repr(r) for r in df.collect())


def _base(spark, tmp_path):
    path = str(tmp_path / "base")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.array(F.col("id").cast("float")).alias("v"),
        F.create_map(F.lit("t"), F.col("id")).alias("m"),
        F.struct(F.col("id").cast("int").alias("x")).alias("s"),
        F.lit(0).cast("long").alias("ts"),
    )
    M.write_bucketed_base(df, path, "k", n_buckets=4)
    return path


def _dirs(spark, path):
    _, live = M.current_manifest(spark, path)
    return [f"{path}/gen={g}/_kb={b}" for b, g in sorted(live.items())]


def test_read_buckets_recorded_schema_equals_inferred(spark, tmp_path):
    """The commit records the staged data schema; read_buckets passes
    it back (no job) and it equals the inferred schema, nested
    nullability included, before and after a merge."""
    path = _base(spark, tmp_path)
    assert "schema" in M._read_commit(spark, path, 0)
    changes = spark.createDataFrame(
        [(3, [9.0], {"t": 9}, (9,), 1, "upsert"),
         (5, None, None, None, 1, "delete")],
        "k long, v array<float>, m map<string,bigint>, s struct<x:int>, "
        "ts long, op string",
    )
    M.merge_into(spark, path, changes, key_col="k", ts_col="ts", n_buckets=4)
    assert "schema" in M._read_commit(spark, path, 1)
    pinned, n = jobs_of(spark, lambda: M.read_buckets(spark, path))
    assert n == 0
    inferred = spark.read.option("basePath", path).parquet(
        *_dirs(spark, path)).drop("gen")
    assert pinned.schema == inferred.schema
    assert _rows(pinned) == _rows(inferred)


def test_commit_without_schema_field_still_reads(spark, tmp_path):
    """A legacy commit (no ``schema`` field) is read by inference, and
    the rows equal those of the recorded-schema read."""
    path = _base(spark, tmp_path)
    typed = _rows(M.read_base(spark, path))
    commit = f"{path}/_commits/{M._commit_file(0)}"
    with open(commit) as f:
        rec = json.load(f)
    del rec["schema"]
    with open(commit, "w") as f:
        json.dump(rec, f)
    crc = os.path.join(os.path.dirname(commit), f".{os.path.basename(commit)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with io._MEMO_LOCK:
        io._SCHEMA_MEMO.clear()
    legacy, n = jobs_of(spark, lambda: M.read_base(spark, path))
    assert n >= 1
    assert _rows(legacy) == typed


def test_generations_with_different_schemas_read_through_merge_schema(
    spark, tmp_path
):
    """An overwrite whose staged schema differs from the base's records
    no schema (the base then maps generations of two schemas), and
    read_buckets(merge_schema=True) null-backfills the new column."""
    path = _base(spark, tmp_path)
    _, live = M.current_manifest(spark, path)
    b = min(live)
    wider = (
        M.read_buckets(spark, path, [b])
        .withColumn("extra", F.lit("x"))
    )
    M.overwrite_touched_buckets(
        spark, path, wider.localCheckpoint(), [b], n_buckets=4
    )
    assert "schema" not in M._read_commit(spark, path, 1)
    df = M.read_buckets(spark, path, merge_schema=True)
    assert df.schema == spark.read.options(
        basePath=path, mergeSchema="true"
    ).parquet(*_dirs(spark, path)).drop("gen").schema
    got = {r.extra for r in df.select("extra").collect()}
    assert got == {"x", None}
    assert df.count() == 40


def test_schema_field_dropped_when_rebased_onto_other_schema(spark, tmp_path):
    """commit_optimistic keeps ``extra["schema"]`` only when the commit
    it lands on records the same schema."""
    path = _base(spark, tmp_path)
    cur = M._read_commit(spark, path, 0)["schema"]
    gen = M._gen_token(1)
    M.commit_optimistic(spark, path, 0, {99}, gen, [],
                        extra={"schema": cur.replace("long", "int")})
    assert "schema" not in M._read_commit(spark, path, 1)
    M.commit_optimistic(spark, path, 0, {98}, M._gen_token(2), [],
                        extra={"schema": cur})
    assert "schema" not in M._read_commit(spark, path, 2)


def test_load_ivf_pinned_schema_equals_inferred(spark, tmp_path):
    """The ``_meta`` sidecar records the layout's schema; load_ivf
    reads the sidecars and the layout with it, equal to inference."""
    from python_vectordbapp_ceph_spark.operators.ivf import (
        _META_SCHEMA,
        build_ivf,
        load_ivf,
        save_ivf,
    )

    df = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") + i) for i in range(4)]).alias("embedding"),
        F.concat(F.lit("t"), F.col("id")).alias("tag"),
    )
    root = str(tmp_path / "ivf")
    save_ivf(build_ivf(df, nlist=4, seed=1), root, record_curve=True,
             curve_queries=4)
    loaded, n = jobs_of(spark, lambda: load_ivf(spark, root))
    # the two sidecar collects; the layout itself is read without a job
    assert n == 2
    assert loaded.assigned.schema == _inferred(spark, f"{root}/assigned")
    assert _META_SCHEMA == _inferred(spark, f"{root}/assigned/_meta")
    assert loaded.curve


def test_shard_ledger_pinned_schema_equals_inferred(spark, tmp_path):
    """Same-schema appends record the ledger schema, read_ledger starts
    no inference job, and its schema equals the footer-merged one."""
    from python_vectordbapp_ceph_spark.operators.shards import (
        append_segment,
        read_ledger,
    )

    path = str(tmp_path / "ledger")
    for lo in (0, 30):
        docs = spark.range(lo, lo + 30).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
        )
        append_segment(spark, path, docs, budget=50)
    v, _ = M.current_manifest(spark, path)
    assert "schema" in M._read_commit(spark, path, v)
    ledger, n = jobs_of(spark, lambda: read_ledger(spark, path))
    assert n == 0
    inferred = spark.read.options(basePath=path, mergeSchema="true").parquet(
        *_dirs(spark, path)).drop("gen")
    assert M.read_buckets(spark, path, merge_schema=True).schema == inferred.schema
    assert ledger.count() == 60
