"""Extended surface: explode/UDTF lateral shapes, grouped-agg pandas
UDF, catalog DDL, sink round-trip, modality dispatch (SURVEY §2.A2-A3,
A18, C2, C22, C32)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ..io import read_parquet
from ._common import T, dec2, widen


# --- C22 explode (posexplode = UDTF-shaped lateral) ------------------------

@register(
    "q_explode",
    oracle="""
    SELECT vec_id,
           generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings
    """,
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("pos"),  # 1-based like generate_subscripts
        F.col("val").cast("double").alias("val"),
    )


# --- C32 Python UDTF -------------------------------------------------------

@register(
    "q_udtf_tokens",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x != '') AS toks
               FROM documents)
    SELECT doc_id,
           unnest(toks) AS token,
           CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos
    FROM t
    """,
)
def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+) in a LATERAL join — one doc row in,
    one row per token out. The UDTF is the row-multiplying Python
    escape hatch; posexplode covers the same shape natively."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos int")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            for i, tok in enumerate(text.split()):
                yield tok, i

    spark.udtf.register("tokenize_udtf", Tokenize)
    T(spark, sf_dir, "documents").createOrReplaceTempView("_docs_for_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.pos
        FROM _docs_for_udtf d, LATERAL tokenize_udtf(d.text) t
        """
    )


# --- C32 grouped-agg pandas UDF --------------------------------------------

@register(
    "q_grouped_agg_udf",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_chars
    FROM documents GROUP BY lang
    """,
)
def q_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas_udf as a GROUPED_AGG aggregate expression (the UDAF
    surface) — integer sums are exact, so even the Python aggregate
    hash-matches SQL."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mean(v):
        return round(int(v.sum()) / len(v), 6)

    def _cnt(v):
        return len(v)

    # real annotation objects (PEP 563 string annotations are in force
    # in this module and pandas_udf can't infer GROUPED_AGG from them);
    # a grouped-agg pandas UDF can't mix with JVM aggregates in one
    # agg(), so the count is a pandas aggregate too
    _mean.__annotations__ = {"v": pd.Series, "return": float}
    _cnt.__annotations__ = {"v": pd.Series, "return": int}
    mean_chars = pandas_udf(_mean, "double")
    n_rows = pandas_udf(_cnt, "long")

    d = T(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        n_rows("n_chars").alias("n_docs"),
        mean_chars("n_chars").alias("mean_chars"),
    )


# --- A18 catalog / DDL -----------------------------------------------------

@register(
    "q_catalog_describe",
    oracle="""
    SELECT * FROM (VALUES
        ('doc_id', 'bigint'), ('text', 'string'), ('lang', 'string'),
        ('source', 'string'), ('n_chars', 'bigint')
    ) AS t(col_name, data_type)
    """,
)
def q_catalog_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe_collection analog (milvus-app/describe.py:11-13):
    register the view, DESCRIBE it, project (col_name, data_type)."""
    from ..catalog import describe_table

    T(spark, sf_dir, "documents").createOrReplaceTempView("_docs_for_describe")
    return describe_table(spark, "_docs_for_describe")


# --- C2 sink round-trip ----------------------------------------------------

@register(
    "q_sink_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + re-scan: write orders partitioned by
    status, read it back, aggregate — proves the write path preserves
    rows and the partition layout prunes on read. At scale partitionBy
    is the layout that turns status filters into directory pruning."""
    # per-(SF, process) path, overwritten each call: repeated calls in
    # one session don't accumulate copies, and CONCURRENT gate
    # processes (driver + local soak) can't overwrite each other's
    # files mid-read — a fixed path was a real observed flake
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"sink_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    o = T(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out_dir)
    spark.catalog.refreshByPath(out_dir)
    back = read_parquet(spark, out_dir)
    return back.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_vector_sink_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_vector_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER end-to-end: orders stream
    through the vector_put sink (two-phase commit — task-staged files,
    manifest-gated visibility; sources/vector_sink.py, mirroring the
    reference's put_vectors wire shape) and are read back and
    aggregated. Exact-oracle because the sink must preserve every row
    and value bit-for-bit through the JSONL round-trip. Per-(sf, pid)
    scratch dir, recreated per call — reruns can't double-append."""
    import shutil

    from ..sources.vector_sink import register_vector_sink

    register_vector_sink(spark)
    out = os.path.join(
        tempfile.gettempdir(),
        f"vecsink_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    shutil.rmtree(out, ignore_errors=True)
    o = T(spark, sf_dir, "orders")
    (
        o.select(
            F.col("o_orderkey").cast("string").alias("key"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        .write.format("vector_put")
        .option("path", out)
        .mode("append")
        .save()
    )
    # explicit schema (the sink's own wire shape, identical to what
    # inference derives): JSON schema inference is a FULL extra pass
    # over every committed file before the real read
    back = (
        spark.read.option("pathGlobFilter", "part_*.jsonl")
        .schema("key string, price double, status string")
        .json(out)
    )
    return back.groupBy(F.col("status").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias(
            "total"
        ),
    )


# --- partition-pruned MERGE (batch MERGE INTO equivalent) ------------------

@register(
    "q_merge_into",
    oracle="""
    SELECT o_orderkey, val FROM (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN -1.0 ELSE o_totalprice END AS val
        FROM orders WHERE o_orderkey % 7 <> 0
        UNION ALL SELECT 9999999, 42.0
    )
    """,
)
def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-base MERGE end-to-end: build the base from orders,
    apply updates (keys %10), deletes (keys %7) and one insert, read
    the merged result back. Only the touched hash buckets are
    rewritten on disk (operators/merge.py)."""
    from ..operators.merge import merge_into, read_base, write_bucketed_base

    o = T(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("val"),
        F.lit(0).cast("long").alias("ts"),
    )
    # per-process scratch for the same concurrent-gate reason as
    # q_sink_roundtrip above
    path = os.path.join(
        tempfile.gettempdir(),
        f"merge_q_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}", "base",
    )
    write_bucketed_base(base, path, "o_orderkey", n_buckets=16)
    spark.catalog.refreshByPath(path)

    # updates (keys %10, unless deleted) and deletes (keys %7) from a
    # SINGLE fact scan — a CASE over one filter, not two filtered
    # branches that each rescan orders
    upd_del = o.filter(
        (F.col("o_orderkey") % 10 == 0) | (F.col("o_orderkey") % 7 == 0)
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(0.0))
        .otherwise(F.lit(-1.0))
        .alias("val"),
        F.lit(1).cast("long").alias("ts"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    insert = spark.createDataFrame(
        [(9999999, 42.0, 1, "upsert")], "o_orderkey long, val double, ts long, op string"
    )
    changes = upd_del.unionByName(insert)
    merge_into(spark, path, changes, key_col="o_orderkey", ts_col="ts", n_buckets=16)
    return read_base(spark, path).select("o_orderkey", "val")


@register(
    "q_merge_time_travel",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS val FROM orders
    """,
)
def q_merge_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel on the manifest-committed merge base: run
    the same update/delete/insert MERGE as q_merge_into but with
    keep_history=True, then read VERSION 0 back — the pre-merge
    snapshot must equal the original base byte-for-byte even though
    the current version has rows updated, deleted, and inserted. This
    is the audit/reproducibility read every training-data pipeline
    wants ("what exactly did the corpus look like when run X
    trained?"), and it falls out of the commit protocol for free:
    versioned immutable manifests + retained generations
    (operators/merge.py). Reading v0 lists only the directories its
    manifest references; the v1 generation is invisible to it."""
    from ..operators.merge import merge_into, read_base, write_bucketed_base

    o = T(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("val"),
        F.lit(0).cast("long").alias("ts"),
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"merge_tt_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}", "base",
    )
    import shutil

    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    write_bucketed_base(base, path, "o_orderkey", n_buckets=16)
    changes = o.filter(
        (F.col("o_orderkey") % 10 == 0) | (F.col("o_orderkey") % 7 == 0)
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(0.0))
        .otherwise(F.lit(-1.0))
        .alias("val"),
        F.lit(1).cast("long").alias("ts"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    merge_into(
        spark, path, changes, key_col="o_orderkey", ts_col="ts",
        n_buckets=16, keep_history=True,
    )
    return read_base(spark, path, version=0).select("o_orderkey", "val")


# --- benchmark decontamination ---------------------------------------------

@register("q_decontaminate")
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split the corpus, then drop train docs near-duplicating eval
    docs (train→eval leakage). LSH stage → rows-only; the drop logic
    is pytest-verified on a constructed contamination case."""
    from ..operators.split import deterministic_split
    from ..pipelines import decontaminate

    d = deterministic_split(widen(T(spark, sf_dir, "documents")), "doc_id")
    clean = decontaminate(d, jaccard_threshold=0.8)
    return clean.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


# --- sequence packing (token-budget bin packing) ---------------------------

@register("q_pack_sequences")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget packing via applyInPandas over stable hash
    buckets (deterministic, but stateful-per-bucket → no SQL oracle;
    invariants are pytest-verified). Output: pack-level fill stats."""
    from ..functions.text import token_count_ws
    from ..operators.packing import pack_sequences, pack_stats

    d = T(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tokens")
    )
    packed = pack_sequences(d, budget=256, n_buckets=8)
    return pack_stats(packed, budget=256)


# --- deterministic train/valid/test split ----------------------------------

@register(
    "q_train_split",
    oracle="""
    SELECT split, COUNT(*) AS n_docs FROM (
        SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
                    ELSE 'test' END AS split
        FROM (SELECT ((((doc_id % 2147483648) + 2147483648) % 2147483648)
                      * 2654435761) % 4294967296 % 100 AS b
              FROM documents))
    GROUP BY split
    """,
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-stable 80/10/10 split: membership is a pure function of
    doc_id (randomSplit shifts rows when the partitioning changes —
    unusable for reproducible training corpora)."""
    from ..operators.split import deterministic_split

    d = T(spark, sf_dir, "documents")
    return deterministic_split(d, "doc_id").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "q_hash_uniformity",
    oracle="""
    WITH b AS (SELECT ((((o_orderkey % 2147483648) + 2147483648)
                       % 2147483648) * 2654435761) % 4294967296 % 100 AS b
               FROM orders),
    per AS (SELECT b, COUNT(*) AS cnt FROM b GROUP BY b),
    tot AS (SELECT SUM(cnt) AS n, COUNT(*) AS n_buckets FROM per)
    SELECT (SELECT n FROM tot) AS n,
           (SELECT n_buckets FROM tot) AS n_buckets,
           MIN(cnt) AS min_cnt,
           MAX(cnt) AS max_cnt,
           MAX(abs(cnt * 100 - (SELECT n FROM tot)) * 1000000
               // (SELECT n FROM tot)) AS max_dev_ppm
    FROM per
    """,
)
def q_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniformity audit of the Knuth hash bucketing every
    deterministic split/sample/fold rides on (q_train_split,
    q_weighted_sample, q_group_kfold): per-bucket occupancy over 100
    buckets plus the worst deviation from the uniform share in exact
    integer ppm — the acceptance check that the multiplicative hash
    isn't resonating with the key distribution (sequential keys are
    its classic failure mode). One hash aggregate to 100 bucket rows,
    then constant-size math; output is one row at any scale."""
    from ..operators.split import split_bucket

    o = T(spark, sf_dir, "orders")
    per = (
        o.select(split_bucket("o_orderkey", 100).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = per.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("n_buckets")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("n", "n_buckets")
        .agg(
            F.min("cnt").alias("min_cnt"),
            F.max("cnt").alias("max_cnt"),
            F.max(
                F.expr("abs(cnt * 100 - n) * 1000000 div n")
            ).alias("max_dev_ppm"),
        )
        .select("n", "n_buckets", "min_cnt", "max_cnt", "max_dev_ppm")
    )


# --- LLM training-data pipeline (composed plan, rows-only) -----------------

@register("q_training_pipeline")
def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel in one lazy plan: exact dedup → LSH
    near-dup removal (verified) → quality/language filter → token
    annotation → normalized-embedding join. Building it runs no Spark
    job beyond the parquet schema reads of its two tables: the drop
    list is anti-joined plainly (AQE picks broadcast or shuffle from
    its measured size), so all the work happens when the plan is acted
    on. Rows-only (LSH stage)."""
    from ..pipelines import prepare_training_corpus

    out = prepare_training_corpus(spark, sf_dir)
    return out.select(
        "doc_id", "lang_guess", "quality", "n_tokens",
        F.size(F.coalesce("embedding", F.array())).alias("emb_dim"),
    )


# --- B3 Milvus filter-expression grammar (driver-checked) ------------------

@register(
    "q_filter_expr_grammar",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'error')
      AND value > 100.0
      AND json_extract_string(props, '$.k') = '12'
      AND (value * 2.0 - 10.0) / 2.0 >= 95.0
      AND props IS NOT NULL
    """,
)
def q_filter_expr_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's boolean filter grammar (client.query/delete
    filter=..., milvus-app/pythonvectordbceph_milvus.py:109) compiled
    to a Catalyst Column by operators/filter_expr.py — JSON field
    access on a string column, arithmetic with precedence, and
    null checks, all of it one Catalyst predicate."""
    from ..operators.filter_expr import translate

    e = T(spark, sf_dir, "events")
    cond = translate(
        'event_type in ("click", "error") and value > 100.0'
        ' and props["k"] == "12"'
        " and (value * 2.0 - 10.0) / 2.0 >= 95.0"
        " and props is not null",
        e,
    )
    return e.filter(cond).select("event_id", "event_type", "value")


# --- C27 multimodal decode pipeline (stub kernels → rows-only) -------------

@register("q_multimodal_pipeline")
def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media → mapInPandas decode (deterministic fake kernels;
    real PIL/ffmpeg bodies are drop-in) → per-image checksum + feature
    dim. The Arrow batch plumbing, schemas and partitioning are the
    real production path."""
    from ..multimodal.binary import decode_image_batch, extract_image_features

    d = T(spark, sf_dir, "documents").limit(40)
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode("text", "utf-8").alias("content"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    decoded = decode_image_batch(media, deterministic_fake=True)
    feats = extract_image_features(media).select(
        "media_id", F.size("features").alias("feat_dim")
    )
    return decoded.join(feats, "media_id").select(
        "media_id", "height", "width", "channels", "pixel_sum", "feat_dim"
    )


# --- A1 event feed as a first-class Spark 4 Python DataSource --------------

@register("q_event_source")
def q_event_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom DataSource ("s3events"): the notification feed consumed
    as spark.read.format(...), partition-parallel. Synthetic generator
    stands in for RGW — rows-only (sha256-derived, no SQL mirror)."""
    from ..sources.event_source import register as register_source

    register_source(spark)
    ev = spark.read.format("s3events").option("n", 500).option("seed", 42).load()
    return ev.groupBy("bucket", "event_name").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# --- A2/A3 object fetch + type dispatch (stub models → rows-only) ----------

@register("q_type_dispatch")
def q_type_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A3: match OBJECT_TYPE → text/image pipeline
    (pythonvectordbceph.py:158-173), as filter-split + per-tower embed
    + unionByName. Modality synthesized from doc_id; unknown types
    surface with status='unsupported_type' instead of crashing."""
    from ..operators.dispatch import route_modalities

    d = T(spark, sf_dir, "documents").limit(60)
    media = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, "image")
        .when(F.col("doc_id") % 7 == 0, "audio")
        .otherwise("text")
        .alias("modality"),
        "text",
        F.encode("text", "utf-8").alias("content"),
    )
    routed = route_modalities(media)
    return routed.select(
        "doc_id", "modality", "status",
        F.coalesce(F.size("embedding"), F.lit(-1)).alias("emb_dim"),
    )


@register(
    "q_stratified_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang, source,
             ((((doc_id % 2147483648) + 2147483648) % 2147483648)
              * 2654435761) % 4294967296 % 100 AS bucket
      FROM documents)
    SELECT doc_id, lang, source
    FROM b
    WHERE bucket < (CASE WHEN lang = 'en' THEN 50 ELSE 10 END)
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified DETERMINISTIC sampling: per-language keep rates
    (50% en, 10% otherwise — the downsample-the-tail move every corpus
    mix applies) via the same Knuth-hash bucket as the train split.
    Membership is a pure function of doc_id — stable across runs,
    partitionings, and engines; df.sample() can guarantee none of
    that. Pure scan + filter: the predicate pushes to the scan."""
    from ..operators.split import split_bucket

    d = T(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(50)).otherwise(F.lit(10))
    return d.filter(split_bucket("doc_id") < rate).select(
        "doc_id", "lang", "source"
    )


@register(
    "q_decontaminate_exact",
    oracle="""
    WITH s AS (
        SELECT doc_id, source,
               list_distinct(string_split(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS sh,
               CASE WHEN ((((doc_id % 2147483648) + 2147483648) % 2147483648)
                          * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
                    WHEN ((((doc_id % 2147483648) + 2147483648) % 2147483648)
                          * 2654435761) % 4294967296 % 100 < 90 THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.split AS sp_a, b.split AS sp_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
                     6) AS jaccard
        FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id)
    SELECT CASE WHEN sp_a = 'train' THEN id_a ELSE id_b END AS train_id,
           CASE WHEN sp_a = 'train' THEN id_b ELSE id_a END AS eval_id,
           jaccard
    FROM p
    WHERE jaccard >= 0.6
      AND ((sp_a = 'train' AND sp_b = 'test') OR (sp_a = 'test' AND sp_b = 'train'))
    """,
)
def q_decontaminate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, exact tier — the hash-verified twin
    of q_decontaminate (whose LSH candidate stage is approximate by
    design): train docs whose exact token-set Jaccard vs an eval-split
    doc crosses the leakage threshold, with the (train, eval, score)
    evidence pairs as output. Same funnel order as the LSH path:
    split labels are tiny (id, split) columns joined onto the verified
    pairs — the heavy shingle arrays never meet the split join."""
    from ..operators.dedup import jaccard_pairs
    from ..operators.split import deterministic_split

    d = deterministic_split(T(spark, sf_dir, "documents"), "doc_id")
    pairs = jaccard_pairs(d, block_col="source", shingle_n=1, threshold=0.6)
    splits = d.select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("_ia"), F.col("split").alias("sp_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("_ib"), F.col("split").alias("sp_b")
    )
    joined = (
        pairs.join(sa, pairs["id_a"] == sa["_ia"])
        .join(sb, pairs["id_b"] == sb["_ib"])
        .filter(
            ((F.col("sp_a") == "train") & (F.col("sp_b") == "test"))
            | ((F.col("sp_a") == "test") & (F.col("sp_b") == "train"))
        )
    )
    return joined.select(
        F.when(F.col("sp_a") == "train", F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("train_id"),
        F.when(F.col("sp_a") == "train", F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("eval_id"),
        "jaccard",
    )


@register(
    "q_group_sample_n",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             ((((doc_id % 2147483648) + 2147483648) % 2147483648)
              * 2654435761) % 4294967296 AS h
      FROM documents),
    r AS (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
          FROM b)
    SELECT doc_id, lang, rn FROM r WHERE rn <= 5
    """,
)
def q_group_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-N deterministic sample per class (exactly 5 docs per
    language): rank by the Knuth multiplicative hash inside each
    group and keep the first 5 — reproducible across runs, layouts,
    and cluster sizes, unlike sample()/reservoir approaches. The
    window rides one shuffle on the class key; WindowGroupLimit
    prunes per-partition before the final sort at scale."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    h = (
        F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(2654435761)
    ) % F.lit(4294967296)
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


# --- deterministic weighted sampling ---------------------------------------

@register(
    "q_weighted_sample",
    oracle="""
    WITH w AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                     // 5000, 10000) AS thr,
               ((((o_orderkey % 2147483648) + 2147483648) % 2147483648)
                * 2654435761) % 4294967296 % 10000 AS b
        FROM orders
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_kept,
           CAST(SUM(price) AS DOUBLE) AS kept_value
    FROM w WHERE b < thr
    GROUP BY o_orderstatus
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling with DETERMINISTIC membership:
    keep-probability proportional to order value (price/500k, capped
    at 1), decided by comparing the row's Knuth hash bucket against an
    integer threshold derived from exact cent arithmetic — a pure
    function of the row, so the sample is identical across runs,
    engines, and partitionings (rand()-based sampling is none of
    those). This is the importance-sampling primitive for training-
    data mixes: upweight rare/valuable strata without a shuffle —
    the filter evaluates scan-side at any scale."""
    from ..operators.split import split_bucket

    o = T(spark, sf_dir, "orders")
    price = dec2("o_totalprice")
    cents = (price * 100).cast("long")
    thr = F.least(F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 5000"), F.lit(10000))
    return (
        o.select(
            "o_orderstatus",
            price.alias("_price"),
            split_bucket("o_orderkey", 10000).alias("_b"),
            thr.alias("_thr"),
        )
        .filter(F.col("_b") < F.col("_thr"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("_price").cast("double").alias("kept_value"),
        )
    )


# --- incremental view maintenance ------------------------------------------

@register(
    "q_incremental_view",
    oracle="""
    WITH contrib AS (
        SELECT o_custkey, 1 AS sign,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders
        UNION ALL
        SELECT o_custkey, 1, CAST(o_totalprice AS DECIMAL(18,2))
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_custkey, -1, CAST(o_totalprice AS DECIMAL(18,2))
        FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT o_custkey AS custkey,
           SUM(sign) AS cnt,
           CAST(SUM(sign * price) AS DOUBLE) AS total
    FROM contrib GROUP BY o_custkey HAVING SUM(sign) > 0
    """,
)
def q_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-maintained per-customer rollup end-to-end: materialize
    the view from orders, fold in an INSERT batch (keys %5, sign +1)
    and a RETRACTION batch (keys %3, sign -1) WITHOUT rescanning the
    base, read the result back. The oracle recomputes from scratch —
    incremental maintenance must be indistinguishable from a full
    rebuild. Each refresh shuffles only its delta and rewrites only
    the key buckets that delta touches (operators/incremental.py)."""
    from ..operators.incremental import apply_delta, init_agg_view, read_view

    o = T(spark, sf_dir, "orders")
    path = os.path.join(
        tempfile.gettempdir(),
        f"ivm_q_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}", "view",
    )
    init_agg_view(
        o.select(F.col("o_custkey").alias("custkey"), "o_totalprice"),
        ["custkey"], "o_totalprice", path, n_buckets=16,
    )
    inserts = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_custkey").alias("custkey"),
        "o_totalprice",
        F.lit(1).alias("sign"),
    )
    deletes = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_custkey").alias("custkey"),
        "o_totalprice",
        F.lit(-1).alias("sign"),
    )
    apply_delta(spark, path, inserts, ["custkey"], "o_totalprice", n_buckets=16)
    apply_delta(spark, path, deletes, ["custkey"], "o_totalprice", n_buckets=16)
    v = read_view(spark, path)
    return v.select("custkey", "cnt", F.col("total").cast("double").alias("total"))


# --- declarative data-quality report ---------------------------------------

@register(
    "q_data_quality",
    oracle="""
    SELECT 'not_null(o_custkey)' AS check,
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
               AS n_violations,
           (SELECT COUNT(*) FROM orders) AS n_rows
    UNION ALL
    SELECT 'in_range(o_totalprice)',
           (SELECT COUNT(*) FROM orders
            WHERE o_totalprice NOT BETWEEN 0 AND 1000000
               OR o_totalprice IS NULL),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'in_set(o_orderstatus)',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O', 'P')
               OR o_orderstatus IS NULL),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'matches(o_orderpriority)',
           (SELECT COUNT(*) FROM orders
            WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')
               OR o_orderpriority IS NULL),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'unique(o_orderkey)',
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'fk(o_custkey)',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           (SELECT COUNT(*) FROM orders)
    """,
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint verification as ONE query: four row-level rules and
    the uniqueness rule fold into a single scan + hash aggregate
    (conditional sums / count-distinct), unpivoted by stack() to a
    uniform report; referential integrity adds one broadcast anti-join
    count. One pass over the fact table per report, however many
    rules — the Deequ-style validation gate a training pipeline runs
    before accepting a drop of new data (operators/quality.py)."""
    from ..operators.quality import (
        in_range, in_set, matches, not_null, quality_report,
    )

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return quality_report(
        o,
        row_checks=[
            not_null("o_custkey"),
            in_range("o_totalprice", 0, 1000000),
            in_set("o_orderstatus", ["F", "O", "P"]),
            matches("o_orderpriority", "^[1-5]-"),
        ],
        unique_cols=["o_orderkey"],
        fk=("o_custkey", c, "c_custkey"),
    )


# --- Count-Min Sketch frequency estimation (rows-only) ---------------------

@register("q_cms_counts")  # hash-bucketed sketch → rows-only by design
def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimates for 20 probe keys over the
    lineitem part column — the point-frequency sketch completing the
    approximate family (HLL: distincts, freqItems: heavy hitters, CMS:
    per-key counts in depth×width space). The sketch builds in one
    map-side-combined aggregate, merges by counter addition (the
    roll-up property, like q_hll_union), and probes via broadcast
    join. Never-underestimate and exact-merge guarantees are
    pytest-pinned."""
    from ..operators.cms import cms_build, cms_estimate

    li = T(spark, sf_dir, "lineitem")
    sketch = cms_build(li, "l_partkey", depth=5, width=1024)
    probes = spark.range(1, 21).select(F.col("id").alias("l_partkey"))
    return cms_estimate(sketch, probes, "l_partkey", depth=5, width=1024)


@register("q_theta_intersect")  # KMV estimator → rows-only by design
def q_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta bottom-k sketch set algebra (operators/theta.py —
    Beyer et al. 2007, the Apache DataSketches theta construction):
    estimate the DISTINCT-USER overlap between 'click' and 'purchase'
    activity from two k=64 sketches — the intersection question HLL
    cannot answer (its union-only algebra needs inclusion-exclusion,
    which is exactly what the KMV estimator makes sound here). Every
    term is exact integer/decimal arithmetic over deterministic
    xxhash64 bottom-k sets, so the estimate reproduces bit-for-bit
    under any partitioning (pytest-pinned, with an accuracy bound vs
    exact and an exact-when-|set|<k fallback). Rows-only: an
    ESTIMATOR by design. Scale: sketches are ≤ k rows per set after
    one distinct + one WindowGroupLimit rank; the algebra after
    touches ≤ 2k rows — kilobytes at any corpus size, mergeable
    across batches like the HLL/CMS tiers."""
    from ..operators.theta import kmv_estimate, kmv_sketch, kmv_union

    K = 64
    e = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    sk = kmv_sketch(e, "event_type", "user_id", K)
    a = sk.filter(F.col("event_type") == "click")
    b = sk.filter(F.col("event_type") == "purchase")
    union = kmv_union(a, b, "event_type", K)
    ests = kmv_estimate(sk.unionByName(union), "event_type", K)
    wide = ests.groupBy().pivot(
        "event_type", ["click", "purchase", "_union_"]
    ).agg(F.first("est_distinct"))
    return wide.select(
        F.col("click").alias("est_click"),
        F.col("purchase").alias("est_purchase"),
        F.col("_union_").alias("est_union"),
        F.greatest(
            F.lit(0),
            F.col("click") + F.col("purchase") - F.col("_union_"),
        ).alias("est_intersect"),
    )


@register("q_bloom_decontaminate")  # bit-set sketch → rows-only by design
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: the benchmark set's normalized
    fingerprints become a bit-set sketch (operators/bloom.py); corpus
    rows whose fingerprint may be in the filter are dropped. NO false
    negatives means no contamination survives; false positives only
    over-drop (the safe direction for decontamination), at the rate
    the (k, m) sizing sets. This is the third tier of the decontam
    ladder — exact anti-join (q_decontaminate_exact) when the set
    fits a broadcast, LSH (q_decontaminate) for fuzzy overlap, Bloom
    when the reference set is huge but its BITS are not. Returns the
    per-source survivor counts."""
    from ..functions.text import fingerprint
    from ..operators.bloom import bloom_build, bloom_contains

    d = T(spark, sf_dir, "documents").withColumn("fp", fingerprint("text"))
    bench = d.filter(F.col("doc_id") % 10 == 0).select("fp")
    bloom = bloom_build(bench, "fp", k=5, m=8192)
    flags = bloom_contains(bloom, d.select("fp"), "fp", k=5, m=8192)
    survivors = d.join(flags, "fp").filter(~F.col("maybe_present"))
    return survivors.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


@register(
    "q_hist_sketch",
    oracle="""
    SELECT LEAST(63, GREATEST(0,
               CAST(floor(l_extendedprice / 1875.0) AS INTEGER))) AS bin,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY 1
    """,
)
def q_hist_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable histogram summary (operators/hist.py) as a
    driver-graded query: 64 equi-width bins over [0, 120000) of
    extended price — exact integer counts, one map-side-combined
    aggregate bounded by n_bins output rows. Shard histograms merge by
    bin addition and answer any quantile within one bin width
    (pytest-pinned); this is the materialize-once distribution summary
    a 100 TB profiling pass stores per partition."""
    from ..operators.hist import hist_build

    li = T(spark, sf_dir, "lineitem")
    return hist_build(li, "l_extendedprice", 0.0, 120000.0, 64)


@register(
    "q_hist_rollup",
    oracle="""
    WITH b AS (
        SELECT l_returnflag,
               LEAST(63, GREATEST(0,
                   CAST(floor(l_extendedprice / 1875.0) AS INTEGER))) AS bin
        FROM lineitem),
    per AS (SELECT l_returnflag, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2)
    SELECT l_returnflag, bin, cnt FROM per
    UNION ALL
    SELECT 'ALL' AS l_returnflag, bin, SUM(cnt) AS cnt
    FROM per GROUP BY bin
    """,
)
def q_hist_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram ROLLUP with exact arithmetic — the mergeable-summary
    contract as a driver-graded query: per-returnflag 64-bin histograms
    plus an ALL row built by MERGING the per-group histograms (bin
    addition over the ≤ groups×64-row summary table), NOT by
    rescanning lineitem. The scan happens once; the rollup reads
    kilobytes. q_hll_union shows the same shape for distincts
    (approximate, rows-only); integer bin counts make this one
    hash-exact. (Same bin addition operators/hist.py::hist_merge
    performs across shards, here expressed inline across groups.)"""
    li = T(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("double")
    b = F.least(
        F.lit(63),
        F.greatest(F.lit(0), F.floor(x / F.lit(1875.0)).cast("int")),
    )
    per = li.groupBy(F.col("l_returnflag"), b.alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    merged = (
        per.groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("ALL").alias("l_returnflag"), "bin", "cnt")
    )
    return per.unionByName(merged)


# --- exact distinct-user overlap (theta sketch's exact companion) ------------

@register(
    "q_user_overlap",
    oracle="""
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (SELECT event_type, COUNT(*) AS n_users FROM u GROUP BY event_type),
    p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 COUNT(*) AS overlap_n
          FROM u a JOIN u b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY a.event_type, b.event_type)
    SELECT p.type_a, p.type_b, na.n_users AS n_a, nb.n_users AS n_b,
           p.overlap_n,
           CAST(p.overlap_n * 1000000
                // (na.n_users + nb.n_users - p.overlap_n) AS BIGINT)
               AS jaccard_ppm
    FROM p JOIN n na ON p.type_a = na.event_type
           JOIN n nb ON p.type_b = nb.event_type
    ORDER BY p.type_a, p.type_b
    """,
)
def q_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user overlap + Jaccard for EVERY event-type pair
    — the exact-verify companion to q_theta_intersect (the registry's
    pattern: each estimator ships beside the exact query that grades
    it; the theta pytest's accuracy bound checks against exactly this
    click×purchase cell). Audience-overlap matrices are the
    cross-sell / cohort-contamination report a segmentation pipeline
    ships.

    Plan: one distinct on (type, user) — the only fact-scale shuffle —
    then a self-join keyed on user_id whose per-key fanout is bounded
    by the TYPE cardinality (≤ T rows per user → ≤ T² pair rows per
    user, a constant), then a pair-cardinality aggregate and two
    broadcast joins against the T-row per-type counts. No window, no
    unbounded intermediate; at 100 TB the distinct's partial
    aggregation does the heavy lifting map-side."""
    u = T(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    n = u.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a = u.select(F.col("event_type").alias("type_a"), "user_id")
    b = u.select(F.col("event_type").alias("type_b"), "user_id")
    p = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("overlap_n"))
    )
    return (
        p.join(
            F.broadcast(n.select(F.col("event_type").alias("type_a"),
                                 F.col("n_users").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(n.select(F.col("event_type").alias("type_b"),
                                 F.col("n_users").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "overlap_n",
            F.expr(
                "CAST(overlap_n * 1000000L div (n_a + n_b - overlap_n) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("type_a", "type_b")
    )
