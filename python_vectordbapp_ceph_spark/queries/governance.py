"""Data-governance + serving-eval tier (round 8, I tier): the audits a
training-data platform runs before a corpus ships — privacy
(k-anonymity / l-diversity), graded retrieval quality (nDCG), dynamic
batching cost (padding waste under length bucketing), rank-stability
(Kendall pair counts), plus the two lakehouse layout capabilities the
format surface still lacked (ORC interchange, mergeSchema evolution).

Reference scope note: the reference app (s3vectors-app/
pythonvectordbceph.py) ships raw user text into a vector index with no
privacy gate, no retrieval-quality eval, and a single fixed parquet-less
layout; this tier is the surrounding governance a production deployment
of that pipeline needs, built Spark-first.

Same determinism discipline as every tier (queries/__init__.py):
integer/decimal arithmetic for unbounded reductions, integer ppm for
ratios, total-order tiebreaks, no logarithms AT QUERY TIME — the nDCG
log2 discount enters as a literal integer-ppm table shared verbatim by
both engines, so no engine ever evaluates a transcendental.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import register
from ..io import read_parquet
from ._common import T

# floor(1e6 / log2(i+1)) for ranks 1..10 and its running sum —
# precomputed constants, identical literals in the Spark plan and the
# DuckDB oracle (generated once by tools-side Python; neither engine
# computes a log).
_NDCG_W = [
    (1, 1000000, 1000000),
    (2, 630929, 1630929),
    (3, 500000, 2130929),
    (4, 430676, 2561605),
    (5, 386852, 2948457),
    (6, 356207, 3304664),
    (7, 333333, 3637997),
    (8, 315464, 3953461),
    (9, 301029, 4254490),
    (10, 289064, 4543554),
]
_NDCG_K = 10
_W_VALUES = ", ".join(f"({i}, {w}, {c})" for i, w, c in _NDCG_W)


# --- k-anonymity / l-diversity privacy audit -------------------------------


@register(
    "q_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS group_n,
           COUNT(DISTINCT c_acctbal) AS l_distinct,
           CAST(COUNT(*) < 10 AS INT) AS below_k
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit over the quasi-identifier (nationkey, mktsegment):
    per-QI equivalence-class size (k-anonymity — a class below k=10 is
    re-identifiable) and the count of distinct sensitive values in the
    class (l-diversity — a class where everyone shares one acctbal
    leaks the attribute even at large k). The gate a PII-bearing
    table must pass before joining a training corpus; complements
    q_pii_scrub (which removes surface forms, not linkage risk).

    ONE map-side-combinable hash aggregate; output is bounded by QI
    cardinality (nations × segments), never by rows — at 100 TB the
    plan is unchanged. COUNT(DISTINCT) shuffles (QI, acctbal) pairs,
    bounded by the distinct-domain size per class."""
    c = T(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("group_n"),
            F.countDistinct("c_acctbal").alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_n",
            "l_distinct",
            (F.col("group_n") < 10).cast("int").alias("below_k"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# --- nDCG@10 graded retrieval eval -----------------------------------------


@register(
    "q_ndcg",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < 8),
    w(i, w_ppm, cum_ppm) AS (VALUES {_W_VALUES}),
    d AS (SELECT q.q_id, q.q_label, e.vec_id, e.label,
                 round(sqrt(list_sum(list_transform(range(64),
                     i -> (e.v[i+1] - q.qv[i+1])
                        * (e.v[i+1] - q.qv[i+1])))), 6) AS dist
          FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
    r AS (SELECT q_id, q_label, label, dist,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY dist, vec_id) AS rnk
          FROM d),
    rel AS (SELECT q_id, COUNT(*) AS n_rel
            FROM d WHERE label = q_label GROUP BY q_id),
    dcg AS (SELECT r.q_id, SUM(w.w_ppm) AS dcg_ppm
            FROM r JOIN w ON r.rnk = w.i
            WHERE r.label = r.q_label AND r.rnk <= {_NDCG_K}
            GROUP BY r.q_id)
    SELECT q.q_id, q.q_label,
           COALESCE(rel.n_rel, 0) AS n_rel,
           COALESCE(dcg.dcg_ppm, 0) AS dcg_ppm,
           COALESCE(wc.cum_ppm, 0) AS idcg_ppm,
           CASE WHEN rel.n_rel IS NULL OR dcg.dcg_ppm IS NULL THEN 0
                ELSE (dcg.dcg_ppm * 1000000) // wc.cum_ppm
           END AS ndcg_ppm
    FROM q
    LEFT JOIN rel ON q.q_id = rel.q_id
    LEFT JOIN w wc ON wc.i = LEAST(rel.n_rel, {_NDCG_K})
    LEFT JOIN dcg ON q.q_id = dcg.q_id
    ORDER BY q.q_id
    """,
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the embedding space under same-label graded (binary)
    relevance — the companion to q_mrr_label that credits EVERY
    relevant hit in the window, position-discounted, not just the
    first. The log2 discount is a 10-row literal integer-ppm table
    (module constant _NDCG_W) joined on rank in BOTH engines, so the
    whole metric is exact integer arithmetic: dcg_ppm = Σ w_ppm over
    relevant hits, idcg_ppm = the running-sum column at
    min(n_rel, 10), ndcg = integral-div ppm ratio.

    Plan family = batch exact KNN (broadcast probe set × base scan,
    per-probe rank window partitioned by q_id); the discount and ideal
    tables enter as broadcast literal joins. At 100 TB the base side
    swaps for the IVF tier like q_filtered_knn; everything after the
    rank window is bounded by probes × 10."""
    from ..functions import vector as V

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    d = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            "label",
            F.round(V.l2_distance("v", "qv"), 6).alias("dist"),
        )
    )
    w_df = spark.createDataFrame(_NDCG_W, "i INT, w_ppm BIGINT, cum_ppm BIGINT")
    w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    r = d.select("q_id", "q_label", "label", F.row_number().over(w).alias("rnk"))
    rel = (
        d.filter(F.col("label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    dcg = (
        r.filter((F.col("label") == F.col("q_label")) & (F.col("rnk") <= _NDCG_K))
        .join(F.broadcast(w_df), F.col("rnk") == F.col("i"))
        .groupBy("q_id")
        .agg(F.sum("w_ppm").alias("dcg_ppm"))
    )
    ideal = F.broadcast(
        w_df.select(F.col("i").alias("_ik"), F.col("cum_ppm").alias("idcg_raw"))
    )
    return (
        q.select("q_id", "q_label")
        .join(rel, "q_id", "left")
        .join(ideal, F.least(F.col("n_rel"), F.lit(_NDCG_K)) == F.col("_ik"), "left")
        .join(dcg, "q_id", "left")
        .select(
            "q_id",
            "q_label",
            F.coalesce(F.col("n_rel"), F.lit(0)).alias("n_rel"),
            F.coalesce(F.col("dcg_ppm"), F.lit(0)).alias("dcg_ppm"),
            F.coalesce(F.col("idcg_raw"), F.lit(0)).alias("idcg_ppm"),
            # guard BEFORE the divide: `div 0` raises under ANSI
            F.when(
                F.col("n_rel").isNotNull() & F.col("dcg_ppm").isNotNull(),
                F.expr("(dcg_ppm * 1000000) div idcg_raw"),
            )
            .otherwise(F.lit(0))
            .alias("ndcg_ppm"),
        )
        .orderBy("q_id")
    )


# --- precision/recall@10 ---------------------------------------------------


@register(
    "q_precision_recall_at_k",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < 8),
    d AS (SELECT q.q_id, q.q_label, e.vec_id, e.label,
                 round(sqrt(list_sum(list_transform(range(64),
                     i -> (e.v[i+1] - q.qv[i+1])
                        * (e.v[i+1] - q.qv[i+1])))), 6) AS dist
          FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
    r AS (SELECT q_id, q_label, label,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY dist, vec_id) AS rnk
          FROM d),
    rel AS (SELECT q_id, COUNT(*) AS n_rel
            FROM d WHERE label = q_label GROUP BY q_id),
    hits AS (SELECT q_id, COUNT(*) AS hits_k
             FROM r WHERE label = q_label AND rnk <= {_NDCG_K}
             GROUP BY q_id)
    SELECT q.q_id, q.q_label,
           COALESCE(hits.hits_k, 0) AS hits_k,
           COALESCE(rel.n_rel, 0) AS n_rel,
           (COALESCE(hits.hits_k, 0) * 1000000) // {_NDCG_K}
               AS precision_ppm,
           CASE WHEN rel.n_rel IS NULL THEN 0
                ELSE (COALESCE(hits.hits_k, 0) * 1000000) // rel.n_rel
           END AS recall_ppm
    FROM q
    LEFT JOIN rel ON q.q_id = rel.q_id
    LEFT JOIN hits ON q.q_id = hits.q_id
    ORDER BY q.q_id
    """,
)
def q_precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@10 and recall@10 of the embedding space under
    same-label relevance — with q_mrr_label (first hit) and q_ndcg
    (position-discounted credit) this completes the standard ranked
    retrieval eval triple. Pure integer ppm: hits×1e6 div k and
    div n_rel, n_rel=0 guarded before the ANSI divide.

    Same batch-exact-KNN plan family as q_ndcg (broadcast probes ×
    base scan, per-probe rank window); everything past the window is
    bounded by probes."""
    from ..functions import vector as V

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    d = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            "label",
            F.round(V.l2_distance("v", "qv"), 6).alias("dist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    r = d.select("q_id", "q_label", "label", F.row_number().over(w).alias("rnk"))
    rel = (
        d.filter(F.col("label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    hits = (
        r.filter((F.col("label") == F.col("q_label")) & (F.col("rnk") <= _NDCG_K))
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("hits_k"))
    )
    return (
        q.select("q_id", "q_label")
        .join(rel, "q_id", "left")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            "q_label",
            F.coalesce(F.col("hits_k"), F.lit(0)).alias("hits_k"),
            F.coalesce(F.col("n_rel"), F.lit(0)).alias("n_rel"),
            F.expr(
                f"(COALESCE(hits_k, 0) * 1000000) div {_NDCG_K}"
            ).alias("precision_ppm"),
            F.when(
                F.col("n_rel").isNotNull(),
                F.expr("(COALESCE(hits_k, 0) * 1000000) div n_rel"),
            )
            .otherwise(F.lit(0))
            .alias("recall_ppm"),
        )
        .orderBy("q_id")
    )


# --- rank-biased overlap between two retrieval metrics ---------------------

# floor(1e6 · (1-p) · p^(d-1)) at p = 0.9, depths 1..10: exact decimal
# powers, identical literals in both engines (no pow() at query time).
_RBO_W = [
    (1, 100000),
    (2, 90000),
    (3, 81000),
    (4, 72900),
    (5, 65610),
    (6, 59049),
    (7, 53144),
    (8, 47829),
    (9, 43046),
    (10, 38742),
]
_RBO_MAX = sum(w for _, w in _RBO_W)  # perfect-agreement raw score
_RBO_VALUES = ", ".join(f"({d}, {w})" for d, w in _RBO_W)


@register(
    "q_rank_overlap",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
    d AS (SELECT q.q_id, e.vec_id,
                 round(1 - list_sum(list_transform(range(64),
                           i -> e.v[i+1] * q.qv[i+1]))
                     / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
                       6) AS cos_dist,
                 round(list_sum(list_transform(range(64),
                           i -> e.v[i+1] * q.qv[i+1])), 6) AS dot
          FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
    r AS (SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos_dist, vec_id) AS r_cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY dot DESC, vec_id) AS r_dot
          FROM d),
    both_top AS (SELECT q_id, GREATEST(r_cos, r_dot) AS m
                 FROM r WHERE r_cos <= 10 AND r_dot <= 10),
    w(d, w_ppm) AS (VALUES {_RBO_VALUES}),
    ov AS (SELECT b.q_id, w.d, COUNT(*) AS overlap_d
           FROM both_top b JOIN w ON w.d >= b.m
           GROUP BY b.q_id, w.d),
    terms AS (SELECT ov.q_id,
                     SUM((w.w_ppm * ov.overlap_d) // w.d) AS rbo_raw
              FROM ov JOIN w ON ov.d = w.d GROUP BY ov.q_id)
    SELECT q.q_id,
           COALESCE(terms.rbo_raw, 0) AS rbo_raw,
           (COALESCE(terms.rbo_raw, 0) * 1000000) // {_RBO_MAX}
               AS rbo_ppm
    FROM q LEFT JOIN terms ON q.q_id = terms.q_id
    ORDER BY q.q_id
    """,
)
def q_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, truncated at depth 10,
    p=0.9) between two rankings of the SAME candidate set — cosine
    distance vs raw dot product — per probe: the normalization-
    sensitivity diagnostic of a retrieval stack (unit-norm embeddings
    → rbo 1.0; divergence means vector norms carry ranking signal and
    the two ANN tiers will disagree). Like q_ndcg, the geometric
    weight (1-p)p^(d-1) enters as a 10-row literal integer-ppm table —
    no pow() at query time; overlap@d comes from one inequality join
    of the ≤10 both-top items against the depth table; per-depth terms
    floor identically in both engines; rbo_ppm normalizes by the
    perfect-agreement raw score.

    Plan: batch exact KNN twice over the SAME pairwise distances (two
    rank windows on one shuffle), then everything is bounded by
    probes × 10 × 10."""
    from ..functions import vector as V

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    d = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(V.cosine_distance("v", "qv"), 6).alias("cos_dist"),
            F.round(V.dot("v", "qv"), 6).alias("dot"),
        )
    )
    w_cos = Window.partitionBy("q_id").orderBy("cos_dist", "vec_id")
    w_dot = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), "vec_id")
    r = d.select(
        "q_id",
        "vec_id",
        F.row_number().over(w_cos).alias("r_cos"),
        F.row_number().over(w_dot).alias("r_dot"),
    )
    both = r.filter((F.col("r_cos") <= 10) & (F.col("r_dot") <= 10)).select(
        "q_id", F.greatest("r_cos", "r_dot").alias("m")
    )
    w_df = F.broadcast(spark.createDataFrame(_RBO_W, "d INT, w_ppm BIGINT"))
    ov = (
        both.join(w_df, F.col("d") >= F.col("m"))
        .groupBy("q_id", "d")
        .agg(F.count(F.lit(1)).alias("overlap_d"))
    )
    terms = (
        ov.join(w_df, "d")
        .groupBy("q_id")
        .agg(F.sum(F.expr("(w_ppm * overlap_d) div d")).alias("rbo_raw"))
    )
    return (
        q.select("q_id")
        .join(terms, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("rbo_raw"), F.lit(0)).alias("rbo_raw"),
            F.expr(
                f"(COALESCE(rbo_raw, 0) * 1000000) div {_RBO_MAX}"
            ).alias("rbo_ppm"),
        )
        .orderBy("q_id")
    )


# --- padding waste under length-bucketed dynamic batching ------------------


@register(
    "q_pad_waste",
    oracle="""
    WITH b AS (SELECT doc_id, n_chars, n_chars // 64 AS bucket
               FROM documents),
    r AS (SELECT bucket, n_chars,
                 (row_number() OVER (PARTITION BY bucket
                      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':pad'),
                               doc_id) - 1) // 32 AS batch_id
          FROM b),
    p AS (SELECT bucket, batch_id, COUNT(*) AS n_in_batch,
                 MAX(n_chars) AS max_chars, SUM(n_chars) AS used_chars
          FROM r GROUP BY bucket, batch_id)
    SELECT bucket,
           SUM(n_in_batch) AS n_docs,
           COUNT(*) AS n_batches,
           SUM(n_in_batch * max_chars) - SUM(used_chars) AS pad_chars,
           (  (SUM(n_in_batch * max_chars) - SUM(used_chars)) * 1000000)
              // SUM(n_in_batch * max_chars) AS pad_ppm
    FROM p GROUP BY bucket ORDER BY bucket
    """,
)
def q_pad_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching cost model: bucket documents by length band
    (64-char granularity), deal each bucket into deterministic
    batches of 32 (md5-shuffled, the q_shuffle_order convention), and
    report per-bucket padding waste — the fraction of batch tensor
    volume that is pad, the number a training team uses to pick
    bucket width vs batch size. All integer arithmetic; waste ppm by
    integral div.

    The per-bucket deal is the FEW-GROUPS-EACH-LARGE window regime:
    ~10 length buckets each holding O(n) docs, so a plain
    Window.partitionBy(bucket) row_number would put an O(n) slice on
    one task. Instead the rank comes from
    twophase.grouped_cumsum(of 1) — range-partitioned on (bucket,
    md5, id), per-(bucket, partition) masses, broadcast prefix
    offsets — every phase bounded by one partition's slice
    (plan-pinned in tests/test_governance.py). Everything after is a
    bounded hash aggregate (buckets × batches)."""
    from ..operators.twophase import grouped_cumsum

    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.expr("n_chars div 64").alias("bucket"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":pad"))).alias(
            "_key"
        ),
    )
    ranked = grouped_cumsum(
        docs, ["bucket"], [F.col("_key"), F.col("doc_id")], F.lit(1), "rn"
    )
    batched = ranked.withColumn("batch_id", F.expr("(rn - 1) div 32"))
    per_batch = batched.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_in_batch"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("used_chars"),
    )
    return (
        per_batch.groupBy("bucket")
        .agg(
            F.sum("n_in_batch").alias("n_docs"),
            F.count(F.lit(1)).alias("n_batches"),
            (
                F.sum(F.col("n_in_batch") * F.col("max_chars"))
                - F.sum("used_chars")
            ).alias("pad_chars"),
            F.expr(
                "(  (SUM(n_in_batch * max_chars) - SUM(used_chars)) * 1000000)"
                " div SUM(n_in_batch * max_chars)"
            ).alias("pad_ppm"),
        )
        .orderBy("bucket")
    )


# --- ORC interchange round-trip --------------------------------------------


@register(
    "q_orc_roundtrip",
    oracle="""
    SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + re-scan with predicate pushdown: write the documents
    metadata columns as ORC (the Hadoop-ecosystem interchange format
    parquet shops still receive from Hive/Trino pipelines), read the
    files back, and aggregate under a lang filter that ORC's
    reader serves from stripe/row-group statistics (PushedFilters
    plan-pinned in tests/test_governance.py). Completes the format
    matrix: parquet/JSON/CSV/text/binaryFile (C1) + ORC both
    directions. Text bytes stay out of the projection — the scan
    schema is the 4 metadata columns."""
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"orc_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").orc(out_dir)
    spark.catalog.refreshByPath(out_dir)
    back = spark.read.orc(out_dir)
    return (
        back.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source")
    )


# --- Kendall rank agreement over a bounded top-k ---------------------------


@register(
    "q_kendall_tau",
    oracle="""
    WITH agg AS (SELECT l_partkey,
                        SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
                        SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(1 - l_discount AS DECIMAL(18,2))) AS rev
                 FROM lineitem GROUP BY l_partkey),
    top AS (SELECT l_partkey, qty, rev FROM agg
            ORDER BY rev DESC, l_partkey LIMIT 100),
    pairs AS (SELECT CASE WHEN (a.qty - b.qty) * (a.rev - b.rev) > 0
                          THEN 1 ELSE 0 END AS conc,
                     CASE WHEN (a.qty - b.qty) * (a.rev - b.rev) < 0
                          THEN 1 ELSE 0 END AS disc
              FROM top a JOIN top b ON a.l_partkey < b.l_partkey)
    SELECT COUNT(*) AS n_pairs,
           SUM(conc) AS concordant,
           SUM(disc) AS discordant,
           SUM(conc) - SUM(disc) AS s_stat,
           CASE WHEN SUM(conc) >= SUM(disc) THEN 1 ELSE -1 END
             * ((ABS(SUM(conc) - SUM(disc)) * 1000000) // COUNT(*))
             AS tau_a_ppm
    FROM pairs
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a rank agreement between two per-part metrics
    (total quantity vs total revenue) over the top-100 parts by
    revenue — do the two rankings a curation step might sort by agree?
    Exact concordant/discordant pair counts; tau in integer ppm with
    the sign extracted BEFORE the integral division (Spark's `div`
    truncates toward zero while DuckDB's `//` floors, so negative
    quotients would diverge by one — abs/sign keeps both engines on
    identical magnitudes).

    Scale shape: the O(n²) pair stage runs on a BOUNDED input — the
    100-row TakeOrderedAndProject of a map-side-combinable aggregate —
    so the self-join is a broadcast of 100 rows (4950 pairs) no matter
    the corpus size. The decimal sums keep the aggregate exact and
    order-insensitive."""
    li = T(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
        ).alias("rev"),
    )
    top = agg.orderBy(F.col("rev").desc(), "l_partkey").limit(100)
    a = top.select(
        F.col("l_partkey").alias("pk_a"),
        F.col("qty").alias("qty_a"),
        F.col("rev").alias("rev_a"),
    )
    b = top.select(
        F.col("l_partkey").alias("pk_b"),
        F.col("qty").alias("qty_b"),
        F.col("rev").alias("rev_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("pk_a") < F.col("pk_b")).select(
        F.when(
            (F.col("qty_a") - F.col("qty_b")) * (F.col("rev_a") - F.col("rev_b"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            (F.col("qty_a") - F.col("qty_b")) * (F.col("rev_a") - F.col("rev_b"))
            < 0,
            1,
        )
        .otherwise(0)
        .alias("disc"),
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("conc").alias("concordant"),
        F.sum("disc").alias("discordant"),
        (F.sum("conc") - F.sum("disc")).alias("s_stat"),
        (
            F.when(F.sum("conc") >= F.sum("disc"), F.lit(1)).otherwise(F.lit(-1))
            * F.expr(
                "(ABS(SUM(conc) - SUM(disc)) * 1000000) div COUNT(*)"
            )
        ).alias("tau_a_ppm"),
    )


# --- mergeSchema evolution scan --------------------------------------------


@register(
    "q_schema_evolution",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           COUNT(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_with_lang
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: generation 1 of a corpus lands WITHOUT a
    `lang` column (even doc_ids), generation 2 adds it (odd doc_ids);
    a single mergeSchema read unifies both under the widest schema
    with nulls backfilled for the pre-evolution files — the
    add-a-column migration every long-lived corpus goes through,
    without rewriting generation 1. The aggregate proves per-source
    row counts survive and `lang` is populated exactly for the
    post-evolution half.

    At scale: mergeSchema's footer reconciliation is per-file
    metadata work; the data path stays columnar and the missing
    column materializes as nulls at scan, not via rewrite."""
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"schema_evo_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    docs = T(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "source", "n_chars"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "gen=1"))
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "n_chars", "lang"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "gen=2"))
    spark.catalog.refreshByPath(out_dir)
    back = read_parquet(
        spark,
        [os.path.join(out_dir, "gen=1"), os.path.join(out_dir, "gen=2")],
        mergeSchema="true",
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("lang").alias("n_with_lang"),
        )
        .orderBy("source")
    )
