"""Corpus-mining surface (round 5): IR-style ranking, collocation
mining, information-loss-free diversity, winnowing fingerprints,
robust (median/MAD) outliers, and bucketed co-located joins.

Determinism notes (why these hash-match DuckDB exactly):
  - No logarithms anywhere. Spark's JVM ``Math.log`` differs from the
    oracle engine's libm ``ln`` in ~1% of double inputs (measured),
    so BM25 uses the raw odds idf and lift/Gini use exact integer
    ratios — each final score is a short, fixed-order chain of IEEE
    double ops that both engines execute identically.
  - Sums of doubles only ever have ≤2 addends (IEEE addition is
    commutative, just not associative) — longer reductions stay in
    integer/decimal space.
  - Rolling hashes are integer polynomial arithmetic mod 1e9+7,
    bit-identical across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ._common import T
from .textops import _TOKS_LOWER, _NORM_SQL

# BM25 constants (classic Robertson defaults)
_K1 = 1.2
_B = 0.75


# --- BM25 ranked keyword search --------------------------------------------

@register(
    "q_bm25_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    tf AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM dl),
    q AS (SELECT unnest(['query', 'scan']) AS term),
    hits AS (
        SELECT t.doc_id, t.term, t.tf, d.df, l.dl,
               s.n_docs, CAST(s.tot_dl AS DOUBLE) / s.n_docs AS avgdl
        FROM tfc t JOIN q USING (term)
        JOIN dfc d ON d.term = t.term
        JOIN dl l ON l.doc_id = t.doc_id
        CROSS JOIN stats s),
    scored AS (
        SELECT doc_id, COUNT(*) AS terms_hit,
               SUM( ((n_docs - df + 0.5) / (df + 0.5))
                    * ((tf * {_K1 + 1.0}) /
                       (tf + {_K1} * (1.0 - {_B} + {_B} * (dl / avgdl)))) )
                   AS score
        FROM hits GROUP BY doc_id)
    SELECT doc_id, terms_hit, round(score, 6) AS bm25
    FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked keyword search (the standard corpus-relevance
    primitive; the ranked twin of q_keyword_search's conjunctive
    form). Log-free variant: the idf factor is the raw Robertson odds
    (N-df+.5)/(df+.5) — monotone in the usual log idf, and exactly
    reproducible across engines (JVM log and libm log disagree at the
    ulp level; see module docstring). Plan shape: one shuffle builds
    the (doc,term) tf aggregate; the 2-term query filter broadcasts
    into it BEFORE the df/dl joins, so at 100 TB only the query
    terms' posting lists ever move — an inverted-index probe
    expressed declaratively. The disjunctive scored sum has ≤2
    addends (one per query term), so IEEE addition order cannot
    change the hash."""
    from ..cache import tracked_persist

    TERMS = ["query", "scan"]
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    base = d.select("doc_id", toks.alias("t"))
    dl = base.select("doc_id", F.size("t").alias("dl"))
    # query-term filter BEFORE the (doc, term) aggregate (r15, guide
    # §2.3): every downstream consumer joins tf to the query terms, so
    # the filter commutes with the aggregate — only the query terms'
    # posting rows ever reach the exchange (the inverted-index probe
    # the docstring promises), instead of aggregating the full
    # vocabulary and discarding it at the join
    tf = tracked_persist(
        base.select("doc_id", F.explode("t").alias("term"))
        .filter(F.col("term").isin(TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("tot_dl"),
    ).select(
        "n_docs",
        (F.col("tot_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    qterms = F.broadcast(
        spark.createDataFrame([(t,) for t in TERMS], "term string")
    )
    dfreq = (
        tf.join(qterms, "term").groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    hits = (
        tf.join(qterms, "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    # identical op order to the oracle: dl/avgdl → *B → (1-B)+ → *K1 → +tf
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    tfn = (F.col("tf") * F.lit(_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(_K1) * (F.lit(1.0 - _B) + F.lit(_B) * (F.col("dl") / F.col("avgdl")))
    )
    scored = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("terms_hit"),
        F.sum(idf * tfn).alias("score"),
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "terms_hit", F.round("score", 6).alias("bm25"))
    )


# --- Gini–Simpson lexical concentration ------------------------------------

@register(
    "q_token_gini",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents),
    tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    agg AS (SELECT doc_id, SUM(tf) AS n, SUM(tf * tf) AS sum_tf2,
                   COUNT(*) AS n_types
            FROM tfc GROUP BY doc_id)
    SELECT doc_id, n AS n_tokens, n_types,
           round(CAST(n * n - sum_tf2 AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
               AS gini_simpson
    FROM agg WHERE n > 0
    """,
)
def q_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini–Simpson lexical diversity 1 - Σp² per document — the
    entropy-family quality signal a training-data pipeline uses to
    drop degenerate/repetitive documents. Computed as the exact
    integer ratio (n² - Σtf²)/n², NOT as a float Σp² reduction: the
    integer sums are order-insensitive, so the value hashes
    identically under any partitioning (a float Σp² would depend on
    addition order). Two map-side-combinable aggregations, both keyed
    on doc_id — one shuffle reused by both groupBys."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tf = (
        d.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    agg = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n"),
        F.sum(F.col("tf") * F.col("tf")).alias("sum_tf2"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return agg.filter(F.col("n") > 0).select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "n_types",
        F.round(
            (F.col("n") * F.col("n") - F.col("sum_tf2")).cast("double")
            / (F.col("n") * F.col("n")).cast("double"),
            6,
        ).alias("gini_simpson"),
    )


# --- bigram collocation mining (lift) --------------------------------------

@register(
    "q_bigram_lift",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents),
    bp AS (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
           FROM toks WHERE len(t) >= 2),
    big AS (SELECT p[1] AS x, p[2] AS y FROM bp),
    n AS (SELECT COUNT(*) AS n_pairs FROM big),
    cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM big GROUP BY 1, 2),
    cx AS (SELECT x, COUNT(*) AS c_x FROM big GROUP BY 1),
    cy AS (SELECT y, COUNT(*) AS c_y FROM big GROUP BY 1)
    SELECT x, y, c_xy,
           round(CAST(c_xy * n_pairs AS DOUBLE) / CAST(c_x * c_y AS DOUBLE), 6)
               AS lift
    FROM cxy JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN n
    WHERE c_xy >= 3
    ORDER BY lift DESC, x, y LIMIT 20
    """,
)
def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top adjacent-token pairs by lift
    N·c(xy)/(c(x)·c(y)) — the log-free PMI (PMI = log lift, and log
    is monotone, so the ranking is PMI's). c(x)/c(y) count left/right
    occurrences over the bigram corpus, making the probability space
    self-consistent. All counts are exact integers; the single double
    division is identical in both engines. Plan: one explode pass
    emits bigrams; three map-side-combinable counts; the two unigram
    sides broadcast back onto the pair counts (they're vocab-sized,
    tiny next to the pair table at 100 TB)."""
    from ..cache import tracked_persist

    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    pairs = (
        d.select(toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS x,"
                    " element_at(t, i + 1) AS y))"
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
    )
    # ONE pass over the bigram stream (r15, guide §1.2): the marginal
    # counts and the total are exact rollups of the (x, y) counts —
    # three more full-stream aggregates collapse to vocab-sized ones
    # over the persisted pair-count table (same longs, same values);
    # the raw-pairs persist goes with them (cxy is its only consumer)
    cxy = tracked_persist(
        pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    )
    n = cxy.agg(F.sum("c_xy").alias("n_pairs"))
    cx = cxy.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    cy = cxy.groupBy("y").agg(F.sum("c_xy").alias("c_y"))
    return (
        cxy.filter(F.col("c_xy") >= 3)
        .join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(n))
        .select(
            "x",
            "y",
            "c_xy",
            F.round(
                (F.col("c_xy") * F.col("n_pairs")).cast("double")
                / (F.col("c_x") * F.col("c_y")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "x", "y")
        .limit(20)
    )


# --- winnowing document fingerprints ---------------------------------------

_FP_K = 5   # char k-gram width
_FP_W = 4   # winnowing window (hashes per window)
_FP_MOD = 1_000_000_007
_FP_BASE = 31
_FP_DF_CAP = 10  # fp document-frequency cap: rarity filter + hot-key bound


@register(
    "q_doc_fingerprint",
    oracle=f"""
    WITH nrm AS (SELECT doc_id, {_NORM_SQL} AS s FROM documents),
    h AS (SELECT doc_id,
                 list_transform(range(1, length(s) - {_FP_K - 2}),
                     i -> list_reduce(
                         list_prepend(0::BIGINT,
                             list_transform(range(i, i + {_FP_K}),
                                 j -> ascii(s[j])::BIGINT)),
                         (acc, c) -> (acc * {_FP_BASE} + c) % {_FP_MOD}))
                 AS hs
          FROM nrm WHERE length(s) >= {_FP_K}),
    w AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(hs) - {_FP_W - 2}),
                     i -> list_min(hs[i:i + {_FP_W - 1}]))) AS fps
          FROM h WHERE len(hs) >= {_FP_W})
    SELECT doc_id, unnest(fps) AS fp FROM w
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS algorithm): rolling polynomial hashes of char 5-grams over
    the normalized text, then the min hash of each 4-hash window,
    deduplicated. Guarantees any shared substring ≥ k+w-1 chars
    yields a shared fingerprint — the localized near-dup primitive
    that catches partial overlap which whole-document MinHash misses.
    Pure integer arithmetic mod 1e9+7 → bit-identical across engines.

    Normalization stays a JVM regexp; the per-char rolling-hash loop
    is the one kernel Catalyst can only run as interpreted lambda
    calls (measured 36 s for 500 short docs — and a naive two-Project
    form is worse still: CollapseProject inlines the hash array into
    every window-position lambda, going O(len²·k)). So the kernel is
    an Arrow-batched pandas UDF over numpy int64 (functions/
    fingerprint.py) — per-row O(len·k) vectorized, no shuffle until
    the output explode, embarrassingly parallel at 100 TB."""
    from ..functions.fingerprint import winnow_fingerprints
    from ..functions.text import normalize_for_fingerprint

    d = T(spark, sf_dir, "documents")
    # length ≥ k+w-1: exactly the winnowing noise threshold — shorter
    # docs have no full window and emit nothing in either engine.
    nrm = d.select(
        "doc_id", normalize_for_fingerprint(F.col("text")).alias("s")
    ).filter(F.length("s") >= _FP_K + _FP_W - 1)
    w = nrm.select("doc_id", winnow_fingerprints(F.col("s")).alias("fps"))
    return w.select("doc_id", F.explode("fps").alias("fp"))


# --- robust outliers: median / MAD -----------------------------------------

@register(
    "q_mad_outliers",
    oracle="""
    WITH r AS (
        SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events),
    med AS (SELECT event_type,
                   MIN(CASE WHEN rn * 2 >= n THEN v END) AS med
            FROM r GROUP BY event_type),
    dev AS (
        SELECT r.event_type, r.event_id, r.v, m.med,
               abs(r.v - m.med) AS ad,
               row_number() OVER (PARTITION BY r.event_type
                                  ORDER BY abs(r.v - m.med), r.event_id) AS rn2,
               COUNT(*) OVER (PARTITION BY r.event_type) AS n2
        FROM r JOIN med m USING (event_type)),
    mad AS (SELECT event_type,
                   MIN(CASE WHEN rn2 * 2 >= n2 THEN ad END) AS mad
            FROM dev GROUP BY event_type)
    SELECT d.event_type, d.event_id,
           CAST(d.v AS DOUBLE) AS value,
           CAST(d.med AS DOUBLE) AS med,
           CAST(d.ad AS DOUBLE) AS abs_dev
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND d.ad > 3 * m.mad
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median/MAD — immune to the
    masking that makes mean/stddev z-scores miss outliers when the
    outliers themselves inflate σ (q_outlier_zscore is the non-robust
    twin). Both medians are DISCRETE (smallest value with rank ≥ n/2,
    integer threshold arithmetic) so no interpolation float ops can
    diverge between engines; values stay DECIMAL(18,2) until output.
    Plan: one shuffle on event_type feeds the first rank window; the
    deviation pass reuses the same partitioning (no second exchange
    before its window); the per-group medians broadcast back."""
    from pyspark.sql.window import Window

    e = T(spark, sf_dir, "events")
    w1 = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    r = e.select(
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    med = r.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") * 2 >= F.col("n"), F.col("v"))).alias("med")
    )
    dev = r.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("v") - F.col("med"))
    )
    w2 = Window.partitionBy("event_type").orderBy("ad", "event_id")
    dev = dev.select(
        "*",
        F.row_number().over(w2).alias("rn2"),
        F.count(F.lit(1)).over(wc).alias("n2"),
    )
    mad = dev.groupBy("event_type").agg(
        F.min(F.when(F.col("rn2") * 2 >= F.col("n2"), F.col("ad"))).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.col("ad") > F.lit(3) * F.col("mad")))
        .select(
            "event_type",
            "event_id",
            F.col("v").cast("double").alias("value"),
            F.col("med").cast("double").alias("med"),
            F.col("ad").cast("double").alias("abs_dev"),
        )
    )


# --- bucketed co-located join ----------------------------------------------

@register(
    "q_bucketed_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spend
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed storage: both sides
    written `bucketBy(8, key)` + sorted, so Catalyst plans a
    sort-merge join with ZERO Exchange on either side (pytest pins
    the no-Exchange plan), and the following aggregate reuses the
    same clustering. This is THE 100 TB pattern for a fact table
    joined repeatedly on one key: pay the shuffle once at write time,
    never again at read time. Scratch tables are keyed on sf_dir ONLY
    (no pid) and overwritten in place: a fresh process's in-memory
    catalog doesn't know a dead process's tables, so pid-suffixed
    names accumulated orphaned parquet in the warehouse forever —
    stable names + an explicit dir cleanup make reruns idempotent."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    ct, ot = f"bj_customer_{tag}", f"bj_orders_{tag}"
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    hpath = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    for name, df, key in ((ct, c, "c_custkey"), (ot, o, "o_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # the DROP only covers tables THIS process created; a previous
        # process's orphaned managed-table dir would make saveAsTable
        # fail ("location already exists") — remove it explicitly
        p = hpath(f"{warehouse.rstrip('/')}/{name}")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
        if fs.exists(p):
            fs.delete(p, True)
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    cb, ob = spark.table(ct), spark.table(ot)
    return (
        cb.join(ob, cb["c_custkey"] == ob["o_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
        )
    )


# --- deterministic global shuffle (training-order assignment) --------------

@register(
    "q_shuffle_order",
    oracle="""
    SELECT doc_id,
           row_number() OVER (ORDER BY md5(doc_id || ':42'), doc_id)
               AS shuffle_rank
    FROM documents
    """,
)
def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: rank
    by md5(id:salt) — reproducible across engines, runs, and
    partitionings (unlike rand(seed), whose stream depends on row
    order within partitions). The salt re-deals the deck per epoch
    without touching the data.

    A global rank CANNOT be one unpartitioned row_number() window —
    Spark executes that on a single partition (range partitioning
    applies to global SORTS, not windows), which caps the operator at
    one task's memory. Instead the classic two-phase distributed
    rank: range-repartition on the shuffle key, per-partition partial
    counts, broadcast prefix offsets, within-partition running count.
    Since r15 this query rides operators/twophase.py::global_cumsum of
    1 (the generalization of the inline rank it pioneered in r6):
    identical values and LONG type, one shared implementation — and it
    inherits the single-task gate (at bench scale the whole rank is a
    plain window; at 100 TB the distributed phases are unchanged)."""
    from ..operators.twophase import global_cumsum

    d = T(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    ranked = global_cumsum(
        d.select("doc_id", key.alias("_k")),
        ["_k", "doc_id"],
        F.lit(1),
        cum_col="shuffle_rank",
    )
    return ranked.select("doc_id", "shuffle_rank")


# --- fingerprint-overlap near-dup pairs ------------------------------------

@register(
    "q_fingerprint_pairs",
    oracle=f"""
    WITH nrm AS (SELECT doc_id, {_NORM_SQL} AS s FROM documents),
    h AS (SELECT doc_id,
                 list_transform(range(1, length(s) - {_FP_K - 2}),
                     i -> list_reduce(
                         list_prepend(0::BIGINT,
                             list_transform(range(i, i + {_FP_K}),
                                 j -> ascii(s[j])::BIGINT)),
                         (acc, c) -> (acc * {_FP_BASE} + c) % {_FP_MOD}))
                 AS hs
          FROM nrm WHERE length(s) >= {_FP_K + _FP_W - 1}),
    w AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(hs) - {_FP_W - 2}),
                     i -> list_min(hs[i:i + {_FP_W - 1}]))) AS fps
          FROM h),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM w),
    rare AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {_FP_DF_CAP}),
    rfp AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*) AS shared_fps
    FROM rfp a JOIN rfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    """,
)
def q_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by winnowing-fingerprint overlap:
    docs sharing ≥3 RARE fingerprints share ≥3 distinct ≥8-char
    substrings that almost no one else has — the LOCAL-overlap
    near-dup detector (MinHash sees whole-doc similarity; this
    catches a paragraph copied into an otherwise different document).

    The document-frequency cap (fp kept only if ≤{_FP_DF_CAP} docs
    contain it) is both the signal filter AND the scale guard: a
    fingerprint of a boilerplate phrase appears in thousands of docs
    and would contribute a quadratic hot key to the self-join —
    df-pruning bounds every join group at {_FP_DF_CAP}, so the pair
    fan-out is ≤ df_cap²/2 per fingerprint no matter the corpus size
    (the similarity-self-join equivalent of skew salting, except the
    hot keys carry no signal and can simply be dropped). Plan: one
    Arrow-kernel fingerprint explode (persisted ×2), a map-side
    combinable df count, broadcast-joined back as the rare filter,
    then the bounded self-join + pair aggregate. Exact integer
    arithmetic end-to-end → full oracle, unlike probabilistic MinHash
    candidates (rows-only by construction)."""
    from ..cache import tracked_persist
    from ..functions.fingerprint import winnow_fingerprints
    from ..functions.text import normalize_for_fingerprint

    d = T(spark, sf_dir, "documents")
    nrm = d.select(
        "doc_id", normalize_for_fingerprint(F.col("text")).alias("s")
    ).filter(F.length("s") >= _FP_K + _FP_W - 1)
    fp = tracked_persist(
        nrm.select(
            "doc_id", F.explode(winnow_fingerprints(F.col("s"))).alias("fp")
        )
    )
    rare = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= _FP_DF_CAP)
        .select("fp")
    )
    rfp = tracked_persist(fp.join(rare, "fp"))
    a = rfp.select(F.col("doc_id").alias("id_a"), "fp")
    b = rfp.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )


# --- per-document fluency (mean bigram association) ------------------------

@register(
    "q_doc_fluency",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents),
    bp AS (SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
           FROM toks WHERE len(t) >= 2),
    big AS (SELECT doc_id, p[1] AS x, p[2] AS y FROM bp),
    n AS (SELECT COUNT(*) AS n_pairs FROM big),
    cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM big GROUP BY 1, 2),
    cx AS (SELECT x, COUNT(*) AS c_x FROM big GROUP BY 1),
    cy AS (SELECT y, COUNT(*) AS c_y FROM big GROUP BY 1),
    scored AS (
        SELECT b.doc_id,
               CAST(round(CAST(c.c_xy * n.n_pairs AS DOUBLE)
                          / CAST(cx.c_x * cy.c_y AS DOUBLE), 6)
                    AS DECIMAL(28,6)) AS lift
        FROM big b
        JOIN cxy c ON c.x = b.x AND c.y = b.y
        JOIN cx ON cx.x = b.x
        JOIN cy ON cy.y = b.y
        CROSS JOIN n)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(lift) AS DOUBLE) AS sum_lift
    FROM scored GROUP BY doc_id
    """,
)
def q_doc_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency: the mean corpus-lift of the doc's
    adjacent token pairs — token-salad and shuffled/generated text
    scores near 1 (independence), natural text well above. The
    per-pair lift rounds to 6 and sums as DECIMAL(28,6): a double sum
    over a document's bigrams would be addition-order-dependent (and
    so partitioning-dependent); the decimal sum is exact and
    order-insensitive. The query emits (sum, count), not the mean: a
    rounded mean hits half-way ties where the engines' final double
    division can differ by an ulp and flip the 6th decimal (observed
    at sf0.01) — the exact sum has no rounding boundary, and the
    caller divides. Plan: the
    bigram stream is persisted once and feeds all three count
    aggregates; the unigram/pair count tables broadcast back onto it
    (vocab-sized); the per-doc mean groups on doc_id — the stream's
    natural clustering."""
    from ..cache import tracked_persist

    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    big = tracked_persist(
        d.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS x,"
                    " element_at(t, i + 1) AS y))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.x", "p.y")
    )
    # marginals/total as rollups of the persisted pair counts (r15,
    # guide §1.2): one pass over the doc-bigram stream instead of four
    # — cxy feeds cx, cy, n AND the scored broadcast (same long counts)
    cxy = tracked_persist(
        big.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    )
    n = cxy.agg(F.sum("c_xy").alias("n_pairs"))
    cx = cxy.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    cy = cxy.groupBy("y").agg(F.sum("c_xy").alias("c_y"))
    lift = F.round(
        (F.col("c_xy") * F.col("n_pairs")).cast("double")
        / (F.col("c_x") * F.col("c_y")).cast("double"),
        6,
    ).cast("decimal(28,6)")
    scored = (
        big.join(F.broadcast(cxy), ["x", "y"])
        .join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(n))
        .select("doc_id", lift.alias("lift"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lift").cast("double").alias("sum_lift"),
    )


# --- keyset pagination ------------------------------------------------------

@register(
    "q_keyset_page",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey > 1000
    ORDER BY o_orderkey
    LIMIT 50
    """,
)
def q_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination: WHERE key > last_seen ORDER BY key
    LIMIT n — the scalable page-N pattern. OFFSET pagination reads and
    discards every preceding row (page 10 000 of a 100 TB table scans
    10 000 pages); the keyset predicate is a pushed-down range filter,
    so each page is a pruned scan + TakeOrderedAndProject regardless
    of page depth. The predicate reaches the parquet reader
    (PushedFilters: GreaterThan(o_orderkey, 1000))."""
    o = T(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") > 1000)
        .orderBy("o_orderkey")
        .limit(50)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --- snapshot diff (dataset regression testing) ----------------------------

@register(
    "q_table_diff",
    oracle="""
    WITH now AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 11 <> 0
        UNION ALL SELECT 9999991, 1.0 UNION ALL SELECT 9999992, 2.0
    ),
    was AS (SELECT o_orderkey, o_totalprice AS price FROM orders),
    d AS (
        SELECT COALESCE(w.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN w.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN w.price <> n.price THEN 'changed'
                    ELSE 'same' END AS change
        FROM was w FULL OUTER JOIN now n ON w.o_orderkey = n.o_orderkey
    )
    SELECT change, COUNT(*) AS n
    FROM d WHERE change <> 'same' GROUP BY change
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the dataset-regression primitive (did the
    pipeline rerun change anything it shouldn't?): FULL OUTER JOIN of
    two table versions on the key classifies every row added /
    removed / changed. The 'new' snapshot is derived deterministically
    from orders (updates %13, deletes %11, two inserts) so the oracle
    replays the identical derivation. At scale both sides shuffle once
    on the key (or co-located bucketed snapshots skip even that —
    q_bucketed_join's layout), and the value comparison extends to
    N columns with a hash over struct(*) instead of one field."""
    o = T(spark, sf_dir, "orders")
    was = o.select("o_orderkey", F.col("o_totalprice").alias("price"))
    now = (
        o.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")).alias("price"),
        )
        .unionByName(
            spark.createDataFrame(
                [(9999991, 1.0), (9999992, 2.0)], "o_orderkey long, price double"
            )
        )
    )
    w = was.select(
        F.col("o_orderkey").alias("_wk"), F.col("price").alias("_wp")
    )
    n = now.select(
        F.col("o_orderkey").alias("_nk"), F.col("price").alias("_np")
    )
    d = w.join(n, w["_wk"] == n["_nk"], "full_outer").select(
        F.when(F.col("_wk").isNull(), F.lit("added"))
        .when(F.col("_nk").isNull(), F.lit("removed"))
        .when(F.col("_wp") != F.col("_np"), F.lit("changed"))
        .otherwise(F.lit("same"))
        .alias("change")
    )
    return (
        d.filter(F.col("change") != "same")
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- hybrid search: dense KNN + BM25, reciprocal-rank fusion ---------------

@register(
    "q_hybrid_rrf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    tf AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM dl),
    q AS (SELECT unnest(['query', 'scan']) AS term),
    hits AS (
        SELECT t.doc_id, t.tf, d.df, l.dl,
               s.n_docs, CAST(s.tot_dl AS DOUBLE) / s.n_docs AS avgdl
        FROM tfc t JOIN q USING (term)
        JOIN dfc d ON d.term = t.term
        JOIN dl l ON l.doc_id = t.doc_id
        CROSS JOIN stats s),
    scored AS (
        SELECT doc_id,
               SUM( ((n_docs - df + 0.5) / (df + 0.5))
                    * ((tf * {_K1 + 1.0}) /
                       (tf + {_K1} * (1.0 - {_B} + {_B} * (dl / avgdl)))) )
                   AS score
        FROM hits GROUP BY doc_id),
    tr AS (SELECT doc_id, rt FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rt
        FROM scored) WHERE rt <= 50),
    ev AS (SELECT vec_id AS doc_id,
                  round(sqrt(list_sum(list_transform(
                      list_transform(embedding, x -> CAST(x AS DOUBLE)),
                      x -> (x - 0.1) * (x - 0.1)))), 6) AS d
           FROM embeddings),
    vr AS (SELECT doc_id, rv FROM (
        SELECT doc_id, row_number() OVER (ORDER BY d, doc_id) AS rv
        FROM ev) WHERE rv <= 50),
    fused AS (
        SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, tr.rt, vr.rv,
               (CASE WHEN tr.rt IS NULL THEN 0.0
                     ELSE 1.0 / (60.0 + tr.rt) END
                + CASE WHEN vr.rv IS NULL THEN 0.0
                       ELSE 1.0 / (60.0 + vr.rv) END) AS rrf
        FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
    SELECT doc_id, rt AS text_rank, rv AS vec_rank, round(rrf, 6) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dense+sparse retrieval with reciprocal-rank fusion —
    the modern vector-DB query the reference's Milvus backend ships as
    hybrid_search(RRFRanker): BM25 keyword ranking and exact-KNN
    vector ranking fused by Σ 1/(60+rank). RRF needs only RANKS, so
    the two retrievers stay independent (no score normalization — the
    classic hybrid-search pitfall) and the fusion sum has exactly two
    addends (IEEE-order-safe). Plan: the text side is the BM25
    posting-probe (one fact shuffle); BOTH top-50 candidate cuts are
    orderBy().limit() — TakeOrderedAndProject, per-partition top-k
    then a k-row merge, so no unpartitioned ranking window ever sees
    the full input — and row_number only ranks the ≤50 survivors.
    At scale either side swaps for its ANN tier (IVF/BQ/SQ8) without
    touching the fusion."""
    from pyspark.sql.window import Window

    from ..cache import tracked_persist
    from ..functions import vector as V
    from .vector import QVEC

    TERMS = ["query", "scan"]
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    base = d.select("doc_id", toks.alias("t"))
    dl = base.select("doc_id", F.size("t").alias("dl"))
    # query-term filter BEFORE the (doc, term) aggregate (r15, guide
    # §2.3): every downstream consumer joins tf to the query terms, so
    # the filter commutes with the aggregate — only the query terms'
    # posting rows ever reach the exchange (the inverted-index probe
    # the docstring promises), instead of aggregating the full
    # vocabulary and discarding it at the join
    tf = tracked_persist(
        base.select("doc_id", F.explode("t").alias("term"))
        .filter(F.col("term").isin(TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_dl")
    ).select(
        "n_docs",
        (F.col("tot_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    qterms = F.broadcast(
        spark.createDataFrame([(t,) for t in TERMS], "term string")
    )
    dfreq = tf.join(qterms, "term").groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    tfn = (F.col("tf") * F.lit(_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(_K1) * (F.lit(1.0 - _B) + F.lit(_B) * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(qterms, "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tfn).alias("score"))
    )
    # TakeOrderedAndProject cut first; the ranking window then runs
    # over ≤50 rows (single tiny partition — fine), never the corpus
    wt = Window.orderBy(F.col("score").desc(), "doc_id")
    tr = (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(50)
        .select("doc_id", F.row_number().over(wt).alias("rt"))
    )
    e = T(spark, sf_dir, "embeddings")
    qarr = V.vector_literal(QVEC)
    ev = e.select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            V.l2_distance(F.col("embedding").cast("array<double>"), qarr), 6
        ).alias("d"),
    )
    wv = Window.orderBy("d", "doc_id")
    vr = (
        ev.orderBy("d", "doc_id")
        .limit(50)
        .select("doc_id", F.row_number().over(wv).alias("rv"))
    )
    t_ = tr.select(F.col("doc_id").alias("_tk"), "rt")
    v_ = vr.select(F.col("doc_id").alias("_vk"), "rv")
    fused = t_.join(v_, t_["_tk"] == v_["_vk"], "full_outer").select(
        F.coalesce(F.col("_tk"), F.col("_vk")).alias("doc_id"),
        "rt",
        "rv",
        (
            F.when(F.col("rt").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(60.0) + F.col("rt"))
            )
            + F.when(F.col("rv").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(60.0) + F.col("rv"))
            )
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.col("rt").alias("text_rank"),
            F.col("rv").alias("vec_rank"),
            F.round("rrf", 6).alias("rrf"),
        )
    )


# --- domain-mixture resampling ---------------------------------------------

@register(
    "q_domain_mixture",
    oracle="""
    WITH sz AS (SELECT source, COUNT(*) AS n_s, SUM(n_chars) AS len_s
                FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_s) AS n_total, SUM(len_s) AS len_total FROM sz),
    rates AS (
        SELECT sz.source,
               LEAST(100, (50 * (sz.len_s // sz.n_s))
                          // (tot.len_total // tot.n_total)) AS rate_pct
        FROM sz CROSS JOIN tot),
    b AS (
      SELECT d.doc_id, d.source, r.rate_pct,
             ((((d.doc_id % 2147483648) + 2147483648) % 2147483648)
              * 2654435761) % 4294967296 % 100 AS bucket
      FROM documents d JOIN rates r ON r.source = d.source)
    SELECT doc_id, source FROM b WHERE bucket < rate_pct
    """,
)
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling — the static corpus-reweighting move
    (the simplified DoReMi/pile-mixing primitive): each source's keep
    rate scales with a per-source quality proxy (mean doc length vs
    the corpus mean, anchored at 50%), capped at 100%; membership is
    the deterministic Knuth-hash bucket of doc_id. All rate
    arithmetic is INTEGER floor division, so both engines compute
    identical per-source rates; membership is a pure function of
    doc_id — stable across runs, partitionings, and engines, which
    df.sample() cannot promise. Plan: one map-side-combinable
    (count,sum) aggregate per source (tiny — one row per source),
    rates broadcast back onto the scan, then a pure pushed-down
    filter; the corpus is never shuffled."""
    from ..operators.split import split_bucket

    d = T(spark, sf_dir, "documents")
    sz = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("n_chars").alias("len_s")
    )
    tot = sz.agg(
        F.sum("n_s").alias("n_total"), F.sum("len_s").alias("len_total")
    )
    # `div` = true integer division on longs (no double round-trip —
    # a float quotient landing a hair above an integer would truncate
    # differently than the oracle's `//` floor)
    rates = sz.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(100).cast("long"),
            F.expr("(50 * (len_s div n_s)) div (len_total div n_total)"),
        ).alias("rate_pct"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(split_bucket("doc_id") < F.col("rate_pct"))
        .select("doc_id", "source")
    )


# --- SQL API entry (spark.sql over registered views) -----------------------

@register(
    "q_sql_api",
    oracle="""
    SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entrypoint: io.register_views publishes every
    table as a temp view and the query is literal ANSI SQL through
    spark.sql() — proving a reference user can bring raw SQL, not
    just the DataFrame API, and Catalyst compiles both to the same
    plan (this is TPC-H Q6's predicate set; the DataFrame twin is
    q_tpch_q6). Decimal-exact revenue aggregation, filters pushed to
    the scan, identical oracle text modulo dialect."""
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01'
          AND l_shipdate < TIMESTAMP '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


# --- hybrid search: WeightedRanker fusion -----------------------------------

@register(
    "q_hybrid_weighted",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    tf AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM dl),
    q AS (SELECT unnest(['query', 'scan']) AS term),
    hits AS (
        SELECT t.doc_id, t.tf, d.df, l.dl,
               s.n_docs, CAST(s.tot_dl AS DOUBLE) / s.n_docs AS avgdl
        FROM tfc t JOIN q USING (term)
        JOIN dfc d ON d.term = t.term
        JOIN dl l ON l.doc_id = t.doc_id
        CROSS JOIN stats s),
    scored AS (
        SELECT doc_id,
               round(SUM( ((n_docs - df + 0.5) / (df + 0.5))
                    * ((tf * {_K1 + 1.0}) /
                       (tf + {_K1} * (1.0 - {_B} + {_B} * (dl / avgdl)))) ),
                     6) AS s
        FROM hits GROUP BY doc_id),
    tr AS (SELECT doc_id, s FROM scored ORDER BY s DESC, doc_id LIMIT 50),
    tstat AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM tr),
    tn AS (SELECT doc_id,
                  CASE WHEN mx = mn THEN 1.0
                       ELSE (s - mn) / (mx - mn) END AS ns
           FROM tr CROSS JOIN tstat),
    ev AS (SELECT vec_id AS doc_id,
                  round(sqrt(list_sum(list_transform(
                      list_transform(embedding, x -> CAST(x AS DOUBLE)),
                      x -> (x - 0.1) * (x - 0.1)))), 6) AS d
           FROM embeddings),
    vtop AS (SELECT doc_id, d FROM ev ORDER BY d, doc_id LIMIT 50),
    vr AS (SELECT doc_id, round(1.0 / (1.0 + d), 6) AS sv FROM vtop),
    vstat AS (SELECT MIN(sv) AS mn, MAX(sv) AS mx FROM vr),
    vn AS (SELECT doc_id,
                  CASE WHEN mx = mn THEN 1.0
                       ELSE (sv - mn) / (mx - mn) END AS nv
           FROM vr CROSS JOIN vstat),
    fused AS (
        SELECT COALESCE(tn.doc_id, vn.doc_id) AS doc_id,
               round(0.7 * COALESCE(ns, 0.0)
                     + 0.3 * COALESCE(nv, 0.0), 6) AS fused
        FROM tn FULL OUTER JOIN vn ON tn.doc_id = vn.doc_id)
    SELECT doc_id, fused FROM fused ORDER BY fused DESC, doc_id LIMIT 20
    """,
)
def q_hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with WEIGHTED score fusion — the other Milvus
    hybrid_search ranker (WeightedRanker(w_text, w_vec)) beside the
    implemented RRF (q_hybrid_rrf): each retriever's top-50 scores are
    min-max normalized WITHIN its candidate list and fused as
    0.7·text + 0.3·vector. Unlike RRF this preserves score MAGNITUDE
    (a dominant BM25 hit outranks a pack of mediocre mutual-rankers),
    at the price of the normalization step RRF exists to avoid.
    Determinism contract: both per-side scores are rounded to 6
    BEFORE the cut and the normalization, the BM25 sum has ≤2 addends
    (commutative-safe), and every candidate cut is a total-order
    (score, id) TakeOrderedAndProject — no unpartitioned window ever
    sees the corpus, and the 50-row stats aggregate broadcasts. At
    scale each side swaps for its ANN/posting tier exactly like
    q_hybrid_rrf."""
    from ..cache import tracked_persist
    from ..functions import vector as V
    from .vector import QVEC

    TERMS = ["query", "scan"]
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    base = d.select("doc_id", toks.alias("t"))
    dl = base.select("doc_id", F.size("t").alias("dl"))
    # query-term filter BEFORE the (doc, term) aggregate (r15, guide
    # §2.3): every downstream consumer joins tf to the query terms, so
    # the filter commutes with the aggregate — only the query terms'
    # posting rows ever reach the exchange (the inverted-index probe
    # the docstring promises), instead of aggregating the full
    # vocabulary and discarding it at the join
    tf = tracked_persist(
        base.select("doc_id", F.explode("t").alias("term"))
        .filter(F.col("term").isin(TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_dl")
    ).select(
        "n_docs",
        (F.col("tot_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    qterms = F.broadcast(
        spark.createDataFrame([(t,) for t in TERMS], "term string")
    )
    dfreq = tf.join(qterms, "term").groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    tfn = (F.col("tf") * F.lit(_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(_K1) * (F.lit(1.0 - _B) + F.lit(_B) * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(qterms, "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tfn), 6).alias("s"))
    )
    # the 50-row candidate cut feeds BOTH its min/max stats aggregate
    # and the normalization projection — unpersisted, the whole BM25
    # join pipeline above re-executed once per consumer
    tr = tracked_persist(scored.orderBy(F.col("s").desc(), "doc_id").limit(50))
    tstat = tr.agg(F.min("s").alias("_mn"), F.max("s").alias("_mx"))
    tn = tr.crossJoin(F.broadcast(tstat)).select(
        "doc_id",
        F.when(F.col("_mx") == F.col("_mn"), F.lit(1.0))
        .otherwise((F.col("s") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")))
        .alias("ns"),
    )
    e = T(spark, sf_dir, "embeddings")
    qarr = V.vector_literal(QVEC)
    ev = e.select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            V.l2_distance(F.col("embedding").cast("array<double>"), qarr), 6
        ).alias("d"),
    )
    # same two-consumer persist for the vector side's 50-row cut
    vtop = tracked_persist(ev.orderBy("d", "doc_id").limit(50))
    vr = vtop.select(
        "doc_id", F.round(F.lit(1.0) / (F.lit(1.0) + F.col("d")), 6).alias("sv")
    )
    vstat = vr.agg(F.min("sv").alias("_vmn"), F.max("sv").alias("_vmx"))
    vn = vr.crossJoin(F.broadcast(vstat)).select(
        "doc_id",
        F.when(F.col("_vmx") == F.col("_vmn"), F.lit(1.0))
        .otherwise(
            (F.col("sv") - F.col("_vmn")) / (F.col("_vmx") - F.col("_vmn"))
        )
        .alias("nv"),
    )
    t_ = tn.select(F.col("doc_id").alias("_tk"), "ns")
    v_ = vn.select(F.col("doc_id").alias("_vk"), "nv")
    fused = t_.join(v_, t_["_tk"] == v_["_vk"], "full_outer").select(
        F.coalesce(F.col("_tk"), F.col("_vk")).alias("doc_id"),
        F.round(
            F.lit(0.7) * F.coalesce(F.col("ns"), F.lit(0.0))
            + F.lit(0.3) * F.coalesce(F.col("nv"), F.lit(0.0)),
            6,
        ).alias("fused"),
    )
    return fused.orderBy(F.col("fused").desc(), "doc_id").limit(20)
