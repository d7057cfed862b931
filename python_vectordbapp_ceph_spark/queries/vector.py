"""Vector-search surface (SURVEY §2.A7/A13-A16, B1-B2, C22, C27):
normalize, distances, exact KNN (single + batch), dim check, multimodal
join, result formatting, IVF probe, stub embedders, embedding near-dup.

The DuckDB oracles repeat the identical left-to-right double arithmetic
(list_transform/list_sum mirrors F.transform/F.aggregate), so rounded
distance columns hash-match exactly. Approximate operators (IVF probe,
stub embeddings) register rows-only by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ._common import T, widen
from ..functions import vector as V
from ..operators.knn import knn_topk, knn_topk_batch, similarity_topk

DIM = 64
# Constant query vector: exercises the full zip_with machinery on the
# Spark side while keeping the oracle SQL free of list-zip gymnastics.
QVEC = [0.1] * DIM
_QLIT = "[" + ", ".join("0.1" for _ in range(DIM)) + "]"

# Shared oracle scaffolding: embeddings cast to double lists.
_E = (
    "SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings"
)
_L2_TO_Q = "sqrt(list_sum(list_transform(v, x -> (x - 0.1) * (x - 0.1))))"
_NORM = "sqrt(list_sum(list_transform(v, x -> x * x)))"
_QNORM = f"sqrt(list_sum(list_transform({_QLIT}, x -> x * x)))"
_DOT_Q = "list_sum(list_transform(v, x -> x * 0.1))"


# --- A7 L2 normalization ---------------------------------------------------

@register(
    "q_l2_normalize",
    oracle=f"""
    WITH e AS ({_E}),
    n AS (SELECT vec_id, v, {_NORM} AS nrm FROM e)
    SELECT vec_id, round(nrm, 6) AS norm, round(v[1] / nrm, 6) AS e0
    FROM n WHERE nrm > 0
    """,
)
def q_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A7: sklearn normalize(norm="l2")
    (s3vectors-app/pythonvectordbceph.py:47) as a codegen'd expression."""
    e = T(spark, sf_dir, "embeddings")
    norm = V.l2_norm("embedding")
    return (
        e.filter(norm > 0)
        .select(
            "vec_id",
            F.round(norm, 6).alias("norm"),
            F.round(F.element_at(V.l2_normalize("embedding"), 1), 6).alias("e0"),
        )
    )


# --- A14 distance computation ---------------------------------------------

@register(
    "q_vector_distance",
    oracle=f"""
    WITH e AS ({_E})
    SELECT vec_id,
           round({_L2_TO_Q}, 6) AS l2_dist,
           round({_DOT_Q}, 6) AS dot_q,
           round(1.0 - ({_DOT_Q} / ({_NORM} * {_QNORM})), 6) AS cos_dist
    FROM e
    """,
)
def q_vector_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A14: metric L2 (pythonvectordbceph.py:114), cosine≡dot
    on normalized vectors. All three metrics in one scan."""
    e = T(spark, sf_dir, "embeddings")
    q = V.vector_literal(QVEC)
    return e.select(
        "vec_id",
        F.round(V.l2_distance(F.col("embedding"), q), 6).alias("l2_dist"),
        F.round(V.dot(F.col("embedding"), q), 6).alias("dot_q"),
        F.round(V.cosine_distance(F.col("embedding"), q), 6).alias("cos_dist"),
    )


# --- A13 top-k ANN search --------------------------------------------------

@register(
    "q_knn_topk",
    oracle=f"""
    WITH e AS ({_E})
    SELECT vec_id, round({_L2_TO_Q}, 6) AS distance
    FROM e ORDER BY distance, vec_id LIMIT 5
    """,
)
def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A13: query_vectors(topK=k, returnDistance=True)
    (s3vectors-app/search.py:49-58). Plan = TakeOrderedAndProject:
    per-partition top-k, k-row merge, zero shuffle of the base table."""
    e = T(spark, sf_dir, "embeddings")
    return knn_topk(e, QVEC, k=5)


@register(
    "q_knn_batch_window",
    oracle=f"""
    WITH e AS ({_E}),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
    d AS (SELECT q.q_id, e.vec_id,
                 round(sqrt(list_sum(list_transform(range({DIM}),
                       i -> (e.v[i+1] - q.qv[i+1]) * (e.v[i+1] - q.qv[i+1])))), 6) AS distance
          FROM e CROSS JOIN q),
    r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY distance, vec_id) AS rn FROM d)
    SELECT q_id, vec_id, distance FROM r WHERE rn <= 3
    """,
)
def q_knn_batch_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch KNN: broadcast the query side, per-query window top-k.
    The base table is scanned once and never shuffled for the join."""
    e = T(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return knn_topk_batch(e, queries, k=3)


@register(
    "q_similarity_topk",
    oracle=f"""
    WITH e AS ({_E})
    SELECT vec_id, round({_DOT_Q} / ({_NORM} * {_QNORM}), 6) AS similarity
    FROM e ORDER BY similarity DESC, vec_id LIMIT 5
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return similarity_topk(e, QVEC, k=5)


# --- B2 dimension check ----------------------------------------------------

@register(
    "q_dim_check",
    oracle=f"""
    SELECT vec_id FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = {DIM}
    """,
)
def q_dim_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference B2: backend float32 index enforces dimension
    (pythonvectordbceph.py:109-115) — here a Catalyst filter."""
    e = T(spark, sf_dir, "embeddings")
    return e.filter(V.dim_ok("embedding", DIM)).select("vec_id")


# --- C27 multimodal join ---------------------------------------------------

@register(
    "q_multimodal_join",
    oracle=f"""
    WITH e AS ({_E})
    SELECT d.doc_id, d.lang, d.n_chars, e.label,
           round({_NORM}, 6) AS emb_norm
    FROM documents d JOIN e ON d.doc_id = e.vec_id
    """,
)
def q_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text + embedding modalities in one schema: documents⋈embeddings
    by id (the SURVEY §1.4 keyed-vector-collection shape)."""
    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id", "lang", "n_chars", "label",
        F.round(V.l2_norm("embedding"), 6).alias("emb_norm"),
    )


# --- A16 result formatting -------------------------------------------------

@register(
    "q_result_format",
    oracle=f"""
    WITH e AS ({_E}),
    d AS (SELECT vec_id, round({_L2_TO_Q}, 6) AS distance
          FROM e ORDER BY distance, vec_id LIMIT 3)
    SELECT '{{"vector_key":"' || vec_id || '","distance_micros":'
           || CAST(CAST(round(distance * 1000000) AS BIGINT) AS VARCHAR)
           || ',"url":"s3://bucket/' || vec_id || '"}}' AS result_json
    FROM d
    """,
)
def q_result_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A16: [{vector_key, distance, metadata}] JSON output
    (s3vectors-app/search.py:61-72) via to_json(struct(...))."""
    e = T(spark, sf_dir, "embeddings")
    top = knn_topk(e, QVEC, k=3)
    return top.select(
        F.to_json(
            F.struct(
                F.col("vec_id").cast("string").alias("vector_key"),
                F.round(F.col("distance") * 1000000).cast("long").alias("distance_micros"),
                F.concat(F.lit("s3://bucket/"), F.col("vec_id").cast("string")).alias("url"),
            )
        ).alias("result_json")
    )


# --- C24-adjacent: embedding near-duplicates -------------------------------

@register(
    "q_embedding_near_dup",
    oracle=f"""
    WITH e AS ({_E}),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_sum(list_transform(range({DIM}), i -> a.v[i+1] * b.v[i+1]))
                       / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                          * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cosine
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup pairs blocked by label: the n² explodes only
    inside each block, and at scale the block key IS the partition key
    so the self-join is co-located."""
    from ..operators.dedup import embedding_near_dups

    e = T(spark, sf_dir, "embeddings")
    return embedding_near_dups(e, block_col="label", threshold=0.3)


# --- B1 IVF probe (approximate → rows-only) --------------------------------

@register("q_ivf_partition_prune")
def q_ivf_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans-clustered ANN: fit centroids on a sample, assign clusters,
    probe only the nearest nprobe clusters (partition pruning). Approx
    by construction → rows-only check; recall is pytest-verified."""
    from ..operators.ivf import build_ivf

    e = T(spark, sf_dir, "embeddings")
    index = build_ivf(e, nlist=8)
    return index.search(QVEC, k=5, nprobe=3)


@register("q_ivf_add")  # approximate tier → rows-only; assignment pytest-pinned
def q_ivf_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ADD — the per-upsert index-insert path the
    reference's backend runs on every ingest event (lists extend; no
    nlist refit per PUT). Builds the index, assigns a derived batch
    (embeddings of vec_id < 10, shifted +1e-3, re-keyed) to the
    EXISTING centroids via the broadcast-centroid argmin, and probes
    the extended index: each shifted twin must surface next to its
    original. Returns the probe result over the extended index."""
    from ..operators.ivf import build_ivf, ivf_add

    e = T(spark, sf_dir, "embeddings")
    index = build_ivf(e, nlist=8)
    batch = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(0.001)
        ).cast("array<float>").alias("embedding"),
        "label",
    )
    extended = ivf_add(index, batch)
    return extended.search(QVEC, k=10, nprobe=4)


# --- A6 image embedding (stub model → rows-only) ---------------------------

@register("q_embed_image")
def q_embed_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image tower (timm resnet34 contract, 512-d) over binary content
    — identical iterator-pandas_udf lifecycle as text; hermetic
    hash-stub model → rows-only."""
    from ..embed.embedders import image_embed_udf

    d = T(spark, sf_dir, "documents").limit(30)
    media = d.select("doc_id", F.encode("text", "utf-8").alias("content"))
    out = media.select("doc_id", image_embed_udf(F.col("content")).alias("embedding"))
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
    )


# --- A5 text embedding (stub model → rows-only) ----------------------------

@register("q_embed_text")
def q_embed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator pandas_udf embedding (model loads once per worker —
    fixing the reference's per-request reload, pythonvectordbceph.py:162).
    Hermetic hash-stub model → rows-only."""
    from ..embed.embedders import text_embed_udf

    d = T(spark, sf_dir, "documents").limit(50)
    out = d.select("doc_id", text_embed_udf(F.col("text")).alias("embedding"))
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
    )


@register("q_srp_near_dup")  # hyperplane-LSH buckets → approximate → rows-only
def q_srp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH near-dup pairs over the embeddings
    table — the no-blocking-key scale path for embedding-cosine dedup
    (candidates from band-bucket equi-joins, exact cosine verify; no
    n² stage anywhere). Approximate by construction → rows-only;
    recall pinned in tests/test_dedup.py on planted clusters.

    SIZING RULE (the r7 sf1 lesson): bucket cardinality per band is
    2^(n_bits/bands), a CONSTANT — if it doesn't track log2(n), the
    band buckets fill up and the "candidate" self-join quietly goes
    quadratic (the original 16/8 = 2-bit bands have 4 buckets/band:
    fine at sf0.01, all-pairs at sf1). 96/6 = 16-bit bands give 65k
    buckets/band — sparse through ~1e6 rows/band; at larger n raise
    bits-per-band ≈ log2(n) + a margin, and keep the threshold in the
    near-dup regime (band collision prob decays as p^bits, so wide
    bands + low threshold would cost recall instead).

    The test corpus has no natural ≥0.9-cosine pairs at small SF, so
    three CANARY duplicates (copies of the 3 lowest-id vectors, ids
    offset by 10⁹) are planted deterministically — the pipeline must
    recover exactly those pairs wherever the data has none of its
    own, and real dups surface additionally as the corpus grows."""
    from ..operators.dedup import srp_near_dups

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    canary = (
        e.orderBy("vec_id")
        .limit(3)
        .select((F.col("vec_id") + 1_000_000_000).alias("vec_id"), "embedding")
    )
    return srp_near_dups(
        e.unionByName(canary), dim=64, threshold=0.9, n_bits=96, bands=6
    )


@register("q_ivf_batch_search")  # approximate (pruned probe) → rows-only
def q_ivf_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF probe: 20 query vectors × pruned inverted lists in a
    single plan (broadcast probe list → cluster equi-join → per-query
    window). The batch-ANN scale path; equivalence to the single-query
    probe and to exact brute force at full probe is pytest-pinned
    (test_knn.py::test_ivf_search_batch_matches_single_probe)."""
    from ..operators.ivf import build_ivf, search_batch

    e = T(spark, sf_dir, "embeddings")
    index = build_ivf(e, nlist=8)
    queries = e.orderBy("vec_id").limit(20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_embedding"),
    )
    return search_batch(index, queries, k=5, nprobe=2)


@register("q_sq8_search")
def q_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN (Milvus IVF_SQ8's compression tier,
    milvus-app/pythonvectordbceph_milvus.py:100-102): per-dimension
    8-bit codes scanned with asymmetric reconstructed distance, exact
    re-rank of the top k*refine candidates. The code column is ~4×
    smaller than the float vectors and stage 1 reads ONLY it (pruning
    pytest-proven). Approximate by construction → rows-only; recall
    and the error bound are pytest-verified."""
    from ..operators.sq import fit_sq8, sq8_encode, sq8_search

    e = T(spark, sf_dir, "embeddings")
    params = fit_sq8(e, "embedding", 64)
    enc = sq8_encode(e, params, "embedding")
    return sq8_search(enc, e, params, QVEC, k=5, refine_factor=4)


@register("q_pq_search")
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (Milvus IVF_PQ's compression tier,
    milvus-app/pythonvectordbceph_milvus.py:100-102): per-subspace
    codebooks fit on a bounded sample, Arrow-batched int8 encode
    (32× smaller codes at d=64, m=8), ADC scan via a literal
    lookup-table — pure codegen, no Python on the scan path — then
    exact re-rank of top k·refine. Approximate → rows-only; recall
    and JVM-only-scan are pytest-verified."""
    from ..operators.pq import fit_pq, pq_encode, pq_search

    e = T(spark, sf_dir, "embeddings")
    books = fit_pq(e, "embedding", 64, m=8, k=16)
    enc = pq_encode(e, books, "embedding")
    return pq_search(enc, e, books, QVEC, k=5, refine_factor=8)


@register("q_ivf_sq8_search")
def q_ivf_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF_SQ8 index — literally the reference's Milvus
    configuration (milvus-app/pythonvectordbceph_milvus.py:100-102):
    KMeans cluster pruning (reads nprobe/nlist of the rows) over SQ8
    codes (reads ~1/4 the bytes per row), exact re-rank on the
    survivors. Approximate → rows-only; full-probe == brute-force and
    pruned recall are pytest-pinned."""
    from ..operators.ivf import build_ivf
    from ..operators.sq import fit_sq8, ivf_sq8_search, sq8_encode

    e = T(spark, sf_dir, "embeddings")
    index = build_ivf(e, nlist=8)
    params = fit_sq8(e, "embedding", 64)
    index.assigned = sq8_encode(index.assigned, params, "embedding")
    return ivf_sq8_search(index, params, QVEC, k=5, nprobe=3)


# --- A13+B3 hybrid filtered search -----------------------------------------

@register(
    "q_filtered_knn",
    oracle=f"""
    WITH e AS ({_E})
    SELECT vec_id, label, round({_L2_TO_Q}, 6) AS distance
    FROM e WHERE label IN (3, 7)
    ORDER BY distance, vec_id LIMIT 5
    """,
)
def q_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid filtered search — Milvus `search(expr=...)`, the
    filter+ANN combination the reference exposes through its query
    endpoint (milvus-app/describe.py:26-31 filter grammar + search):
    the metadata predicate applies BEFORE any distance math, pushes to
    the parquet scan (row-group pruning on label stats), and the
    survivor set feeds the same TakeOrderedAndProject top-k — filter
    selectivity directly multiplies scan AND compute cost down, which
    is why filtered search at 100 TB is CHEAPER than unfiltered, not
    an add-on cost."""
    e = T(spark, sf_dir, "embeddings").filter(F.col("label").isin(3, 7))
    q = V.vector_literal(QVEC)
    return (
        e.select(
            "vec_id",
            "label",
            F.round(V.l2_distance(F.col("embedding"), q), 6).alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(5)
    )


# --- A13 range search (radius query) ---------------------------------------

@register(
    "q_grouped_knn",
    oracle=f"""
    WITH e AS ({_E}),
    d AS (SELECT vec_id, label, round({_L2_TO_Q}, 6) AS distance FROM e),
    r AS (SELECT *, row_number() OVER (PARTITION BY label
                                       ORDER BY distance, vec_id) AS rn
          FROM d),
    best AS (SELECT label, vec_id, distance FROM r WHERE rn = 1)
    SELECT label, vec_id, distance
    FROM best ORDER BY distance, vec_id LIMIT 5
    """,
)
def q_grouped_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Milvus GROUPING SEARCH (search with group_by_field): the top-k
    nearest results with AT MOST ONE hit per group value — the
    diversity guarantee RAG retrieval uses so k results span k
    documents instead of k chunks of one document. Plan: distance
    scan → per-group best via a rank window PARTITIONED BY the group
    key (parallel in the number of groups) → global
    TakeOrderedAndProject over the |groups|-row survivor set. The
    base table never single-partitions; the global cut happens on one
    row per group. Composes with the IVF/SQ8/BQ tiers exactly like
    plain KNN (swap the distance scan)."""
    e = T(spark, sf_dir, "embeddings")
    q = V.vector_literal(QVEC)
    d = e.select(
        "vec_id",
        "label",
        F.round(
            V.l2_distance(F.col("embedding").cast("array<double>"), q), 6
        ).alias("distance"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("label").orderBy("distance", "vec_id")
    best = (
        d.select("label", "vec_id", "distance", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return best.orderBy("distance", "vec_id").limit(5)


@register(
    "q_search_after",
    oracle=f"""
    WITH e AS ({_E}),
    d AS (SELECT vec_id, label, round({_L2_TO_Q}, 6) AS distance FROM e),
    anchor AS (SELECT distance AS ad, vec_id AS aid FROM (
        SELECT distance, vec_id FROM d
        ORDER BY distance, vec_id LIMIT 10) ORDER BY distance DESC,
        vec_id DESC LIMIT 1)
    SELECT d.vec_id, d.label, d.distance
    FROM d CROSS JOIN anchor
    WHERE d.distance > anchor.ad
       OR (d.distance = anchor.ad AND d.vec_id > anchor.aid)
    ORDER BY d.distance, d.vec_id
    LIMIT 10
    """,
)
def q_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-iterator parity (Milvus search_iterator / paged ANN):
    page N+1 resumes AFTER the last (distance, id) seen, via a
    composite keyset predicate — not OFFSET, which would recompute and
    discard every earlier page's distances. The page-2 query here
    derives its own anchor (the 10th result) and fetches the next 10:
    the keyset predicate filters the distance scan BEFORE the top-k,
    so each page is one TakeOrderedAndProject over the pruned scan —
    page depth costs nothing extra (q_keyset_page's argument, lifted
    to the computed-distance domain with a total-order (distance, id)
    cursor, which is exactly how a vector-search iterator stays
    consistent across pages)."""
    e = T(spark, sf_dir, "embeddings")
    q = V.vector_literal(QVEC)
    d = e.select(
        "vec_id",
        "label",
        F.round(
            V.l2_distance(F.col("embedding").cast("array<double>"), q), 6
        ).alias("distance"),
    )
    page1 = d.orderBy("distance", "vec_id").limit(10)
    anchor = F.broadcast(
        page1.orderBy(F.col("distance").desc(), F.col("vec_id").desc())
        .limit(1)
        .select(F.col("distance").alias("ad"), F.col("vec_id").alias("aid"))
    )
    return (
        d.crossJoin(anchor)
        .filter(
            (F.col("distance") > F.col("ad"))
            | ((F.col("distance") == F.col("ad")) & (F.col("vec_id") > F.col("aid")))
        )
        .select("vec_id", "label", "distance")
        .orderBy("distance", "vec_id")
        .limit(10)
    )


@register(
    "q_range_search",
    oracle=f"""
    WITH e AS ({_E})
    SELECT vec_id, round({_L2_TO_Q}, 6) AS distance
    FROM e WHERE round({_L2_TO_Q}, 6) < 1.15
    """,
)
def q_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search (Milvus range_search semantics): ALL vectors
    within radius, not a fixed k — the dedup-threshold and
    recall-sweep primitive. A pure scan-filter: no sort, no shuffle,
    no state; the predicate is on the ROUNDED distance so the
    boundary set is bit-identical in both engines. At scale this is
    embarrassingly parallel and composes with the IVF layout (probe
    only cells whose centroid distance <= radius + cell radius)."""
    e = T(spark, sf_dir, "embeddings")
    q = V.vector_literal(QVEC)
    d = F.round(V.l2_distance(F.col("embedding"), q), 6)
    return e.select("vec_id", d.alias("distance")).filter(
        F.col("distance") < 1.15
    )


@register("q_bq_search")
def q_bq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN (the 1-bit end of Milvus' BIN_* index
    family on the same create_index knob,
    milvus-app/pythonvectordbceph_milvus.py:100-102): per-dimension
    sign bits vs the fitted mean packed into ONE long per 64 dims —
    32× smaller than float32 — scanned with xor+popcount Hamming
    (two codegen'd integer ops per row), exact L2 re-rank of the top
    k·refine survivors. Approximate → rows-only; recall and the
    codegen'd Hamming scan are pytest-verified."""
    from ..operators.bq import bq_encode, bq_search, fit_bq

    e = T(spark, sf_dir, "embeddings")
    params = fit_bq(e, "embedding", DIM)
    enc = bq_encode(e, "embedding", params)
    return bq_search(enc, QVEC, params, k=5, refine_factor=4)


@register("q_mmr_topk")  # greedy rerank on bounded candidates → rows-only
def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k: distributed exact cosine top-fetch_k
    (TakeOrderedAndProject, no shuffle), then the inherently-sequential
    greedy relevance-vs-redundancy selection over the bounded 50-row
    candidate set — the standard RAG reranker. Planted diversity
    behavior is pytest-pinned (a near-duplicate of an already-selected
    result loses to a diverse candidate)."""
    from ..operators.knn import mmr_topk

    e = T(spark, sf_dir, "embeddings")
    return mmr_topk(e, QVEC, k=5, fetch_k=50, lambda_=0.5)


@register(
    "q_maxsim",
    oracle=f"""
    WITH e AS ({_E}),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1)),
    s AS (SELECT e.label, q.q_id,
                 MAX(list_sum(list_transform(list_zip(e.v, q.qv),
                                             p -> p[1] * p[2]))) AS mx
          FROM e CROSS JOIN q GROUP BY e.label, q.q_id)
    SELECT label, round(SUM(mx), 6) AS maxsim
    FROM s GROUP BY label
    """,
)
def q_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late interaction (MaxSim): treat each label group
    as a multi-vector document and two data-derived vectors as query
    tokens; score(doc) = Σ over query tokens of max over doc tokens of
    the dot product. The retrieval scoring modern multi-vector
    rerankers use, expressed as two hash aggregates: per-(doc, q
    token) MAX then per-doc SUM — both order-insensitive (max exactly;
    the sum has two commutative addends), so the oracle hash-matches.

    Plan: the query-token side broadcasts (|Q| rows); the token table
    is scanned once; the only shuffle carries (label, q_id) partial
    maxes — map-side combine collapses it to |docs|·|Q| rows
    regardless of token count. That is the property that lets MaxSim
    run over billions of token vectors: the interaction matrix is
    never materialized beyond each task's running max."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = F.broadcast(
        e.filter(F.col("vec_id").isin(0, 1)).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
        )
    )
    sims = e.crossJoin(q).select(
        "label", "q_id", V.dot(F.col("v"), F.col("qv")).alias("sim")
    )
    per_token = sims.groupBy("label", "q_id").agg(F.max("sim").alias("mx"))
    return per_token.groupBy("label").agg(
        F.round(F.sum("mx"), 6).alias("maxsim")
    )


@register("q_pca_project")  # driver eigh over the d×d matrix → rows-only
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto its corpus's top-4 principal
    components (operators/pca.py) — the dimension-reduction pass a
    vector pipeline runs between embedding and ANN indexing, and the
    whitening companion to q_embed_covariance. The covariance matrix
    is assembled from EXACT per-partition integer grams (numpy
    X^T·X inside mapInPandas, DECIMAL(38,0) cross-partition reduce —
    order-insensitive integer sums, deterministic under any
    partitioning, pytest-pinned against the all-JVM decimal-sum
    twin), eigendecomposed on the driver
    (64×64, kilobytes — the only driver-side object at any corpus
    size), and the projection is a codegen'd F.aggregate dot product
    against broadcast literal components: no Python, no shuffle in
    the projection pass. Rows-only: eigenvectors aren't expressible
    in one SQL query; orthonormality, eigenvalue ordering,
    partitioning-invariance and variance capture are pytest-verified
    (tests/test_pca.py)."""
    from ..operators.pca import pca_fit, pca_project

    e = T(spark, sf_dir, "embeddings")
    comps, _ = pca_fit(e, "embedding", dim=64, q=4)
    return pca_project(e, "embedding", comps).select(
        "vec_id", "label", "pc1", "pc2", "pc3", "pc4"
    )
