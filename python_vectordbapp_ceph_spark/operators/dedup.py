"""Deduplication family for the LLM-data-pipeline surface.

Five tiers, all designed so the heavy lifting is a shuffle-on-key or a
bucketed self-join — never an all-pairs cross join at scale:

  exact          md5(normalized text) groupBy — one shuffle on a
                 128-bit key; survivor = min(doc_id) (deterministic).
  minhash-LSH    shingle → MinHash signature → band-bucket → join only
                 within buckets (candidate pairs ≪ n²).
  simhash        64-bit simhash; near-dups = equal value on rotated
                 bands (Hamming ≤ r by pigeonhole) — again bucket-join.
  ngram-jaccard  exact Jaccard on token-set pairs, restricted to a
                 blocking key (e.g. same source) so the pair count is
                 bounded; the verifier stage after LSH candidates.
  embedding      cosine near-dup within a blocking key (label /
                 IVF cluster) — the ANN-adjacent variant.

MinHash/simhash permutations are seeded ``xxhash64`` evaluations —
a well-defined 64-bit hash that is deterministic across runs and Spark
versions, needs NO arithmetic on the result (so it cannot overflow
under Spark 4's default ANSI mode, unlike multiply-shift rehashing of
a 32-bit base), and stays entirely inside whole-stage codegen.
Registered rows-only with the driver; the exact tiers (fingerprint
dedup, Jaccard verify) carry full SQL oracles.
"""

from __future__ import annotations

import logging

import pandas as pd  # module-scope: pandas_udf type hints resolve here
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_for_fingerprint, fingerprint

_log = logging.getLogger(__name__)

# Persisted intermediates (LSH banded tables, shingle sets) — kept so
# self-joins don't recompute their pipeline per side; tracked in the
# shared registry so long-lived sessions can release them.
from ..cache import release_caches, tracked_persist as _tracked_persist  # noqa: E402,F401


# Shared ceiling for "broadcast this id list" decisions. 4 Mi ids ≈
# 64 MB serialized — comfortably under executor heaps and far under
# Spark's 8 GB broadcast hard cap. Above it (billions of drop ids at
# web-crawl dup rates on 100 TB) an explicit broadcast OOMs executors;
# a plain join lets AQE pick shuffle vs broadcast from the REAL size.
BROADCAST_ID_GATE = 4 * 1024 * 1024


def gate_broadcast(side: DataFrame, gate: int | None = None) -> DataFrame:
    """Count-gated broadcast: persist ``side``, count it, and return
    ``F.broadcast(side)`` only when the count fits under ``gate``
    (default ``BROADCAST_ID_GATE``, resolved at call time).

    The same threshold gates the relabel-map broadcast in
    ``dedup_components``' distributed rounds. The drop / delete /
    dirty-id lists joined through this function were once
    unconditional broadcasts ("tiny relative to the corpus" is true
    proportionally, not absolutely). The persist means the count never
    recomputes the funnel that produced the list, and the join reuses
    the materialized blocks either way.

    NOT lazy: calling this runs an eager Spark count job over ``side``
    at call time (plan-building callers — ``delete_keys``,
    ``decontaminate``, ``dedup_survivors`` — therefore trigger work
    before their returned DataFrame is acted on; a caller that must
    stay lazy, like ``prepare_training_corpus``, joins plainly and
    leaves the broadcast choice to AQE's measured size), and the
    persist stays pinned in the shared tracked-cache registry so
    repeated batch calls accumulate storage memory until
    ``release_caches()``. Long-lived batch sessions should
    call ``release_caches()`` after the consuming join materializes
    (the streaming ledger path already releases per micro-batch).
    """
    if gate is None:
        gate = BROADCAST_ID_GATE
    side = _tracked_persist(side)
    n = side.count()
    return F.broadcast(side) if n <= gate else side


def _auto_salt_factor(df: DataFrame, n_blocks: int, cap: int = 16) -> int:
    """Within-block parallelism for blocked self-joins.

    A blocking key with FIXED cardinality (label, source) caps the
    pair stage at n_blocks tasks no matter how big the corpus gets —
    per-block n² grows quadratically while the task count stays flat,
    which is exactly backwards. Salting fans each block out: the probe
    side keeps one salt per row, the build side replicates salt-many
    times (rows, not pairs — the pair set is unchanged), and the join
    key becomes (block, salt).

    The factor adapts: ~2 key-groups per core for scheduling headroom,
    capped (replication is paid in shuffle volume), and 1 — a clean
    no-op, no extra columns — whenever the block count already exceeds
    the cluster parallelism (the natural-corpus case, where the block
    key fans out on its own)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if n_blocks <= 0 or n_blocks >= 2 * target:
        return 1
    return max(1, min(cap, -(-2 * target // n_blocks)))


def _salted_self_join_sides(
    base: DataFrame, id_col: str, n_salt: int
) -> tuple[DataFrame, DataFrame, list]:
    """(a, b, extra_join_conds) for a blocked self-join with salt
    fan-out n_salt; degenerates to plain aliases when n_salt == 1."""
    if n_salt <= 1:
        return base.alias("a"), base.alias("b"), []
    a = base.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt))
    ).alias("a")
    b = base.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).alias("b")
    return a, b, [F.col("a._salt") == F.col("b._salt")]


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Ensure CPU-bound per-row compute (shingling, hashing) runs at
    cluster parallelism. Small local inputs arrive as 1-2 parquet
    splits — without this every downstream expression runs on one
    core. When the scan already has enough partitions (the 100 TB
    case) this is a no-op, so the extra shuffle is never paid at scale.

    For FILE sources the probe reads the FILE INDEX only
    (``inputFiles`` + sizes for the few-file case) — no ``df.rdd``
    conversion, which planned the whole query to RDD form just to read
    a partition count and sat as an analysis barrier AQE could not see
    through. ONLY the non-file branch (createDataFrame/JDBC/micro-
    batch inputs, where no file index exists and the plan is already
    materialized rather than an AQE-resplittable scan) falls back to
    the RDD partition count.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return df  # at least one split per file → already parallel
    if not files:
        # non-file source (createDataFrame, JDBC, a streaming
        # micro-batch frame): no file index to probe. Fall back to the
        # RDD partition count — ONLY in this branch, where the input is
        # an already-materialized plan rather than a parquet scan AQE
        # would re-split — so already-parallel inputs keep their
        # partitioning instead of paying an unconditional shuffle.
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except Exception:
            pass
        return df.repartition(target, key)
    # few files may still mean many splits (maxPartitionBytes splits
    # large files) — estimate from sizes; few files ⇒ few cheap
    # driver-side FS calls
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    try:
        max_split = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            total += p.getFileSystem(hconf).getFileStatus(p).getLen()
    except Exception:
        total, max_split = 0, 1
    if total // max_split >= target:
        return df
    return df.repartition(target, key)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one survivor per distinct normalized text: min(id) wins.

    One hash-shuffle on the 128-bit fingerprint; survivors join back by
    id. Deterministic → full DuckDB oracle.
    """
    fp = df.withColumn("fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    return (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fp")
    )


def shingles(text_col: str, n: int = 3):
    """Word n-gram shingle array (distinct), from normalized text.

    The token array is bound as a LAMBDA VARIABLE (single-element
    transform) before the per-shingle loop. Referencing the raw
    normalize+split expression inside the inner lambda would re-run
    the two regexes once PER SHINGLE per row — measured 25× slower on
    the driver tables. A lambda variable is evaluated exactly once.
    """
    toks = F.split(normalize_for_fingerprint(F.col(text_col)), " ")

    def body(t):
        k = F.size(t) - (n - 1)
        return F.when(k <= 0, F.array(F.concat_ws(" ", t))).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), k - 1),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
                )
            )
        )

    return F.element_at(F.transform(F.array(toks), body), 1)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingle_col: str | None = None,
) -> DataFrame:
    """(id, signature): the ``num_hashes`` MinHash values of each
    document's shingle set, signature[i] = min over shingles of
    ``xxhash64(shingle, i)``. Seeding by hashing (shingle, i) together
    gives independent permutations with zero post-hash arithmetic —
    ANSI-safe.

    The signature is ONE nested ``transform`` over the hash indices, so
    the plan holds one copy of the per-hash expression at any
    ``num_hashes``. The shingle array is bound as a lambda variable
    around it: referenced once, a computed ``sh`` column is inlined by
    the optimizer, and inside the per-hash lambda it would be
    re-shingled for every hash. Over 500 documents with 16 hashes on
    local[4], the former ``array`` of 16 per-hash copies planned in
    76 ms and ran in 141 ms; this form plans in 28 ms and runs in
    83 ms (305 ms with the shingle array left unbound).

    ``shingle_col`` names a PRE-COMPUTED shingle-array column (the
    exact ``shingles(text_col, shingle_n)`` output, typically persisted
    and shared with a jaccard_pairs verify side — one tokenize pass for
    both, see q_lsh_recall/q_lsh_precision). The caller then owns
    spreading/persisting; ``text_col``/``shingle_n`` are ignored."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be at least 1, got {num_hashes}")
    if shingle_col is not None:
        sh = df.select(id_col, F.col(shingle_col).alias("sh"))
    else:
        sh = _spread(df, id_col).select(
            id_col, shingles(text_col, shingle_n).alias("sh")
        )
    def signature(arr):
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(F.transform(arr, lambda s: F.xxhash64(s, i))),
        )

    sig = F.element_at(F.transform(F.array(F.col("sh")), signature), 1)
    return sh.select(id_col, sig.alias("signature"))


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
) -> DataFrame:
    """Band the signature, bucket-join: pairs agreeing on any band.

    The self-join key is (band_idx, band_hash) → shuffle on the bucket
    key only; candidate volume is the sum of C(bucket,2), tiny unless
    documents genuinely collide. Returns (id_a, id_b), id_a < id_b.

    The banded table is not persisted: the self-join's two sides are
    one plan, so they share one shuffle (``ReusedExchange``) and the
    shingle→signature→band pipeline runs once. A persist there only
    added a cache-building pass over the same rows.
    """
    _rpb = F.floor(F.size("signature") / bands).cast("int")
    # in-plan guard: bands > num_hashes floors rows_per_band to 0,
    # making every band hash the hash of an EMPTY slice — identical
    # for all documents, so the bucket join degenerates into the n²
    # all-pairs explosion this operator exists to avoid (srp_signatures
    # raises for its analogous misconfiguration)
    rows_per_band = F.when(_rpb >= 1, _rpb).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "minhash_lsh_candidates: bands="
                    f"{int(bands)} exceeds the signature length "
                ),
                F.size("signature").cast("string"),
                F.lit(" — every band hash would be identical and the "
                      "bucket join all-pairs; lower bands or raise "
                      "num_hashes"),
            )
        ).cast("int")
    )
    def hash_bands(r):
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.md5(F.to_json(F.slice(F.col("signature"), b * r + 1, r))),
        )

    # rows_per_band bound as a lambda variable: evaluated once per row,
    # not twice per band
    band_hashes = F.element_at(F.transform(F.array(rows_per_band), hash_bands), 1)
    banded = sigs.select(
        id_col, F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
    prefix_filter: bool = False,
    shingle_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs INSIDE a blocking key.

    The blocking key bounds pair counts (per-block n²) and turns the
    join into an equi-join shuffle on block_col. Used standalone on
    small blocks or as the verify stage after LSH candidates.

    Size-ratio pruning: jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    pairs whose set sizes differ by more than the threshold factor are
    dropped BEFORE the O(|A|+|B|) intersect — result-preserving, and
    the size columns are join-condition-evaluable (cheap ints).

    Prefix filtering (AllPairs/SSJoin, Bayardo et al. WWW'07),
    ``prefix_filter=True``: candidates come from an inverted index
    over each doc's PREFIX — its first |d| - ceil(t·|d|) + 1 shingles
    under a global rarest-first order — instead of the in-block cross
    join. Any pair with J ≥ t must share a prefix token (if all
    common tokens sat in A's suffix, |A∩B| ≤ ceil(t·|A|) - 1 < t·|A|
    ≤ t·|A∪B| — contradiction), so the candidate set is lossless and
    the output identical either path. OFF by default on MEASURED
    grounds: the win depends on a long-tail vocabulary where prefix
    tokens are genuinely rare. On the driver's synthetic corpus the
    vocabulary is tiny and ~3.5%% of all in-block pairs are true
    near-dups, so candidates ≈ all pairs and the extra index stages
    only add cost (10×-sf0.1 stress point: 63 s cross vs 105 s
    prefix). On a natural web corpus the ratio inverts — flip the
    flag per corpus; pytest pins both paths equal.

    ``shingle_col`` names a PRE-COMPUTED shingle-array column (the
    exact ``shingles(text_col, shingle_n)`` output) on an input the
    caller already spread and persisted — the LSH audit queries share
    one tokenize pass between this verify side and the MinHash side.
    The internal persist is skipped then (the caller's persist already
    backs both self-join sides); ``text_col``/``shingle_n`` are
    ignored. An input that is not persisted logs a warning: each
    self-join side would recompute its upstream.
    """
    if shingle_col is not None:
        if df.storageLevel == StorageLevel.NONE:
            _log.warning(
                "jaccard_pairs(shingle_col=%r) got an input that is not "
                "persisted: both self-join sides recompute its upstream; "
                "persist it first", shingle_col,
            )
        base = df.select(
            F.col(id_col), F.col(block_col).alias("_blk"),
            F.col(shingle_col).alias("sh"),
        ).withColumn("n_sh", F.size("sh"))
    else:
        base = _tracked_persist(
            _spread(df, id_col).select(
                F.col(id_col), F.col(block_col).alias("_blk"),
                shingles(text_col, shingle_n).alias("sh"),
            ).withColumn("n_sh", F.size("sh"))
        )
    a, b = base.alias("a"), base.alias("b")
    size_prune = (
        F.least(F.col("a.n_sh"), F.col("b.n_sh")).cast("double")
        >= F.lit(max(threshold - 1e-6, 0.0)) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
    )
    # The intersect is computed in the join's own projection — pair
    # rows (with their shingle sets) are never materialized through a
    # second exchange. A repartition-before-compute variant measured
    # faster warm but 2× slower cold: serializing every candidate pair
    # with both sets (~#pairs × 2×|sh|) dominates the win. Parallelism
    # within a block comes from AQE splitting skewed join partitions.
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    # |A∪B| = |A|+|B|-|A∩B| for distinct sets: one hash pass per pair
    # instead of two (array_union would rebuild the set to count it)
    union = F.col("a.n_sh") + F.col("b.n_sh") - inter
    jac = F.round(inter.cast("double") / union.cast("double"), 6)

    if prefix_filter and threshold > 0:
        from pyspark.sql.window import Window

        tok = base.select(id_col, "_blk", "n_sh", F.explode("sh").alias("_tok"))
        # global token document frequency → rarest-first total order
        tdf = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
        w = Window.partitionBy(id_col).orderBy("_df", "_tok")
        prefix = (
            tok.join(tdf, "_tok")
            .withColumn("_rn", F.row_number().over(w))
            .filter(
                F.col("_rn")
                <= F.col("n_sh")
                - F.ceil(F.round(F.lit(threshold) * F.col("n_sh"), 9))
                + 1
            )
            .select(id_col, "_blk", "_tok")
        )
        pa = prefix.select(
            F.col(id_col).alias("_ia"), F.col("_blk").alias("_ba"), "_tok"
        )
        pb = prefix.select(
            F.col(id_col).alias("_ib"), F.col("_blk").alias("_bb"), "_tok"
        )
        cands = (
            pa.join(pb, ["_tok"])
            .filter((F.col("_ba") == F.col("_bb")) & (F.col("_ia") < F.col("_ib")))
            .select("_ia", "_ib")
            .distinct()
        )
        return (
            cands.join(a, F.col("_ia") == F.col(f"a.{id_col}"))
            .join(b, F.col("_ib") == F.col(f"b.{id_col}"))
            .filter(size_prune)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                jac.alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    # NOT salted like embedding_near_dups: the shingle sets are heavy
    # (a replicated b side pays ~|sh| strings per extra copy in the
    # exchange), the persisted base makes the warm join cache-bound
    # rather than compute-bound, and the measured warm wall REGRESSED
    # under a 4x fan-out. Within-block parallelism comes from AQE
    # splitting skewed join partitions.
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
               & size_prune)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 48


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """(id, sim) with a 48-bit SimHash over word shingles.

    Shape chosen for scale: explode shingles → one hash per shingle
    row → a single hash-aggregate with 48 conditional-sum columns
    (bit votes) → recombine. One shuffle on id; everything JVM-side.
    """
    sh = _spread(df, id_col).select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("s")
    )
    # xxhash64 → 64 well-mixed bits, no post-arithmetic (ANSI-safe);
    # bit b is read with an arithmetic shift + mask, valid for b < 63.
    hashed = sh.select(id_col, F.xxhash64(F.col("s")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return agg.select(id_col, sim.alias("sim"))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
) -> DataFrame:
    """Hamming-≤(bands-1) candidates by pigeonhole: split the simhash
    into bands; pairs equal on ANY band are candidates."""
    width = SIMHASH_BITS // bands
    sim = simhash_table(df, text_col, id_col)
    banded = sim.select(
        id_col,
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("sim"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                for i in range(bands)
            ])
        ).alias("band_idx", "band_val"),
    )
    banded = _tracked_persist(banded)  # avoid recomputing the simhash per join side
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def embedding_near_dups(
    df: DataFrame,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Cosine near-duplicate pairs inside a blocking key.

    Blocking on label (or an IVF cluster_id from operators/ivf.py)
    turns the n² cross join into per-block equi-joins; at 100 TB the
    block key IS the partition key so the join is co-located.
    """
    from ..functions import vector as V

    # Per-row norm ONCE before the self-join: the pairwise cosine then
    # costs one dot fold instead of three (norm-a, norm-b, dot), and
    # the bits are unchanged — each norm is the identical per-row fold
    # the inline cosine_similarity would compute, and the product /
    # divide / round pipeline is the same IEEE sequence.
    base = df.select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        F.col(vec_col),
        V.l2_norm(F.col(vec_col)).alias("_nrm"),
    )
    # Low-cardinality blocking (10 labels at ANY corpus size) caps the
    # pair stage at n_blocks parallel tasks; the adaptive salt fan-out
    # restores within-block parallelism (no-op when blocks already
    # exceed the cluster parallelism — see _auto_salt_factor).
    base = _tracked_persist(base)
    n_blocks = base.select("_blk").distinct().count()
    n_salt = _auto_salt_factor(base, n_blocks)
    a, b, salt_conds = _salted_self_join_sides(base, id_col, n_salt)
    denom = F.col("a._nrm") * F.col("b._nrm")
    sim = F.round(
        F.when(
            denom != 0.0,
            V.dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / denom,
        ),
        6,
    )
    cond = (F.col("a._blk") == F.col("b._blk")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in salt_conds:
        cond = cond & c
    return (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def minhash_lsh_mllib(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hash_tables: int = 8,
):
    """MLlib MinHashLSH variant (approxSimilarityJoin) — the stock
    Spark path; kept alongside the explicit implementation above for
    parity with standard pipelines. Returns (id_a, id_b, jaccard_dist).
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH, RegexTokenizer

    tok = RegexTokenizer(inputCol=text_col, outputCol="_toks", pattern=r"\s+")
    toks = tok.transform(df.select(id_col, text_col))
    # empty/whitespace-only documents tokenize to [] → an all-zero
    # vector, which MinHashLSH rejects ("must have at least 1 non zero
    # entry") — crashing the whole job on one degenerate row. They can
    # have no similarity candidates anyway; drop them up front (the
    # explicit MinHash implementation tolerates empty text natively).
    toks = toks.filter(F.size("_toks") > 0)
    cv = CountVectorizer(inputCol="_toks", outputCol="_features", binary=True)
    cvm = cv.fit(toks)
    feats = cvm.transform(toks)
    mh = MinHashLSH(inputCol="_features", outputCol="_hashes",
                    numHashTables=num_hash_tables, seed=42)
    model = mh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 1.0 - threshold,
                                        distCol="jaccard_dist")
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(F.col(f"datasetA.{id_col}").alias("id_a"),
                F.col(f"datasetB.{id_col}").alias("id_b"),
                F.round("jaccard_dist", 6).alias("jaccard_dist"))
    )


def srp_signatures(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Signed-random-projection (SRP / hyperplane-LSH) band signatures
    for cosine similarity — the vector-space analog of the text
    SimHash above. Each bit is sign(v · h_i) for a seeded Gaussian
    hyperplane h_i; collision probability per bit is 1 − θ/π, so
    near-parallel vectors collide on whole bands.

    The hyperplanes are driver-generated constants (seeded numpy,
    shipped once in the UDF closure — n_bits × dim doubles), and all
    n_bits dot products per row run as ONE BLAS matmul per Arrow
    batch inside a vectorized pandas_udf: X(n×d) @ planes.T(d×n_bits)
    → sign bits → per-band integer pack, all numpy. An earlier
    version built the 96 dot products as F.aggregate/zip_with folds —
    "JVM-side", but higher-order-function expressions are
    CodegenFallback (interpreted per element), so 96 folds × 64
    elements per ROW cost ~12× this matmul. No shuffle until the band
    grouping. Returns (id, band, band_value)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if n_bits % bands:
        raise ValueError("n_bits must divide evenly into bands")
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    rows_per_band = n_bits // bands
    # MSB-first pack weights — same band values the fold version built
    # (shiftleft then OR, first bit most significant)
    weights = (1 << np.arange(rows_per_band)[::-1]).astype(np.int64)

    @pandas_udf("array<long>")
    def _band_vals(col: pd.Series) -> pd.Series:
        ok = col.notna()
        res: list = [None] * len(col)
        if ok.any():
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in col[ok]]
            )[:, :dim]
            bits = (x @ planes.T >= 0).astype(np.int64)  # n × n_bits
            vals = np.stack(
                [
                    bits[:, b * rows_per_band:(b + 1) * rows_per_band]
                    @ weights
                    for b in range(bands)
                ],
                axis=1,
            )  # n × bands
            for i, row in zip(np.flatnonzero(ok.to_numpy()), vals):
                res[i] = row.tolist()
        return pd.Series(res, index=col.index)

    sigs = df.select(
        F.col(id_col),
        _band_vals(F.col(vec_col).cast("array<double>")).alias("_bv"),
    )
    return sigs.select(
        F.col(id_col), F.posexplode("_bv").alias("band", "val")
    )


def srp_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    threshold: float = 0.9,
    n_bits: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-duplicate pairs WITHOUT a blocking label: SRP band
    buckets propose candidates (equi-join on (band, value) — no n²),
    exact cosine verifies. The scale path when no natural block key
    exists; with one, prefer embedding_near_dups' co-located join."""
    from ..functions import vector as V

    # persisted: the band table feeds BOTH sides of the bucket
    # self-join — without the barrier the 16 dot-product folds run
    # twice over the corpus (the self-join double-eval trap)
    sigs = _tracked_persist(
        srp_signatures(df, vec_col, id_col, dim, n_bits, bands, seed)
    )
    a = sigs.select(F.col(id_col).alias("id_a"), "band", "val")
    b = sigs.select(F.col(id_col).alias("id_b"), "band", "val")
    cands = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    base = df.select(F.col(id_col), F.col(vec_col))
    va = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    sim = F.round(V.cosine_similarity(F.col("_va"), F.col("_vb")), 6)
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _min_label_numpy(edges) -> tuple:
    """Vectorized driver-side finisher: min-label propagation with
    pointer jumping over the dense-index edge triple (ids, inv_src,
    inv_dst) from graph._symmetrize_driver. Same result as a
    union-find (label → component-minimum label) but each round is a
    handful of numpy kernels over all edges at once — ~10× faster
    than the per-edge Python loop at 10⁶ edges. Converges in
    O(log diameter) rounds (pointer jumping halves chains).

    TYPE-AGNOSTIC: the kernels run on the integer INDICES into the
    sorted id universe, so string/uuid doc ids (jaccard_pairs and the
    LSH tiers produce them routinely) work unchanged, with the same
    lexicographic min-survivor semantics the distributed
    contraction's F.least/min gives string columns."""
    import numpy as np

    ids, s, d = edges
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        prev = lab.copy()
        # each endpoint adopts the smaller of the two labels
        np.minimum.at(lab, s, lab[d])
        np.minimum.at(lab, d, lab[s])
        # pointer jumping: compress label chains
        lab = np.minimum(lab, lab[lab])
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, prev):
            break
    # aligned (node ids, component-min ids) arrays — callers hand them
    # to createDataFrame through pandas/Arrow (a python dict + list of
    # tuples measured ~1.5 s at 500k labels vs ~0.1 s over Arrow)
    return ids, ids[lab]


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_finish_edges: int = 1 << 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup PAIRS → (id, component), with
    component = min id reachable. The transitive-closure finisher
    pair-wise drop rules miss: for a chain A~B~C, drop-larger-of-pair
    keeps A and C (never directly compared) — component grouping
    collapses the whole chain to one survivor. Pairs with a NULL id
    are dropped.

    Min-label CONTRACTION (the MapReduce-CC family of Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each round every
    live node adopts min(self, min neighbor), the id→label mapping is
    composed with that relabel, and the edge set is rewritten onto the
    new labels with self-loops dropped. Near-dup graphs are dense
    blocks (a clique of k mutual dups carries k²/2 pairs), so the
    edge set collapses after ONE round instead of being re-shuffled
    at full size for diameter-many rounds, as plain label propagation
    would; chains still contract in O(log diameter) rounds. The loop
    stops when no edges survive contraction.

    Loop-carried tables are checkpointed, not persist'ed: each
    round's logical plan would otherwise nest every earlier round's,
    and Catalyst re-optimization of the growing tree comes to dominate
    wall-clock within ~3 rounds (measured: a 4-edge round cost 27 s
    under persist, <1 s checkpointed). Default is ``localCheckpoint``
    (executor block managers — see cache.materialize for the executor
    -loss caveat); pass a reliable ``checkpoint_dir`` for long
    cluster runs. Checkpoint blocks are dropped by the ContextCleaner
    when the loop releases its references.

    Driver finish, through the one gate ``cache.collect_bounded``
    shared with pagerank and kcore: the tail rounds of an iterative
    graph algorithm touch a few hundred rows yet still pay full
    scheduling+shuffle latency each, so a frontier that fits in
    ``driver_finish_edges`` symmetrized edges (default 1 Mi ≈ 16 MB)
    is collected once and finished in numpy. Before any distributed
    round the gate is on the pairs (at most ``driver_finish_edges //
    2`` of them) and the finisher's label map IS the result; after a
    round it is on the real edge count the round just took, and the
    label map is broadcast back onto the id→label table. Contraction
    shrinks a dense dup graph by orders of magnitude per round, so
    even at 100 TB the frontier typically crosses the threshold after
    the first round or two."""
    from ..cache import collect_bounded, materialize, tracked_persist
    from .graph import _driver_graph, _graph_input, _symmetrize_driver, _symmetrized

    def _ckpt(df: DataFrame) -> DataFrame:
        return materialize(df, checkpoint_dir)

    p0 = _graph_input(pairs, id_a, id_b, checkpoint_dir)
    id_t = p0.schema["src"].dataType.simpleString()

    def finish(tri, comp: DataFrame | None) -> DataFrame:
        """The one driver finisher: min labels over the collected
        edges are the result before any distributed round, and
        compose onto the id→label table ``comp`` after one."""
        ids, labels = _min_label_numpy(tri)
        relmap = pairs.sparkSession.createDataFrame(
            pd.DataFrame({"_u": ids, "_new": labels}),
            f"_u {id_t}, _new {id_t}",
        )
        if comp is None:
            return relmap.toDF("id", "comp")
        return comp.join(
            F.broadcast(relmap), comp["comp"] == relmap["_u"], "left"
        ).select("id", F.coalesce("_new", "comp").alias("comp"))

    tri = _driver_graph(p0, driver_finish_edges if max_iter > 0 else 0)
    if tri is not None:
        return finish(tri, None)
    # NO distinct on the symmetrized edges — measured (sf1, 44.7M
    # pairs) it was the single largest cost of the whole algorithm: a
    # full hash-shuffle + dedup of 2|E| mostly-unique rows. Min-label
    # contraction is DUPLICATE-INSENSITIVE (min over a multiset equals
    # min over its set), and the per-round post-relabel distinct runs
    # AFTER contraction collapses the key space.
    edges = _ckpt(_symmetrized(p0))
    remaining = edges.count()
    # id → current label; composed with each round's relabel
    comp = _ckpt(
        edges.select(F.col("src").alias("id")).distinct().withColumn(
            "comp", F.col("id")
        )
    )
    for _ in range(max_iter):
        if remaining == 0:
            break
        pdf = collect_bounded(edges, driver_finish_edges, rows=remaining)
        if pdf is not None:
            comp = finish(_symmetrize_driver(pdf), comp)
            break
        # each live node adopts min(self, min neighbor). The relabel
        # map has ≤ one row per LIVE node and three joins consume it
        # (comp composition + both edge-rewrite sides). Left to static
        # planning its size is unknown (persisted but not yet
        # materialized) → sort-merge, which shuffles the FULL edge set
        # twice per round — at sfx30 that is 805M rows ×2. The count()
        # both materializes the persist and gates an explicit
        # broadcast (64 MB at the 4 Mi-label BROADCAST_ID_GATE; above
        # that, billions of live nodes, shuffle is the right plan).
        relab = tracked_persist(
            edges.groupBy("src").agg(F.min("dst").alias("_mn")).select(
                F.col("src").alias("_u"),
                F.least(F.col("src"), F.col("_mn")).alias("_new"),
            )
        )
        n_lab = relab.count()
        rel_j = F.broadcast(relab) if n_lab <= BROADCAST_ID_GATE else relab
        new_comp = _ckpt(
            comp.join(rel_j, comp["comp"] == relab["_u"], "left")
            .select(F.col("id"), F.coalesce(F.col("_new"), F.col("comp")).alias("comp"))
        )
        ra = rel_j.select(F.col("_u").alias("_ua"), F.col("_new").alias("_na"))
        rb = rel_j.select(F.col("_u").alias("_ub"), F.col("_new").alias("_nb"))
        new_edges = _ckpt(
            edges.join(ra, edges["src"] == ra["_ua"])
            .join(rb, edges["dst"] == rb["_ub"])
            .select(F.col("_na").alias("src"), F.col("_nb").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        relab.unpersist()
        # REAL count, not limit(1).count(): the latter caps `remaining`
        # at 1, which made the driver-finish threshold check on the next
        # iteration unconditionally true — the toPandas() finisher would
        # fire after one contraction round no matter how many edges
        # survived (driver OOM risk on a dense 100 TB dup graph). The
        # edge set was just checkpointed, so counting it is one cheap
        # scan of materialized blocks.
        remaining = new_edges.count()
        edges, comp = new_edges, new_comp
        if remaining == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_components: edges remain after {max_iter} rounds — "
            "labeling incomplete (downstream survivors would keep both "
            "members of some dup pairs); raise max_iter"
        )
    return comp.select("id", "comp")


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    broadcast_ids: int | None = None,
) -> DataFrame:
    """Keep one row per near-dup component (the min id) plus every row
    that appears in no pair — the corpus-level dedup finisher.

    The drop list is count-gated like the relabel map inside
    ``dedup_components``: broadcast below ``broadcast_ids`` (the common
    case), plain anti-join above it (100 TB dup rates make the list
    corpus-scale — billions of ids is over the broadcast cap).

    Not fully lazy: the gate counts the drop list eagerly at call time
    (on top of ``dedup_components``' own actions) and pins it in the
    tracked-cache registry — batch callers release with
    ``release_caches()`` after the returned plan materializes."""
    comps = dedup_components(pairs, checkpoint_dir=checkpoint_dir)
    drop = comps.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("_drop_id")
    )
    return df.join(
        gate_broadcast(drop, broadcast_ids),
        F.col(id_col) == F.col("_drop_id"),
        "left_anti",
    )
