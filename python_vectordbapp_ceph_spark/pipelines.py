"""End-to-end training-data preparation pipeline — the LLM-pipeline
operators composed the way a 100 TB corpus job composes them:

    scan → exact dedup → near-dup removal (LSH candidates → exact
    Jaccard verify → drop one of each pair) → quality/language filter
    → token annotation → embedding join + normalize

Every stage is one of the registry's tested operators; this module
only sequences them into a single lazy plan (the driver sees one
DataFrame — Catalyst fuses the stages; nothing materializes until the
sink). The near-dup drop list is anti-joined with a plain join: AQE
broadcasts it from its measured size while it fits (the common case)
and shuffles it above the threshold (at 100 TB web-crawl dup rates the
list is corpus-scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import tracked_persist
from .functions import text as X
from .functions import vector as V
from .io import load_table
from .operators.dedup import (
    _spread,
    exact_dedup,
    gate_broadcast,
    minhash_lsh_candidates,
    minhash_signatures,
    shingles,
)


def _shingled(docs: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    """(id, sh, n_sh), shingled ONCE and persisted: the table feeds the
    MinHash signatures AND both sides of the verify join. Without the
    materialization barrier the normalize→split→shingle pipeline — the
    dominant cost of the funnel — would run once per consumer."""
    return tracked_persist(
        _spread(docs, id_col).select(
            F.col(id_col),
            shingles(text_col, shingle_n).alias("sh"),
        ).withColumn("n_sh", F.size("sh"))
    )


def near_dup_drop_list(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id) rows to drop: the larger id of every verified near-dup pair.

    Funnel: LSH candidates (bucket-join, no n²) → exact Jaccard verify
    restricted to the candidate pairs → keep-min/drop-max survivor
    rule. Lazy: building the plan runs no Spark job. The drop list is
    small PROPORTIONALLY but not absolutely; a caller anti-joins it
    with a plain join and AQE picks broadcast or shuffle from its
    measured size."""
    sh = _shingled(docs, id_col, text_col, shingle_n)
    sigs = minhash_signatures(sh, id_col=id_col, num_hashes=num_hashes,
                              shingle_col="sh")
    cands = minhash_lsh_candidates(sigs, id_col, bands)
    # verify stage: exact Jaccard only on candidate pairs — join the
    # shingle sets back by id (blocking key = the candidate pair itself)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
                  F.col("n_sh").alias("n_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
                  F.col("n_sh").alias("n_b"))
    # same single-intersect |A∪B| = |A|+|B|-|A∩B| formulation as
    # dedup.jaccard_pairs (codegen CSEs the repeated inter subtree)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            inter.cast("double")
            / (F.col("n_a") + F.col("n_b") - inter).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return verified.select(F.col("id_b").alias(id_col)).distinct()


def decontaminate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "split",
    eval_splits: tuple[str, ...] = ("valid", "test"),
    jaccard_threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: drop TRAIN documents that are
    near-duplicates of any eval-split document (train→eval leakage
    silently inflates evaluation scores).

    Same LSH-candidates → exact-Jaccard-verify funnel as near-dup
    removal, but only CROSS-split pairs matter and only the train side
    is dropped — eval rows are never touched. Returns the input minus
    contaminated train rows.

    Not fully lazy: the count-gated broadcast of the dirty-train list
    runs an eager count job at call time and pins a tracked persist —
    batch callers release with ``operators.dedup.release_caches()``
    after the returned plan materializes.
    """
    sh = _shingled(docs, id_col, text_col, shingle_n)
    sigs = minhash_signatures(sh, id_col=id_col, num_hashes=num_hashes,
                              shingle_col="sh")
    cands = minhash_lsh_candidates(sigs, id_col, bands)

    # Attach the CHEAP (id, split) columns first and reduce to
    # cross-split pairs, THEN join the heavy shingle arrays onto the
    # survivors only. With 80/10/10 splits ~65% of candidate pairs are
    # train-train/eval-eval — joining shingles before the split filter
    # would shuffle the widest column in the pipeline for pairs that
    # can never be contamination.
    splits = docs.select(F.col(id_col), F.col(split_col))
    cross = (
        cands.join(splits.select(F.col(id_col).alias("id_a"),
                                 F.col(split_col).alias("split_a")), "id_a")
        .join(splits.select(F.col(id_col).alias("id_b"),
                            F.col(split_col).alias("split_b")), "id_b")
        .filter(
            ((F.col("split_a") == "train") & F.col("split_b").isin(*eval_splits))
            | ((F.col("split_b") == "train") & F.col("split_a").isin(*eval_splits))
        )
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
                  F.col("n_sh").alias("n_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
                  F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    pairs = (
        cross.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    dirty_train = (
        pairs.select(
            F.when(F.col("split_a") == "train", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias(id_col)
        ).distinct()
    )
    # anti-join is conditioned on split=='train' so an eval row sharing
    # an id (impossible here, but cheap insurance) is never dropped.
    # Count-gated broadcast: a contaminated-train list is usually small,
    # but nothing bounds it a priori — above the gate the plain join
    # lets AQE plan from the real size instead of OOMing on broadcast.
    return docs.join(
        gate_broadcast(dirty_train.withColumnRenamed(id_col, "_dirty_id")),
        (F.col(id_col) == F.col("_dirty_id")) & (F.col(split_col) == "train"),
        "left_anti",
    )


def prepare_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.2,
    lang: str | None = "en",
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """The full curation plan over the driver tables: returns one row
    per surviving document with quality/token annotations and its
    L2-normalized embedding (docs without an embedding survive with
    null — the multimodal left join).

    Lazy: the call runs no Spark job; the returned plan does all the
    work when it is acted on. It pins a tracked persist (the shingle
    table) — batch callers release with
    ``operators.dedup.release_caches()`` after the plan materializes."""
    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")

    deduped = exact_dedup(docs)
    drops = near_dup_drop_list(deduped, jaccard_threshold=jaccard_threshold)
    # plain anti-join, no count gate: at web-crawl dup rates (30-60%)
    # the drop list is corpus-scale, and AQE's runtime broadcast
    # conversion decides from its measured size without an eager job
    kept = deduped.join(drops, "doc_id", "left_anti")

    annotated = kept.select(
        "doc_id", "text", "source", "n_chars",
        X.lang_id("text").alias("lang_guess"),
        X.quality_score("text").alias("quality"),
        X.token_count_ws("text").cast("long").alias("n_tokens"),
    ).filter(F.col("quality") >= min_quality)
    if lang is not None:
        annotated = annotated.filter(F.col("lang_guess") == lang)

    emb = embs.select(
        F.col("vec_id").alias("doc_id"),
        V.l2_normalize("embedding").alias("embedding"),
        "label",
    )
    return annotated.join(emb, "doc_id", "left")
