"""Text-analysis + dedup surface (SURVEY §2.C24-C26): exact dedup,
token stats, language ID, quality scoring, exact Jaccard similarity
pairs, MinHash-LSH / SimHash near-dup candidates.

Exact tiers carry full DuckDB oracles that repeat the identical
normalization (lower → strip non-alnum → collapse whitespace) and the
identical ratio arithmetic. LSH tiers are approximate-by-construction →
rows-only, with recall pytest-verified against exact Jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ._common import T, widen
from ..cache import tracked_persist as _tracked_persist
from ..functions import text as X
from ..operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash_candidates,
)

# DuckDB mirror of text.normalize_for_fingerprint
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
# DuckDB mirror of text.tokens (whitespace split, empties dropped)
_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')"
_TOKS_LOWER = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')"
_STOPLIST = "[" + ", ".join(f"'{w}'" for w in X.STOPWORDS) + "]"
_STOP_RATIO = (
    f"CASE WHEN len({_TOKS_LOWER}) = 0 THEN 0.0 "
    f"ELSE CAST(len(list_filter({_TOKS_LOWER}, x -> list_contains({_STOPLIST}, x))) AS DOUBLE)"
    f" / CAST(len({_TOKS_LOWER}) AS DOUBLE) END"
)
_PUNCT_RATIO = (
    "CASE WHEN length(text) = 0 THEN 0.0 "
    "ELSE CAST(length(regexp_replace(text, '[^\\.\\,\\;\\:\\!\\?]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE) END"
)


# --- C24 exact dedup -------------------------------------------------------

@register(
    "q_dedup_exact",
    oracle=f"""
    WITH f AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents),
    r AS (SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f)
    SELECT doc_id FROM r WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on the 128-bit md5 fingerprint; survivor = min(id).
    md5 (not murmur hash()) so the oracle engine produces identical
    fingerprints."""
    d = T(spark, sf_dir, "documents")
    return exact_dedup(d).select("doc_id")


# --- C26 token statistics --------------------------------------------------

@register(
    "q_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '{X.BPE_TOKEN_RE}', 0)) AS BIGINT) AS n_tokens_bpe,
           round({_STOP_RATIO}, 6) AS stop_ratio,
           round({_PUNCT_RATIO}, 6) AS punct_ratio
    FROM documents
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting, stopword/punct ratios —
    pure Catalyst expressions, zero Python in the hot path."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.token_count_ws("text").cast("long").alias("n_tokens_ws"),
        X.token_count_bpe("text").cast("long").alias("n_tokens_bpe"),
        F.round(X.stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(X.punct_ratio("text"), 6).alias("punct_ratio"),
    )


# --- C26 language ID -------------------------------------------------------

def _lang_oracle() -> str:
    hits = {
        lang: f"len(list_filter({_TOKS_LOWER}, x -> list_contains("
        f"[{', '.join(repr(m) for m in markers)}], x)))"
        for lang, markers in X.LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in X.LANG_MARKERS) + ")"
    whens = " ".join(
        f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in X.LANG_MARKERS
    )
    cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    return f"""
    WITH h AS (SELECT doc_id, {cols} FROM documents)
    SELECT doc_id,
           CASE WHEN {best} = 0 THEN 'und' {whens} ELSE 'und' END AS lang_guess
    FROM h
    """


@register("q_lang_id", oracle=_lang_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token argmax language heuristic; tie order en>de>fr>es is
    identical in both formulations."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", X.lang_id("text").alias("lang_guess"))


# --- C26 quality scoring ---------------------------------------------------

@register(
    "q_quality_score",
    oracle=f"""
    SELECT doc_id,
           round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                  + greatest(1.0 - abs(({_STOP_RATIO}) - 0.4) / 0.4, 0.0)
                  + (1.0 - least(({_PUNCT_RATIO}) * 5.0, 1.0))) / 3.0, 6) AS quality
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", X.quality_score("text").alias("quality"))


# --- C25 exact Jaccard similarity pairs ------------------------------------

@register(
    "q_jaccard_pairs",
    oracle=f"""
    WITH s AS (SELECT doc_id, source,
                      list_distinct(string_split({_NORM_SQL}, ' ')) AS sh
               FROM documents),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
                       6) AS jaccard
          FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5
    """,
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard restricted to a blocking key (source):
    per-block n² only, equi-join shuffle on the block key. The verify
    stage of the near-dup funnel.

    Scale contract: exact all-pairs-within-block is QUADRATIC in the
    block and exists to VERIFY the approximate tiers at verification
    SF (gated exact through sf0.1); at production scale the block key
    must bound block size (or the LSH candidate set replaces the
    block join — q_dedup_near is the 100 TB path, with its recall
    measured and pinned by q_lsh_recall)."""
    d = T(spark, sf_dir, "documents")
    return jaccard_pairs(d, block_col="source", shingle_n=1, threshold=0.5)


# --- C25 MinHash-LSH near-dup candidates (rows-only) -----------------------

@register("q_dedup_near")
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures → banded LSH bucket-join: candidate pairs
    without the n² cross join. Approximate → rows-only; recall vs exact
    Jaccard is pytest-verified."""
    d = T(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=16, shingle_n=3)
    return minhash_lsh_candidates(sigs, bands=4)


@register("q_simhash_near")
def q_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding (Hamming-≤3 by pigeonhole over 4 bands)."""
    d = T(spark, sf_dir, "documents")
    return simhash_candidates(d, bands=4)


@register(
    "q_repetition_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents),
    big AS (SELECT doc_id,
                   unnest(list_transform(range(len(t) - 1),
                          i -> t[i+1] || ' ' || t[i+2])) AS bg
            FROM toks WHERE len(t) >= 2),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg)
    SELECT doc_id,
           round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac,
           CAST(SUM(c) AS BIGINT) AS n_bigrams
    FROM cnt GROUP BY doc_id
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher/RefinedWeb-style): fraction of
    the document occupied by its most frequent bigram. High values mark
    boilerplate/spam. explode → two-level hash aggregate, all JVM-side."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.concat_ws(" ", F.element_at(F.col("t"), i + 1),
                              F.element_at(F.col("t"), i + 2)),
    )
    exploded = (
        d.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
    )
    cnt = exploded.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_bigram_frac"),
        F.sum("c").cast("long").alias("n_bigrams"),
    )


@register(
    "q_lexical_diversity",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents)
    SELECT doc_id,
           round(CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE), 6) AS unique_ratio,
           round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE), 6) AS mean_word_len
    FROM t WHERE len(toks) > 0
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + mean word length: the cheap lexical-diversity
    quality signals (low TTR = repetitive boilerplate)."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    total_len = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return t.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks").cast("double"), 6,
        ).alias("unique_ratio"),
        F.round(total_len.cast("double") / F.size("toks").cast("double"), 6).alias(
            "mean_word_len"
        ),
    )


@register("q_freq_items")  # approximate sketch → rows-only
def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameStatFunctions.freqItems: approximate heavy hitters in
    one pass (the scale path where exact top-k by count would group
    the full column)."""
    o = T(spark, sf_dir, "orders")
    freq = o.stat.freqItems(["o_orderpriority"], support=0.1)
    return freq.select(
        F.explode("o_orderpriority_freqItems").alias("frequent_priority")
    )


@register(
    "q_heavy_hitters",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS_LOWER}) AS tok FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT tok, COUNT(*) AS cnt,
           (COUNT(*) * 1000000) // (SELECT n FROM tot) AS share_ppm
    FROM toks GROUP BY tok
    HAVING COUNT(*) * 200 > (SELECT n FROM tot)
    ORDER BY cnt DESC, tok
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens with > 1/200 corpus share) in two
    passes with NO vocabulary-sized shuffle — the exact counterpart of
    q_freq_items' candidates-only sketch. Pass 1: per-partition
    Misra-Gries (k=200 counters, batched mergeable reduction) emits
    ≤ 200 candidates per partition; the pigeonhole guarantee makes
    missing a global heavy hitter impossible. Pass 2: broadcast
    semi-join + exact counts for candidates only, filter cnt·k > N.
    Result is bit-identical to the full GROUP BY … HAVING the oracle
    runs, but at 100 TB the shuffle carries ≤ k·partitions candidate
    keys, not the vocabulary (operators/heavyhitters.py)."""
    from ..operators.heavyhitters import heavy_hitters

    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    return heavy_hitters(
        d.select(F.explode(toks).alias("tok")), "tok", k=200
    )


@register(
    "q_vocab_topk",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS_LOWER}) AS tok FROM documents)
    SELECT tok, COUNT(*) AS freq
    FROM toks GROUP BY tok
    ORDER BY freq DESC, tok LIMIT 50
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: global token frequencies, top 50 — the
    tokenizer-training input. explode → hash aggregate →
    TakeOrderedAndProject; at 100 TB the aggregate partial-combines
    map-side so the shuffle carries (token, count), not tokens."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    return (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(50)
    )


@register("q_dedup_near_mllib")
def q_dedup_near_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-Spark variant: MLlib MinHashLSH.approxSimilarityJoin over
    CountVectorizer token sets — kept alongside the explicit banding
    implementation for parity with standard pipelines.

    ############################  SCALE GATE  ############################
    COMPARISON-TIER ONLY — DO NOT BENCH OR RUN ABOVE sf0.01. Measured
    walls: >10 MINUTES at sf0.1 and >600 s (sweep watchdog) at sf1,
    while the native banding tier `q_dedup_near` runs the same corpus
    in ~1.0 s (sf0.1) / ~3.9 s (sf1). The cost is structural, not
    tunable: approxSimilarityJoin explodes each document into one row
    PER HASH TABLE and join-verifies every bucket collision pair —
    the candidate blowup the banded implementation exists to avoid.
    This row is correctness-swept at sf0.01 only and excluded from
    bench.py by measured necessity (tools/plans_appendix.md
    "MLlib-comparison twin"); `q_dedup_near` is the production path.
    #######################################################################"""
    from ..operators.dedup import minhash_lsh_mllib

    d = T(spark, sf_dir, "documents")
    return minhash_lsh_mllib(d, threshold=0.4, num_hash_tables=8)


# --- privacy scrub + chunking (training-pipeline text ops) -----------------

@register(
    "q_pii_scrub",
    oracle=r"""
    WITH synth AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com or 555-867-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
             || '.7 ssn 123-45-6789' AS raw
      FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(raw,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g'),
               '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\b\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS scrubbed
    FROM synth
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / SSN-shaped ids / IPv4 / phones) — the
    pre-training privacy pass. The synthetic corpus contains no PII,
    so the query plants deterministic PII derived from doc_id in BOTH
    engines and verifies the scrubbed output hash-exactly. Chained
    JVM regexp_replace, identical RE2-compatible patterns in the
    oracle (functions/text.py::PII_PATTERNS)."""
    d = T(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-867-"),
        F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        F.pmod("doc_id", F.lit(256)).cast("string"),
        F.lit(".7 ssn 123-45-6789"),
    )
    return d.select("doc_id", X.scrub_pii(raw).alias("scrubbed"))


@register(
    "q_chunk_documents",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_TOKS} AS words FROM documents),
         s AS (SELECT doc_id, words, len(words) AS n FROM w WHERE len(words) > 0)
    SELECT doc_id,
           CAST(start / 16 AS BIGINT) AS chunk_id,
           array_to_string(words[start + 1 : start + 32], ' ') AS chunk,
           CAST(least(32, n - start) AS BIGINT) AS chunk_words
    FROM s, UNNEST(range(0, n, 16)) AS t(start)
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking (size 32, stride 16) — the
    context-window precursor to sequence packing. One explode over a
    per-row start list; slicing/joining is all JVM array ops
    (functions/text.py::chunk_text). Scales as a narrow map + explode:
    no shuffle at all."""
    d = T(spark, sf_dir, "documents")
    return X.chunk_text(d, "text", size=32, stride=16).select(
        "doc_id", "chunk_id", "chunk", "chunk_words"
    )


@register("q_dedup_components")  # iterative label propagation → rows-only
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup: LSH candidate pairs → exact-Jaccard
    verify → connected components (iterative min-label propagation,
    operators/dedup.py::dedup_components) → one survivor per
    component. Pair-wise drop rules under-merge chains A~B~C; the
    component form is what corpus dedup actually ships. Iterative →
    non-SQL-expressible → rows-only; chain semantics pytest-pinned."""
    from ..operators.dedup import (
        dedup_components,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    d = T(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "text", "doc_id", 16, 3)
    cands = minhash_lsh_candidates(sigs, "doc_id", 8)
    comps = dedup_components(cands)
    return comps.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


@register(
    "q_graph_components",
    oracle=f"""
    WITH RECURSIVE
    s AS (SELECT doc_id, source,
                 list_distinct(string_split({_NORM_SQL}, ' ')) AS sh
          FROM documents),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                >= 0.5),
    e AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
    reach(id, lab) AS (
        SELECT src, src FROM e
        UNION
        SELECT e2.src, r.lab FROM e e2 JOIN reach r ON e2.dst = r.id
    )
    SELECT id AS doc_id, MIN(lab) AS component FROM reach GROUP BY id
    """,
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EXACT-Jaccard similarity graph —
    the hash-verified twin of q_dedup_components (whose LSH edge set
    is approximate by design). Both engines walk the same edges:
    Spark via dedup_components, DuckDB via a recursive-CTE transitive
    closure. A pair set that fits the driver gate (at most
    ``driver_finish_edges // 2`` pairs, as here) is collected once and
    labeled in numpy; a larger one runs min-label contraction rounds,
    a few bounded shuffles per round, until the frontier fits.
    Min-reachable-id labels are algorithm-independent, so the results
    hash-match exactly. At 100 TB the closure form is infeasible
    (quadratic frontier) while contraction stays bounded shuffles per
    round — that asymmetry is the point of implementing it as an
    operator rather than SQL."""
    from ..operators.dedup import dedup_components

    d = T(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        d, block_col="source", shingle_n=1, threshold=0.5
    ).select("id_a", "id_b")
    comps = dedup_components(pairs)
    return comps.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


@register(
    "q_tfidf_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
               CAST(t.tf * n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE) AS score
        FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tf, df, round(score, 6) AS tfidf_raw,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rn
        FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf_raw, rn
    FROM ranked WHERE rn <= 5
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 keywords by TF-IDF — the corpus keyword /
    relevance primitive. idf is the RAW N/df ratio: log is monotone,
    so the per-doc ranking is identical to log-idf, and the ratio of
    exact integers (tf*N ≤ 2^53, one IEEE divide) hash-matches across
    engines where `ln` (not correctly rounded) might not.

    Scale shape: explode → (doc,term) partial-combined count → term df
    aggregate (shuffle carries distinct terms only) → term-keyed join
    back → doc-keyed window top-5. The corpus size N rides a broadcast
    scalar; nothing driver-side."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tf = (
        d.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    from ..cache import tracked_persist

    tf = tracked_persist(tf)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    score = F.col("tf") * F.col("n_docs")
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            score.cast("double") / F.col("df").cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "doc_id", "term", "tf", "df",
            F.round("score", 6).alias("tfidf_raw"), "rn",
        )
    )


@register(
    "q_fuzzy_join",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) self-join — entity-resolution tier of the
    dedup family, for near-identical NAMES where token Jaccard is too
    coarse. Blocked on p_type so the n² stays per-block, exactly as
    jaccard_pairs blocks on source; levenshtein evaluates inside the
    join condition (JVM codegen) so non-matches never materialize.
    Classic DP levenshtein is engine-identical → exact integer
    oracle. At scale, the blocking key bounds the pair count and the
    join is one equi-join shuffle on the block."""
    p = T(spark, sf_dir, "part")
    # the broadcast self-join streams `a` as-is, so the 1.3M-pair
    # levenshtein stage inherits the fixture's single scan split —
    # floor the parallelism on the streamed side (no-op at scale)
    a = widen(p).select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_type").alias("_ta"),
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_type").alias("_tb"),
    )
    # thresholded levenshtein (Spark 3.5+): banded DP that abandons a
    # pair the moment its distance must exceed 2 and returns -1 —
    # O(len·k) instead of O(len²) per pair, and EXACT for every kept
    # pair (threshold semantics only fuzz the rejected ones), so the
    # integer oracle is untouched. Measured 34 s → ~4 s on the sf0.1
    # 1.3M-pair block set.
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), 2)
    return (
        a.join(
            b,
            (F.col("_ta") == F.col("_tb"))
            & (F.col("id_a") < F.col("id_b"))
            & (dist >= 0),
        )
        .select(
            "id_a", "id_b", "name_a", "name_b",
            dist.cast("bigint").alias("edit_dist"),
        )
    )


@register(
    "q_bigram_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(len(t) - 1),
                                        i -> t[i + 1] || ' ' || t[i + 2])) AS bigram
           FROM toks WHERE len(t) >= 2),
    ref AS (SELECT bigram FROM (
                SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram
                ORDER BY c DESC, bigram LIMIT 1000)),
    per_doc AS (
        SELECT bg.doc_id, COUNT(*) AS n_bigrams,
               SUM(CASE WHEN ref.bigram IS NOT NULL THEN 1 ELSE 0 END) AS n_covered
        FROM bg LEFT JOIN ref ON bg.bigram = ref.bigram
        GROUP BY bg.doc_id)
    SELECT doc_id, n_bigrams, n_covered,
           round(CAST(n_covered AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) AS coverage
    FROM per_doc
    """,
)
def q_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-flavored fluency heuristic: the fraction of a
    document's bigram occurrences that appear in the corpus's top-1000
    bigram vocabulary — low coverage flags boilerplate/gibberish the
    unigram quality score misses. Integer counts and one rounded
    divide → exact across engines (a log-prob variant would hit
    non-correctly-rounded `ln`).

    Scale shape: the bigram explode is persisted and feeds BOTH the
    reference top-k (partial-combined count, tiny shuffle) and the
    per-doc aggregate; the reference vocabulary (1000 rows) broadcasts
    into the coverage join, so the only full-size shuffle is the
    per-doc groupBy."""
    from ..cache import tracked_persist

    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    withT = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    n = F.size("t")
    bigrams = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice("t", 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = tracked_persist(
        withT.select("doc_id", F.explode(bigrams).alias("bigram"))
    )
    ref = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "bigram")
        .limit(1000)
        .select(F.col("bigram").alias("_ref"))
    )
    return (
        bg.join(F.broadcast(ref), bg["bigram"] == F.col("_ref"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("_ref").isNotNull(), 1).otherwise(0)
            ).alias("n_covered"),
        )
        .select(
            "doc_id", "n_bigrams", "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_bigrams").cast("double"), 6
            ).alias("coverage"),
        )
    )


@register(
    "q_keyword_search",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    q AS (SELECT unnest(['query', 'scan']) AS term),
    hits AS (
        SELECT tf.doc_id, tf.term, tf.tf, d.df
        FROM tf JOIN q USING (term) JOIN df d ON d.term = tf.term),
    scored AS (
        SELECT doc_id, COUNT(*) AS terms_hit,
               round(SUM(CAST(tf * n.n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
                   AS score
        FROM hits CROSS JOIN n
        GROUP BY doc_id, n.n_docs
        HAVING COUNT(*) = 2)
    SELECT doc_id, terms_hit, score
    FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search with ratio-idf ranking (the
    text-search twin of the vector KNN path): docs containing ALL
    query terms, scored by Σ tf·N/df and top-20'd with a doc_id
    tiebreak. The query-term filter broadcasts into the (doc,term)
    aggregate BEFORE df joins — at scale only posting rows for the
    query's terms ever shuffle, which is exactly what an inverted
    index does. Sum of per-term ratios is order-insensitive here:
    each (tf·N)/df is an exact-integer division and the two-term sum
    is a single IEEE add in both engines."""
    from ..cache import tracked_persist

    TERMS = ["query", "scan"]
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tf = tracked_persist(
        d.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    qterms = F.broadcast(
        d.sparkSession.createDataFrame([(t,) for t in TERMS], "term string")
    )
    dfreq = (
        tf.join(qterms, "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    hits = tf.join(qterms, "term").join(F.broadcast(dfreq), "term")
    return (
        hits.crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("terms_hit"),
            F.round(
                F.sum(
                    (F.col("tf") * F.col("n_docs")).cast("double")
                    / F.col("df").cast("double")
                ),
                6,
            ).alias("score"),
        )
        .filter(F.col("terms_hit") == len(TERMS))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


# --- nucleus (top-p) vocabulary truncation ---------------------------------

@register(
    "q_nucleus_vocab",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS_LOWER}) AS tok FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
    c AS (SELECT tok, freq,
                 SUM(freq) OVER (ORDER BY freq DESC, tok
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum,
                 SUM(freq) OVER () AS total
          FROM vocab)
    SELECT tok, freq, cum
    FROM c WHERE (cum - freq) * 10 < total * 9
    """,
)
def q_nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) vocabulary truncation: the smallest
    frequency-ranked prefix of the corpus vocabulary covering >= 90%
    of total token mass — the tokenizer-budget question. A token is
    kept iff the mass BEFORE it is still under the threshold, so the
    crossing token is included; the 90% test multiplies integers
    ((cum-freq)*10 < total*9) — no float division anywhere.

    The global cumulative sum is NOT one unpartitioned window (Spark
    runs that on a single task; vocabulary grows Heaps-law with the
    corpus — q_vocab_growth measures it — so at 100 TB that's 10⁸–10⁹
    rows through one partition). Same two-phase distributed rank as
    q_shuffle_order (mining.py): range-repartition the vocab on
    (freq desc, tok) so each partition holds a contiguous rank range,
    cumsum WITHIN partitions, then add broadcast per-partition prefix
    offsets (a window over ≤num-partitions rows of partial sums).
    Every phase is bounded by one partition's slice of the vocab."""
    from pyspark.sql.window import Window

    from ..cache import tracked_persist

    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    vocab = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    npart = max(spark.sparkContext.defaultParallelism, 2)
    # persist pins the sampled range boundaries: the partial-sums pass
    # and the final cumsum pass must see the SAME partitioning
    parts = tracked_persist(
        vocab.repartitionByRange(npart, F.col("freq").desc(), F.col("tok"))
        .withColumn("_pid", F.spark_partition_id())
    )
    partials = parts.groupBy("_pid").agg(F.sum("freq").alias("_mass"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = partials.select(
        "_pid",
        F.coalesce(F.sum("_mass").over(w_off), F.lit(0)).alias("_off"),
    )
    total = partials.agg(F.sum("_mass").alias("_total"))
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(F.col("freq").desc(), "tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parts.withColumn("_cum_in", F.sum("freq").over(w_in))
        .join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(total))
        .withColumn("cum", F.col("_off") + F.col("_cum_in"))
        .filter((F.col("cum") - F.col("freq")) * 10 < F.col("_total") * 9)
        .select("tok", "freq", "cum")
    )


# --- within-document repeated-token removal --------------------------------

@register(
    "q_dedup_within_doc",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents),
    pos AS (SELECT doc_id, toks[i] AS word, i
            FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) r),
    firsts AS (SELECT doc_id, word, MIN(i) AS fp
               FROM pos GROUP BY doc_id, word),
    re AS (SELECT doc_id,
                  COUNT(*) AS n_unique,
                  string_agg(word, ' ' ORDER BY fp) AS dedup_text
           FROM firsts GROUP BY doc_id)
    SELECT t.doc_id,
           len(t.toks) AS n_tokens,
           re.n_unique,
           left(re.dedup_text, 80) AS preview
    FROM t JOIN re ON t.doc_id = re.doc_id
    """,
)
def q_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition removal (the C4/Gopher cleanup step):
    drop every repeated token after its first occurrence and stitch
    the survivors back in original order. posexplode → min-position
    per (doc, word) — one shuffle on the composite key with map-side
    combine — then per-doc reassembly via array_sort of (pos, word)
    structs; surviving positions are distinct, so the order (and the
    rebuilt string) is engine-independent. State per doc is bounded
    by its distinct-token count, never the corpus vocabulary."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    base = d.select("doc_id", toks.alias("_toks"))
    pos = base.select(
        "doc_id", F.posexplode("_toks").alias("_i", "word")
    )
    firsts = pos.groupBy("doc_id", "word").agg(F.min("_i").alias("_fp"))
    re = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_fp", "word"))),
                lambda s: s["word"],
            ),
        ).alias("_dedup_text"),
    )
    return (
        base.join(re, "doc_id")
        .select(
            "doc_id",
            F.size("_toks").alias("n_tokens"),
            "n_unique",
            F.substring("_dedup_text", 1, 80).alias("preview"),
        )
    )


# --- similarity-graph analytics: degrees and triangles ---------------------

# The graph-shape diagnostics (degree histogram, triangles) build the
# EXACT similarity graph, which is quadratic-within-block — so they
# run on a FIXED-SIZE deterministic sample (TakeOrdered on
# md5(id:salt), 2000 docs), the q_lsh_recall protocol: cost is
# scale-invariant, the shape statistics are unbiased, and both engines
# draw the identical sample so the oracles stay exact. The r7 sf1
# sweep caught the full-corpus version (436 s degree hist, >600 s
# triangles); the production-path graph operators (components,
# survivors) use the LSH funnel instead and stay corpus-wide.
_GRAPH_SAMPLE_N = 2000

def _graph_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":31"))), "doc_id"
    ).limit(_GRAPH_SAMPLE_N)


_PAIRS_05_SQL = f"""
    smp AS (SELECT * FROM documents
            ORDER BY md5(doc_id || ':31'), doc_id LIMIT {_GRAPH_SAMPLE_N}),
    s AS (SELECT doc_id, source,
                 list_distinct(string_split({_NORM_SQL}, ' ')) AS sh
          FROM smp),
    e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                       AS DOUBLE) >= 0.5)
"""


@register(
    "q_degree_hist",
    oracle=f"""
    WITH {_PAIRS_05_SQL},
    deg AS (
        SELECT id, COUNT(*) AS degree FROM (
            SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e
        ) GROUP BY id
    )
    SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    """,
)
def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the exact-Jaccard similarity graph — the
    shape that tells you whether near-dup removal faces a long tail or
    dense cliques (and whether LSH banding will bucket-skew). Two hash
    aggregates over the edge list; the edge endpoints union is
    map-side, so one shuffle on id then one on degree. Runs on the
    fixed-size graph sample (see _graph_sample) so the exact pair
    stage stays scale-invariant."""
    d = _graph_sample(spark, sf_dir)
    pairs = jaccard_pairs(d, block_col="source", shingle_n=1, threshold=0.5)
    ends = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "q_triangle_count",
    oracle=f"""
    WITH {_PAIRS_05_SQL},
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
        JOIN e e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b
    )
    SELECT (SELECT COUNT(*) FROM (
                SELECT DISTINCT id FROM (
                    SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e
                )
            )) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT n_triangles FROM tri) AS n_triangles
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the similarity graph via DEGREE
    ORIENTATION (the compact-forward algorithm): every undirected edge
    is directed from its lower-(degree, id) endpoint, which caps any
    vertex's out-degree at O(sqrt(m)); wedges are then pairs of
    out-neighbors of one vertex, and a wedge is a triangle iff its
    endpoints are also an edge — a hash semi-join against the edge
    list. The naive all-orders wedge join (what the oracle's triple
    join does) explodes as sum(deg^2) on dense-clique dedup graphs;
    orientation bounds the intermediate at m^1.5 regardless of skew.
    Three shuffles total, all on ids. Runs on the fixed-size graph
    sample (see _graph_sample) so the exact pair stage stays
    scale-invariant."""
    from ..cache import tracked_persist

    d = _graph_sample(spark, sf_dir)
    pairs = tracked_persist(
        jaccard_pairs(d, block_col="source", shingle_n=1, threshold=0.5)
        .select("id_a", "id_b")
    )
    deg = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("id").alias("id_a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("id").alias("id_b"), F.col("deg").alias("_degb"))
    # orient each edge toward the higher-(deg, id) endpoint
    lower_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("id_a") < F.col("id_b"))
    )
    oriented = tracked_persist(
        pairs.join(da, "id_a").join(db, "id_b").select(
            F.when(lower_first, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
            F.when(lower_first, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
        )
    )
    o1 = oriented.select(F.col("src").alias("_s"), F.col("dst").alias("_x"))
    o2 = oriented.select(F.col("src").alias("_s"), F.col("dst").alias("_y"))
    wedges = o1.join(o2, "_s").filter(F.col("_x") < F.col("_y"))
    closed = wedges.join(
        pairs.select(
            F.col("id_a").alias("_x"), F.col("id_b").alias("_y")
        ),
        ["_x", "_y"],
        "left_semi",
    )
    # one lazy plan: the three scalar aggregates cross-join (1x1 rows)
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(closed.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


# --- degree assortativity ---------------------------------------------------

@register(
    "q_degree_assortativity",
    oracle=f"""
    WITH {_PAIRS_05_SQL},
    dirs AS (SELECT id_a AS u, id_b AS v FROM e
             UNION ALL SELECT id_b, id_a FROM e),
    deg AS (SELECT u AS id, COUNT(*) AS d FROM dirs GROUP BY u),
    xy AS (SELECT du.d AS x, dv.d AS y
           FROM dirs JOIN deg du ON dirs.u = du.id
                     JOIN deg dv ON dirs.v = dv.id),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                 CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
          FROM xy)
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           CAST(CASE WHEN m.n * m.sxx - m.sx * m.sx = 0 THEN 0
                ELSE CASE WHEN m.n * m.sxy - m.sx * m.sx < 0 THEN -1 ELSE 1 END
                     * (abs(m.n * m.sxy - m.sx * m.sx) * 1000000
                        // (m.n * m.sxx - m.sx * m.sx))
                END AS BIGINT) AS assort_ppm
    FROM m
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the similarity graph — the Newman
    coefficient that says whether high-degree documents (near-dup hub
    templates) attach to other hubs (r > 0, dense clique blocks LSH
    must bucket-split) or to leaves (r < 0, star-shaped template
    families where one canonical doc anchors many variants). Because
    the directed edge list contains BOTH orientations, the x and y
    marginals are identical, so Pearson's r is a pure RATIONAL:
    r = (n·Σxy − (Σx)²) / (n·Σxx − (Σx)²) — no square root — and the
    output is an exact integer ppm, sign applied outside a
    nonnegative truncating division so Spark's `div` and DuckDB's
    HUGEINT `//` agree. Completes the graph-shape family
    (q_degree_hist / q_triangle_count) on the same fixed-size sample
    (_graph_sample), so the exact pair stage is scale-invariant; the
    production corpus runs the LSH funnel instead.

    Plan: one edge build, one degree aggregate, two id-keyed joins
    (degree table broadcasts — node-cardinality), one scalar moment
    aggregate in decimal(38,0)."""
    from ..cache import tracked_persist

    d = _graph_sample(spark, sf_dir)
    pairs = tracked_persist(
        jaccard_pairs(d, block_col="source", shingle_n=1, threshold=0.5).select(
            "id_a", "id_b"
        )
    )
    dirs = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    deg = dirs.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    xy = (
        dirs.join(
            F.broadcast(deg.select(F.col("id").alias("u"), F.col("d").alias("x"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("id").alias("v"), F.col("d").alias("y"))),
            "v",
        )
        .select("x", "y")
    )
    d38 = "decimal(38,0)"
    m = xy.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
    ).select(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(
            m.select(
                F.when(F.col("den") == 0, F.lit(0))
                .otherwise(
                    F.when(F.col("num") < 0, F.lit(-1))
                    .otherwise(F.lit(1))
                    * F.expr("(abs(num) * 1000000) div den")
                )
                .cast("long")
                .alias("assort_ppm")
            )
        )
    )


# --- inverted-index materialization ----------------------------------------

@register(
    "q_inverted_index",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents
    )
    SELECT term, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id))[1:5], ',') AS posting_head
    FROM toks GROUP BY term
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list build — the search-index materialization behind
    the keyword queries: explode to distinct (doc, term), then one
    hash aggregate per term producing document frequency and the
    sorted posting head (first 5 doc ids, emitted as a scalar string:
    the driver's hasher can't sort array cells). At 100 TB this is
    the classic two-shuffle index build (dedup, then group); postings
    would write out partitionBy(term-prefix) for prefix-pruned lookup,
    exactly like the IVF index layout (operators/ivf.py)."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    pairs = d.select(
        "doc_id", F.explode(toks).alias("term")
    ).distinct()
    return pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.concat_ws(
            ",",
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, 5),
        ).alias("posting_head"),
    )


# --- asymmetric containment pairs (decontamination-grade) ------------------

@register(
    "q_containment_pairs",
    oracle=f"""
    WITH s AS (SELECT doc_id, source,
                      list_distinct(string_split({_NORM_SQL}, ' ')) AS sh
               FROM documents)
    SELECT a.doc_id AS id_small, b.doc_id AS id_big,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / CAST(len(a.sh) AS DOUBLE), 6) AS containment
    FROM s a JOIN s b
      ON a.source = b.source AND a.doc_id <> b.doc_id
     AND len(a.sh) <= len(b.sh)
     AND (len(a.sh) < len(b.sh) OR a.doc_id < b.doc_id)
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) AS DOUBLE) >= 0.7
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT |A∩B|/|A| of the smaller token set in
    the larger — the decontamination measure Jaccard misses: a short
    benchmark item fully quoted inside a long training document has
    high containment but low Jaccard (the union is dominated by the
    big doc). Same blocked self-join shape as the Jaccard verify with
    the symmetric id< pruning replaced by size ordering (smaller side
    is always the reference set; equal sizes tie-break on id so each
    unordered pair appears once). Intersections evaluate in the join
    projection — pair rows with both sets never materialize through
    an exchange.

    Scale contract: quadratic within a block, by design — the exact
    VERIFY companion (gated through sf0.1) of the scalable
    decontamination tiers (q_decontaminate LSH / q_bloom_decontaminate
    / q_split_contamination), which are the 100 TB path."""
    from ..operators.dedup import _spread, shingles
    from ..cache import tracked_persist

    d = T(spark, sf_dir, "documents")
    base = tracked_persist(
        _spread(d, "doc_id").select(
            "doc_id",
            F.col("source").alias("_blk"),
            shingles("text", 1).alias("sh"),
        ).withColumn("n_sh", F.size("sh"))
    )
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    containment = F.round(
        inter.cast("double") / F.col("a.n_sh").cast("double"), 6
    )
    size_order = (F.col("a.n_sh") < F.col("b.n_sh")) | (
        (F.col("a.n_sh") == F.col("b.n_sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & size_order,
        )
        .select(
            F.col("a.doc_id").alias("id_small"),
            F.col("b.doc_id").alias("id_big"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= 0.7)
    )


@register(
    "q_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE
    s AS (SELECT doc_id, source,
                 list_distinct(string_split({_NORM_SQL}, ' ')) AS sh
          FROM documents),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                >= 0.5),
    e AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
    reach(id, lab) AS (
        SELECT src, src FROM e
        UNION
        SELECT e2.src, r.lab FROM e e2 JOIN reach r ON e2.dst = r.id
    ),
    comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id)
    SELECT d.doc_id FROM documents d
    LEFT JOIN comp c ON c.id = d.doc_id
    WHERE c.id IS NULL OR c.comp = d.doc_id
    """,
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-level dedup FINISHER on the exact-Jaccard graph:
    keep min-id per connected component plus every unpaired doc —
    what actually ships to training after near-dup removal. This is
    the hash-verified end of the pipeline whose approximate stages
    (MinHash-LSH candidates) are rows-only: same survivor rule, exact
    edges. Plan: pair discovery is the blocked Jaccard self-join, the
    component labels come from the contraction loop (one bounded
    shuffle per round), and the final keep/drop is a broadcast
    anti-join of the (tiny) non-survivor set against the corpus —
    the full documents table is never shuffled."""
    from ..operators.dedup import dedup_survivors

    d = T(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        d, block_col="source", shingle_n=1, threshold=0.5
    ).select("id_a", "id_b")
    return dedup_survivors(d, pairs, id_col="doc_id").select("doc_id")


# --- Gopher quality-filter rule gauntlet -----------------------------------

_GOPHER_SQL = "[" + ", ".join(f"'{w}'" for w in X.GOPHER_STOPS) + "]"

@register(
    "q_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks, {_TOKS_LOWER} AS ltoks
               FROM documents),
    m AS (SELECT doc_id,
                 len(toks) AS n_words,
                 CASE WHEN len(toks) = 0 THEN 0.0
                      ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                           / CAST(len(toks) AS DOUBLE) END AS mean_wlen,
                 CASE WHEN len(toks) = 0 THEN 0.0
                      ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                           / CAST(len(toks) AS DOUBLE) END AS alpha_frac,
                 len(list_distinct(list_filter(ltoks, x -> list_contains({_GOPHER_SQL}, x)))) AS n_stop,
                 CASE WHEN len(toks) = 0 THEN 0.0
                      ELSE CAST(length(text) - length(replace(text, '#', ''))
                                + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
                           / CAST(len(toks) AS DOUBLE) END AS symbol_ratio
          FROM t)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mean_wlen, 6) AS mean_wlen,
           round(alpha_frac, 6) AS alpha_frac,
           CAST(n_stop AS BIGINT) AS n_stop,
           round(symbol_ratio, 6) AS symbol_ratio,
           CAST(CASE WHEN n_words BETWEEN 20 AND 1000
                      AND mean_wlen BETWEEN 3.0 AND 10.0
                      AND alpha_frac >= 0.8
                      AND n_stop >= 2
                      AND symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS INT) AS keep
    FROM m
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-set quality filter (word-count bounds, mean word
    length, alphabetic-word fraction, >=2 distinct stopwords,
    symbol-to-word ratio) + conjunctive keep flag. The industry-standard
    pre-training heuristic gate, distinct from q_quality_score's scalar
    blend: this is the boolean gauntlet whose ``keep`` decides the doc's
    fate. All metrics come from ONE tokenization in ONE codegen'd
    projection; keep evaluates on the unrounded doubles in both
    engines (integer-ratio doubles are exactly reproducible)."""
    from ..functions.text import gopher_rules

    return gopher_rules(T(spark, sf_dir, "documents"))


# --- zlib compressibility quality signal (rows-only) -----------------------

@register("q_compression_ratio")
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the "compressibility"
    boilerplate detector (repetitive spam compresses to a fraction of
    its size; prose sits near ~0.5-0.8). DEFLATE's stateful LZ77 loop
    is not Catalyst-expressible, so the kernel is an Arrow-batched
    pandas UDF (the sanctioned slow-path shape: scan-partition-local,
    no shuffle, no driver involvement). rows-only: DuckDB has no zlib;
    values are pytest-pinned against an in-process recomputation."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", X.compression_ratio("text").alias("zlib_ratio"))


# --- positional phrase search ----------------------------------------------

@register(
    "q_phrase_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents),
    hits AS (SELECT doc_id,
                    len(list_filter(range(len(toks) - 1),
                        i -> toks[i+1] = 'table' AND toks[i+2] = 'hash'))
                        AS n_hits
             FROM t)
    SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits
    FROM hits WHERE n_hits > 0
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("table hash" as ADJACENT tokens) via a
    positional inverted index — the IR operator conjunctive keyword
    search (q_keyword_search) can't express, because it needs token
    POSITIONS, not just presence.

    Plan: posexplode to (doc_id, pos, term) postings, filtered to the
    phrase's terms before anything shuffles (two-term in-list on the
    exploded output — only phrase-term rows survive the scan stage),
    then an adjacency self-join on (doc_id, pos+1). A k-word phrase
    chains k-1 such joins; all joins share the doc_id key so they
    co-partition. At 100 TB the posting generation is the one full
    scan — a persisted positional index table turns every later phrase
    query into the join alone. Emits each matching doc with its
    occurrence count."""
    w1, w2 = "table", "hash"
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    postings = (
        d.select("doc_id", F.posexplode(toks).alias("pos", "term"))
        .filter(F.col("term").isin(w1, w2))
    )
    p1 = postings.filter(F.col("term") == w1).select("doc_id", "pos")
    p2 = postings.filter(F.col("term") == w2).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


# --- keyword-in-context snippets -------------------------------------------

_SNIP_RE = "((?:[^ ]+ ){0,3}table hash(?: [^ ]+){0,3})"

@register(
    "q_search_snippets",
    oracle=f"""
    SELECT doc_id,
           regexp_extract(lower(text), '{_SNIP_RE}', 1) AS snippet
    FROM documents
    WHERE regexp_extract(lower(text), '{_SNIP_RE}', 1) != ''
    """,
)
def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippet extraction: the ±3-word window
    around the first 'table hash' occurrence — what a search endpoint
    returns as the result preview (the formatting step after
    q_phrase_search finds the docs). One RE2-safe regexp (no
    lookaround, identical semantics in Java regex and DuckDB/RE2) in
    one codegen'd projection: scan-speed, no shuffle, no UDF."""
    d = T(spark, sf_dir, "documents")
    snip = F.regexp_extract(F.lower(F.col("text")), _SNIP_RE, 1)
    return (
        d.select("doc_id", snip.alias("snippet"))
        .filter(F.col("snippet") != "")
    )


# --- proximity (slop) search -----------------------------------------------

@register(
    "q_proximity_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents),
    p1 AS (SELECT doc_id, unnest(list_filter(range(len(toks)),
                    i -> toks[i+1] = 'merge')) AS pos FROM t),
    p2 AS (SELECT doc_id, unnest(list_filter(range(len(toks)),
                    i -> toks[i+1] = 'window')) AS pos FROM t)
    SELECT p1.doc_id,
           CAST(MIN(abs(p1.pos - p2.pos)) AS BIGINT) AS min_gap,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
                   AND abs(p1.pos - p2.pos) <= 4
    GROUP BY p1.doc_id
    """,
)
def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity search (Lucene slop): docs where 'merge' and 'window'
    occur within 4 tokens of each other, in either order — between
    conjunctive keyword search (no position) and phrase search
    (adjacency). Same positional-postings machinery as
    q_phrase_search, but the adjacency equi-join becomes a per-doc
    BAND join on |pos₁ − pos₂| ≤ slop; postings are filtered to the
    two terms before the shuffle and the join key is doc_id, so the
    band predicate only ever evaluates within one document's
    postings — never a corpus-level cross product. Emits min gap and
    qualifying pair count per doc."""
    w1, w2, slop = "merge", "window", 4
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    postings = d.select(
        "doc_id", F.posexplode(toks).alias("pos", "term")
    ).filter(F.col("term").isin(w1, w2))
    p1 = postings.filter(F.col("term") == w1).select("doc_id", F.col("pos").alias("pos1"))
    p2 = postings.filter(F.col("term") == w2).select("doc_id", F.col("pos").alias("pos2"))
    gap = F.abs(F.col("pos1") - F.col("pos2"))
    return (
        p1.join(p2, "doc_id")
        .filter(gap <= slop)
        .groupBy("doc_id")
        .agg(
            F.min(gap).cast("long").alias("min_gap"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )


# --- BPE tokenizer training -------------------------------------------------

@register("q_bpe_train")  # rows-only: iterative argmax isn't SQL-expressible
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 20-rule BPE vocabulary on the corpus
    (operators/bpe.py::bpe_train — Sennrich et al. 2016). Returns the
    merge table (rank, left, right) in learning order. Deterministic
    under any partitioning (total-order tie-break on the pair count),
    pinned by pytest against a pure-Python reference trainer; rows-
    only because 20 rounds of argmax-and-rewrite aren't expressible
    as one SQL query. Scale: merges are learned on the WORD-FREQUENCY
    table (vocabulary-sized), so the corpus is scanned exactly once;
    each round moves one 3-field row to the driver."""
    from ..operators.bpe import bpe_train

    d = T(spark, sf_dir, "documents")
    return bpe_train(d, n_merges=20, min_freq=2)


# --- feature hashing (hashing-trick vectorizer) -----------------------------

@register(
    "q_feature_hash",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS_LOWER}) AS tok FROM documents)
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
           COUNT(*) AS tf
    FROM t GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger et al. 2009): tokens hash
    into a fixed 64-bucket feature space, per-doc term frequencies per
    bucket — the vocabulary-free featurization that never needs a fit
    pass or a dictionary broadcast, which is exactly why it scales: at
    100 TB there is no vocab table to build, ship, or go stale; the
    output dimensionality is a constant decided up front. Bucket =
    md5-prefix-as-int mod 64 so Spark (conv base16) and any SQL engine
    agree bit-for-bit. One explode + one hash aggregate keyed
    (doc_id, bucket) with map-side partials."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    return (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
                    "long"
                )
                % 64
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy("doc_id", "bucket")
    )


# --- DSIR-style importance weights over the hashed feature space -----------

@register(
    "q_importance_weights",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang,
                      ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b
               FROM (SELECT doc_id, lang, unnest({_TOKS_LOWER}) AS tok
                     FROM documents)),
    stats AS (SELECT b, COUNT(*) AS raw_cnt,
                     COUNT(*) FILTER (WHERE lang = 'en') AS tgt_cnt
              FROM t GROUP BY b),
    tot AS (SELECT SUM(raw_cnt) AS n_raw, SUM(tgt_cnt) AS n_tgt FROM stats),
    r AS (SELECT b,
                 ((tgt_cnt + 1) * (SELECT n_raw + 64 FROM tot) * 1000000)
                 // ((raw_cnt + 1) * (SELECT n_tgt + 64 FROM tot)) AS ratio_ppm
          FROM stats),
    d AS (SELECT t.doc_id, COUNT(*) AS n_toks,
                 SUM(r.ratio_ppm) AS sum_ratio
          FROM t JOIN r USING (b) GROUP BY t.doc_id)
    SELECT doc_id, n_toks, sum_ratio // n_toks AS importance_ppm
    FROM d
    """,
)
def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance weights à la DSIR (Xie et al. 2023):
    score every document by how much its HASHED-feature distribution
    resembles a target domain (here lang='en') relative to the raw
    corpus — the resampling signal that upweights target-like data in
    a training mix (q_weighted_sample is the sampler that consumes
    such weights). Features are the same md5→64-bucket hashing trick
    as q_feature_hash, so the per-bucket target/raw ratio table is 64
    rows REGARDLESS of vocabulary — broadcast-joined back onto the
    token stream; no vocab table is ever built, shipped, or kept
    fresh. Weight = mean over the doc's tokens of the add-one-smoothed
    probability ratio, all integer/decimal arithmetic (ratio in ppm,
    decimal(38,0) before products, integral `div` floors — no logs,
    so both engines agree bit-for-bit). Plan: one explode feeding two
    hash aggregates (64-row feature stats; per-doc sums), one
    broadcast join — at 100 TB every exchange carries bounded rows
    except the (doc_id, bucket) aggregate, which is map-side combined
    and keyed by the corpus itself."""
    d38 = "decimal(38,0)"
    d = widen(T(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    t = d.select(
        "doc_id", "lang", F.explode(toks).alias("tok")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
            % 64
        ).alias("b"),
    )
    # persisted: the 64-row bucket stats feed the grand totals AND the
    # ratio projection — unpersisted, each consumer re-ran the whole
    # tokenize+explode+md5 stream to rebuild 64 rows (the token stream
    # itself stays unpersisted on purpose: two passes beat pinning a
    # tokens×docs intermediate at 100 TB, the boilerplate-scrub rule)
    stats = _tracked_persist(t.groupBy("b").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.count_if(F.col("lang") == "en").alias("tgt_cnt"),
    ))
    tot = stats.agg(
        F.sum("raw_cnt").alias("n_raw"), F.sum("tgt_cnt").alias("n_tgt")
    )
    ratio = (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.expr(
                f"CAST((CAST(tgt_cnt + 1 AS {d38})"
                f"      * CAST(n_raw + 64 AS {d38}) * 1000000)"
                f" div (CAST(raw_cnt + 1 AS {d38})"
                f"      * CAST(n_tgt + 64 AS {d38})) AS BIGINT)"
            ).alias("ratio_ppm"),
        )
    )
    return (
        t.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("ratio_ppm").alias("sum_ratio"),
        )
        .select(
            "doc_id",
            "n_toks",
            F.expr("sum_ratio div n_toks").alias("importance_ppm"),
        )
    )


# --- dedup threshold tuning curve -------------------------------------------

@register(
    "q_dedup_threshold_curve",
    oracle=f"""
    WITH s AS (SELECT doc_id, source,
                      list_distinct(string_split({_NORM_SQL}, ' ')) AS sh
               FROM documents),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / CAST(len(a.sh) + len(b.sh)
                              - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
                       6) AS j
          FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id),
    f AS (SELECT id_a, id_b, j FROM p WHERE j >= 0.30),
    pb AS (SELECT CAST(floor(j * 20) * 5 AS BIGINT) AS bucket_pct,
                  COUNT(*) AS pairs
           FROM f GROUP BY 1),
    dm AS (SELECT id_b, MAX(j) AS mj FROM f GROUP BY id_b),
    db AS (SELECT CAST(floor(mj * 20) * 5 AS BIGINT) AS bucket_pct,
                  COUNT(*) AS docs
           FROM dm GROUP BY 1)
    SELECT COALESCE(pb.bucket_pct, db.bucket_pct) AS threshold_pct,
           SUM(COALESCE(pb.pairs, 0)) OVER w AS pairs_at_or_above,
           SUM(COALESCE(db.docs, 0)) OVER w AS docs_removed
    FROM pb FULL OUTER JOIN db ON pb.bucket_pct = db.bucket_pct
    WINDOW w AS (ORDER BY COALESCE(pb.bucket_pct, db.bucket_pct) DESC)
    ORDER BY threshold_pct
    """,
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup tuning curve: for each Jaccard threshold (5% buckets
    from 0.30), how many near-dup PAIRS survive the cutoff and how
    many DOCUMENTS the drop-later-of-pair rule would remove — the
    evidence an operator picks τ from before committing a corpus-wide
    dedup (too low: collateral deletions; too high: dup leakage).
    Docs attribute by their MAX similarity to an earlier doc, so each
    doc counts once, at the highest threshold that still removes it;
    cumulative sums run DESC over the 14-bucket histogram. Pair
    generation reuses the blocked exact-Jaccard verify join; the
    curve itself adds only bucket aggregates and a 14-row window."""
    from ..operators.dedup import jaccard_pairs as jp

    d = T(spark, sf_dir, "documents")
    f = jp(d, block_col="source", shingle_n=1, threshold=0.30).select(
        "id_a", "id_b", F.col("jaccard").alias("j")
    )
    pb = f.groupBy(
        (F.floor(F.col("j") * 20) * 5).cast("long").alias("bucket_pct")
    ).agg(F.count(F.lit(1)).alias("pairs"))
    db = (
        f.groupBy("id_b")
        .agg(F.max("j").alias("j"))
        .groupBy((F.floor(F.col("j") * 20) * 5).cast("long").alias("bucket_pct"))
        .agg(F.count(F.lit(1)).alias("docs"))
    )
    from pyspark.sql.window import Window

    jn = pb.join(db, "bucket_pct", "full_outer").select(
        "bucket_pct",
        F.coalesce("pairs", F.lit(0)).alias("pairs"),
        F.coalesce("docs", F.lit(0)).alias("docs"),
    )
    w = (
        Window.orderBy(F.col("bucket_pct").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        jn.select(
            F.col("bucket_pct").alias("threshold_pct"),
            F.sum("pairs").over(w).alias("pairs_at_or_above"),
            F.sum("docs").over(w).alias("docs_removed"),
        )
        .orderBy("threshold_pct")
    )


# --- LSH recall readout -----------------------------------------------------

@register("q_lsh_recall")  # rows-only: MinHash seeds make it approximate
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path quality gate as a query: recall of the MinHash
    band-bucket candidate set against the exact blocked Jaccard pairs
    at τ=0.5 — one row (n_exact, n_caught, recall_ppm). At 100 TB the
    exact side is infeasible corpus-wide, so BOTH sides run on a
    FIXED-SIZE deterministic sample (TakeOrdered on md5(id:salt),
    2000 docs — fixed-RATE sampling would keep the exact side
    quadratic in the corpus; the r7 sf1 sweep caught exactly that)
    and the measured recall licenses the LSH tier for the rest — the
    standard validation protocol for banded dedup. rows-only
    (candidate set depends on MinHash seeds); pytest pins the recall
    floor."""
    from ..operators.dedup import (
        jaccard_pairs as jp,
        minhash_lsh_candidates,
        minhash_signatures,
        shingles,
    )

    full = T(spark, sf_dir, "documents")
    d = (
        full.orderBy(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":31"))),
            "doc_id",
        )
        .limit(2000)
    )
    # ONE persisted shingle table feeds BOTH sides (r15): the exact
    # verify and the MinHash signatures each tokenized the persisted
    # sample separately — the shared `_sh` column is computed once and
    # both operators take it via shingle_col (the sample itself no
    # longer needs its own persist: nothing downstream reads raw text)
    from ..cache import tracked_persist

    sh_tab = tracked_persist(
        widen(d).select(
            "doc_id", "source", shingles("text", 1).alias("_sh")
        )
    )
    # the exact pair set feeds the caught semi-join AND its own count:
    # unpersisted, the full blocked-Jaccard verify ran twice
    exact = tracked_persist(
        jp(
            sh_tab, block_col="source", threshold=0.5, shingle_col="_sh"
        ).select("id_a", "id_b")
    )
    # 2 rows/band: the recall-oriented operating point — banding
    # probability 1-(1-j^2)^16 is ~0.99 at j=0.5 (measured 99.8% on
    # this corpus vs 66% at the 4-rows/band candidate-volume point)
    cand = minhash_lsh_candidates(
        minhash_signatures(sh_tab, num_hashes=32, shingle_col="_sh"),
        bands=16,
    )
    caught = exact.join(cand, ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_caught = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    return (
        n_exact.crossJoin(n_caught)
        .select(
            "n_exact",
            "n_caught",
            F.when(
                F.col("n_exact") > 0,
                F.expr("n_caught * 1000000 div n_exact"),
            )
            .otherwise(F.lit(None).cast("long"))
            .alias("recall_ppm"),
        )
    )


# --- Heaps-law vocabulary growth --------------------------------------------

@register(
    "q_vocab_growth",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS_LOWER} AS t FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tok
          FROM tk WHERE len(t) >= 3),
    fs AS (SELECT tok, MIN(doc_id) AS first_doc FROM g GROUP BY tok),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    b AS (SELECT LEAST(first_doc * 10 // n_docs, 9) AS decile,
                 COUNT(*) AS new_terms
          FROM fs CROSS JOIN nd GROUP BY 1)
    SELECT decile, new_terms,
           SUM(new_terms) OVER (ORDER BY decile) AS vocab_size
    FROM b ORDER BY decile
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law growth of the 3-token SHINGLE vocabulary: distinct
    shingles seen after each decile of the corpus (in doc_id order) —
    the curve that says whether more data still buys novel phrasing
    or the corpus has saturated (the empirical basis for corpus-size
    decisions; unigram vocab saturates in the first docs on any
    templated corpus — this synthetic one closes its 31-token unigram
    vocabulary by doc 8 — while shingles keep discriminating). Scale
    discipline = first-seen attribution (q_cumulative_users): each
    term counts once at the min doc_id that introduces it — one
    vocab-keyed aggregate — then a 10-row decile histogram and a
    10-row cumulative window. Never an expanding-window distinct."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    sh = F.expr(
        "transform(sequence(1, size(_t) - 2),"
        " i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1),"
        "             ' ', element_at(_t, i + 2)))"
    )
    fs = (
        d.select("doc_id", toks.alias("_t"))
        .filter(F.size("_t") >= 3)
        .select("doc_id", F.explode(sh).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    b = (
        fs.crossJoin(F.broadcast(nd))
        .groupBy(
            F.least(
                F.expr("first_doc * 10 div n_docs"), F.lit(9).cast("long")
            ).alias("decile")
        )
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return b.select(
        "decile", "new_terms", F.sum("new_terms").over(w).alias("vocab_size")
    ).orderBy("decile")


# --- token budget vs quality cutoff -----------------------------------------

@register(
    "q_token_budget",
    oracle=f"""
    WITH q AS (SELECT doc_id,
                      round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                             + greatest(1.0 - abs(({_STOP_RATIO}) - 0.4) / 0.4, 0.0)
                             + (1.0 - least(({_PUNCT_RATIO}) * 5.0, 1.0))) / 3.0, 6)
                          AS quality,
                      CAST(len({_TOKS_LOWER}) AS BIGINT) AS n_tokens
               FROM documents),
    b AS (SELECT LEAST(CAST(floor(quality * 10) AS BIGINT), 9) AS qbucket,
                 COUNT(*) AS n_docs, SUM(n_tokens) AS tokens
          FROM q GROUP BY 1)
    SELECT qbucket, n_docs, tokens,
           SUM(tokens) OVER (ORDER BY qbucket DESC) AS tokens_at_or_above
    FROM b ORDER BY qbucket
    """,
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget vs quality cutoff: how many training tokens
    survive each quality-score decile threshold — the curve that
    prices a filtering decision in tokens before committing it (the
    quality twin of q_dedup_threshold_curve's τ sweep). Reuses the
    exact quality formula (q_quality_score) and whitespace token
    counts; per-bucket integer sums, a 10-row DESC cumulative
    window. One scan, one hash aggregate, scale-free."""
    d = T(spark, sf_dir, "documents")
    q = d.select(
        X.quality_score("text").alias("quality"),
        X.token_count_ws("text").cast("long").alias("n_tokens"),
    )
    b = q.groupBy(
        F.least(
            F.floor(F.col("quality") * 10).cast("long"), F.lit(9).cast("long")
        ).alias("qbucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("qbucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return b.select(
        "qbucket",
        "n_docs",
        "tokens",
        F.sum("tokens").over(w).alias("tokens_at_or_above"),
    ).orderBy("qbucket")


@register("q_lsh_precision")  # rows-only: MinHash seeds make it approximate
def q_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of the LSH quality pair: PRECISION of the
    band-bucket candidate set — what fraction of proposed candidates
    verify at τ=0.5 — one row (n_candidates, n_true, precision_ppm,
    pairs_per_doc_ppm). q_lsh_recall prices missed dups; this prices
    the VERIFY bill: at 100 TB the exact-Jaccard verify stage costs
    O(candidates), so low precision means paying intersections for
    junk pairs (band tuning trades the two — banding probability
    curves steepen with rows/band). Same fixed-size deterministic
    sample protocol as the recall gate; rows-only (seed-dependent),
    pytest pins a precision floor at the 2-rows/band operating
    point."""
    from ..operators.dedup import (
        jaccard_pairs as jp,
        minhash_lsh_candidates,
        minhash_signatures,
        shingles,
    )

    full = T(spark, sf_dir, "documents")
    d = (
        full.orderBy(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":31"))),
            "doc_id",
        )
        .limit(2000)
    )
    # ONE persisted shingle table for both sides — same r15 sharing as
    # q_lsh_recall (n_docs counts it too: one row per sampled doc)
    from ..cache import tracked_persist

    sh_tab = tracked_persist(
        widen(d).select(
            "doc_id", "source", shingles("text", 1).alias("_sh")
        )
    )
    # the candidate pair set feeds the verify semi-join AND its own
    # count — unpersisted, the band-bucket self-join ran twice
    cand = tracked_persist(
        minhash_lsh_candidates(
            minhash_signatures(sh_tab, num_hashes=32, shingle_col="_sh"),
            bands=16,
        )
    )
    exact = jp(
        sh_tab, block_col="source", threshold=0.5, shingle_col="_sh"
    ).select("id_a", "id_b")
    true_pos = cand.join(exact, ["id_a", "id_b"], "left_semi")
    n_docs = sh_tab.agg(F.count(F.lit(1)).alias("n_docs"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_true = true_pos.agg(F.count(F.lit(1)).alias("n_true"))
    return (
        n_cand.crossJoin(n_true)
        .crossJoin(n_docs)
        .select(
            "n_candidates",
            "n_true",
            F.when(
                F.col("n_candidates") > 0,
                F.expr("n_true * 1000000 div n_candidates"),
            )
            .otherwise(F.lit(None).cast("long"))
            .alias("precision_ppm"),
            F.expr("n_candidates * 1000000 div n_docs").alias(
                "pairs_per_doc_ppm"
            ),
        )
    )


# --- effective sample size of the importance reweighting --------------------

@register(
    "q_effective_sample_size",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang,
                      ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b
               FROM (SELECT doc_id, lang, unnest({_TOKS_LOWER}) AS tok
                     FROM documents)),
    stats AS (SELECT b, COUNT(*) AS raw_cnt,
                     COUNT(*) FILTER (WHERE lang = 'en') AS tgt_cnt
              FROM t GROUP BY b),
    tot AS (SELECT SUM(raw_cnt) AS n_raw, SUM(tgt_cnt) AS n_tgt FROM stats),
    r AS (SELECT b,
                 ((tgt_cnt + 1) * (SELECT n_raw + 64 FROM tot) * 1000000)
                 // ((raw_cnt + 1) * (SELECT n_tgt + 64 FROM tot)) AS ratio_ppm
          FROM stats),
    d AS (SELECT t.doc_id, COUNT(*) AS n_toks,
                 SUM(r.ratio_ppm) AS sum_ratio
          FROM t JOIN r USING (b) GROUP BY t.doc_id),
    w AS (SELECT doc_id, sum_ratio // n_toks AS w FROM d),
    g AS (SELECT doc.source, COUNT(*) AS n_docs,
                 SUM(CAST(w.w AS HUGEINT)) AS sw,
                 SUM(CAST(w.w AS HUGEINT) * w.w) AS sww
          FROM w JOIN documents doc USING (doc_id)
          GROUP BY doc.source
          UNION ALL
          SELECT 'ALL', COUNT(*), SUM(CAST(w AS HUGEINT)),
                 SUM(CAST(w AS HUGEINT) * w)
          FROM w)
    SELECT source, n_docs,
           CAST(sw // n_docs AS BIGINT) AS mean_w_ppm,
           CAST(sw * sw * 1000000 // (n_docs * sww) AS BIGINT) AS ess_ppm
    FROM g ORDER BY source
    """,
)
def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the DSIR reweighting — Kish's
    ESS = (Σw)²/(Σw²), reported per source (and 'ALL') as a ppm
    fraction of the nominal count: the diagnostic that says how much
    of each source the importance weights actually keep (ess_ppm →
    1e6 means uniform weights / nothing lost; a tiny ess_ppm warns
    the resampler is about to collapse the source onto a few docs).
    Composes the registry's own q_importance_weights signal (same
    CTE, same add-one-smoothed integer ratios) with the exact
    rational ESS — no variance estimate, no floats; (Σw)² stays
    inside decimal(38,0) up to ~10T docs at ppm-scale weights, and
    Spark raises (ANSI) rather than wrapping beyond that.

    Plan: the weight computation's two hash aggregates + broadcast
    64-row ratio join, then ONE more shuffle — the doc_id join back
    to (doc_id, source) — and a source-cardinality aggregate; the
    'ALL' row re-aggregates the per-source partials, not the corpus.
    Cite: Xie et al. 2023 (DSIR) resampling diagnostics; Kish 1965."""
    d38 = "decimal(38,0)"
    w = q_importance_weights(spark, sf_dir).select(
        "doc_id", F.col("importance_ppm").alias("w")
    )
    src = T(spark, sf_dir, "documents").select("doc_id", "source")
    per_doc = w.join(src, "doc_id").select(
        "source", F.col("w").cast(d38).alias("wd"), F.col("w").alias("wl")
    )
    # persisted: the source-cardinality partials feed the per-source
    # rows AND the 'ALL' re-aggregate — unpersisted, the whole weight
    # pipeline (two token passes) ran once per consumer
    g = _tracked_persist(per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("wd").alias("sw"),
        F.sum(F.col("wd") * F.col("wl")).alias("sww"),
    ))
    allg = g.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sw").alias("sw"),
        F.sum("sww").alias("sww"),
    ).select(F.lit("ALL").alias("source"), "n_docs", "sw", "sww")
    return (
        g.unionByName(allg)
        .select(
            "source",
            "n_docs",
            F.expr("CAST(sw div n_docs AS BIGINT)").alias("mean_w_ppm"),
            F.expr(
                "CAST(sw * sw * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * sww)"
                " AS BIGINT)"
            ).alias("ess_ppm"),
        )
        .orderBy("source")
    )


# --- corpus content checksum (reproducibility stamp) -------------------------

@register(
    "q_corpus_checksum",
    oracle="""
    WITH h AS (SELECT source,
                      ('0x' || substr(md5(text), 1, 15))::BIGINT AS hh,
                      n_chars
               FROM documents),
    g AS (SELECT source, COUNT(*) AS n_docs,
                 SUM(CAST(hh AS HUGEINT)) AS checksum,
                 SUM(CAST(n_chars AS HUGEINT)) AS total_chars
          FROM h GROUP BY source
          UNION ALL
          SELECT 'ALL', COUNT(*), SUM(CAST(hh AS HUGEINT)),
                 SUM(CAST(n_chars AS HUGEINT))
          FROM h)
    SELECT source, n_docs,
           CAST(checksum AS DECIMAL(38,0)) AS checksum,
           CAST(total_chars AS BIGINT) AS total_chars
    FROM g ORDER BY source
    """,
)
def q_corpus_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed corpus checksum — the reproducibility stamp a
    dataset card / training-run manifest records so 'the same corpus'
    is CHECKABLE, not asserted: per source (and ALL), the document
    count, an order- and partitioning-invariant content checksum
    (SUM of 60-bit md5 prefixes — addition commutes, so any shuffle,
    any file layout, any merge order produces the identical stamp;
    the md5-prefix-as-int trick is q_feature_hash's, exact in both
    engines), and total characters. Any single-character edit,
    dropped doc, or duplicate insertion moves the stamp. Composes
    with q_merge_time_travel: stamp each committed generation and a
    resume can verify its inputs byte-for-byte without re-reading old
    generations' text.

    Plan: one scan, one map-side-combinable aggregate on source, the
    ALL row re-aggregated from per-source partials — the cheapest
    possible full-corpus pass (no window, no join, 60-bit hash sums
    in decimal(38,0) leave 18 orders of headroom)."""
    d38 = "decimal(38,0)"
    h = T(spark, sf_dir, "documents").select(
        "source",
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10)
        .cast("long")
        .alias("hh"),
        "n_chars",
    )
    g = h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("hh").cast(d38)).alias("checksum"),
        F.sum(F.col("n_chars").cast(d38)).alias("total_chars"),
    )
    allg = g.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("checksum").alias("checksum"),
        F.sum("total_chars").alias("total_chars"),
    ).select(F.lit("ALL").alias("source"), "n_docs", "checksum", "total_chars")
    return (
        g.unionByName(allg)
        .select(
            "source",
            "n_docs",
            F.col("checksum").cast(d38).alias("checksum"),
            F.col("total_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )
