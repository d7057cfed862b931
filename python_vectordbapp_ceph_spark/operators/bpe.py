"""Distributed BPE (byte-pair encoding) vocabulary training + encode.

The tokenizer-training step of an LLM data pipeline (Sennrich et al.
2016), built Spark-first around the observation that BPE training
never needs the corpus after one pass: merges are learned on the
WORD-FREQUENCY table (vocabulary-sized — millions of rows at 100 TB,
not trillions), so

  - one corpus scan builds (word, freq) with a map-side-combinable
    aggregate — the only fact-sized operation;
  - each merge round is pair-explode → weighted count → global top-1
    over the word table, with a deterministic total-order tie-break
    (freq desc, pair asc) so the learned vocabulary is reproducible
    under any partitioning;
  - only the single winning pair crosses to the driver per round
    (one 3-field row), which then broadcasts back into the rewrite;
  - the rewrite (merge adjacent winner pair inside each symbol
    array) is an Arrow-batched pandas UDF — embarrassingly parallel,
    and the loop-carried word table is checkpointed via
    cache.materialize so round N's plan doesn't nest rounds 1..N-1.

No end-of-word marker is used (symbols never contain spaces, words
come from whitespace splitting), so ``concat(tokens) == word`` holds
exactly — pinned by pytest along with merge-sequence equality against
a pure-Python reference trainer.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..cache import collect_bounded, materialize


def _merge_udf(a: str, b: str):
    """Arrow-batched kernel: greedy left-to-right merge of adjacent
    (a, b) symbol pairs into a single a+b symbol."""
    ab = a + b

    @pandas_udf(ArrayType(StringType()))
    def merge_pair(col: pd.Series) -> pd.Series:
        def merge(seq):
            out = []
            i, n = 0, len(seq)
            while i < n:
                if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            return out

        return col.map(merge)

    return merge_pair


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus scan → (word, freq). The only fact-sized step."""
    return (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _train_driver(
    words: list[tuple[list[str], int]], n_merges: int, min_freq: int
) -> list[tuple[int, str, str]]:
    """The merge loop on a collected word table — EXACTLY the
    distributed semantics: every adjacent position counts (weighted by
    word freq, overlapping repeats included, same as the pair
    explode), argmax broken by (n desc, pair asc), greedy
    left-to-right rewrite. Kept separate so pytest pins the two paths
    merge-for-merge equal."""
    merges: list[tuple[int, str, str]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        best = None
        for (left, right), n in counts.items():
            if n < min_freq:
                continue
            key = (-n, left, right)
            if best is None or key < best[0]:
                best = (key, left, right)
        if best is None:
            break
        _, a, b = best
        merges.append((rank, a, b))
        ab = a + b
        nxt: list[tuple[list[str], int]] = []
        for syms, f in words:
            out: list[str] = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, f))
        words = nxt
    return merges


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    min_freq: int = 2,
    checkpoint_dir: str | None = None,
    driver_finish_words: int = 1 << 20,
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules; returns a DataFrame
    (rank int, left string, right string) in learning order. Stops
    early when no pair reaches ``min_freq``.

    Driver finish (the one gate, ``cache.collect_bounded``, that the
    graph operators share): the merge loop operates on the
    WORD-FREQUENCY table — vocabulary-sized by construction — yet
    each distributed round pays two scheduled jobs (argmax collect +
    checkpointed rewrite) for work that is milliseconds once the
    table fits on the driver. At most ``driver_finish_words`` rows
    are collected ONCE (Arrow, no separate count) and the loop runs
    in plain Python with bit-identical semantics (pytest pins the
    paths merge-for-merge equal); above it — web-scale vocabularies
    — the distributed loop runs unchanged, after one wasted bounded
    collect. At 1 Mi words the collect is ~tens of MB, the same
    budget the CC finisher spends."""
    spark = docs.sparkSession
    wf = word_freq(docs, text_col)
    if driver_finish_words > 0:
        wf = materialize(wf, checkpoint_dir)
        pdf = collect_bounded(wf, driver_finish_words)
        if pdf is not None:
            words = [
                (list(w), int(f)) for w, f in zip(pdf["word"], pdf["freq"])
            ]
            merges = _train_driver(words, n_merges, min_freq)
            return spark.createDataFrame(
                merges or [], "rank int, left string, right string"
            )
    w = materialize(
        wf.select(
            "freq",
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1))"
            ).alias("syms"),
        ),
        checkpoint_dir,
    )
    merges: list[tuple[int, str, str]] = []
    pair_expr = F.explode(
        F.expr(
            "transform(sequence(1, size(syms) - 1),"
            " i -> struct(element_at(syms, i) AS l,"
            "             element_at(syms, i + 1) AS r))"
        )
    )
    for rank in range(n_merges):
        top = (
            w.filter(F.size("syms") >= 2)
            .select("freq", pair_expr.alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
            .filter(F.col("n") >= min_freq)
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["l"], top[0]["r"]
        merges.append((rank, a, b))
        w = materialize(
            w.select("freq", _merge_udf(a, b)(F.col("syms")).alias("syms")),
            checkpoint_dir,
        )
    return spark.createDataFrame(
        merges or [], "rank int, left string, right string"
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize with learned rules: whitespace-split, then apply every
    merge in rank order within each word (the standard BPE encoder).
    The merge table is collected once (it is n_merges rows by
    construction) and shipped in the UDF closure — a broadcast, never
    a join."""
    rules = [
        (r.left, r.right) for r in merges.orderBy("rank").collect()
    ]

    @pandas_udf(ArrayType(StringType()))
    def encode(col: pd.Series) -> pd.Series:
        def enc_word(word):
            seq = list(word)
            for a, b in rules:
                ab, out, i, n = a + b, [], 0, len(seq)
                while i < n:
                    if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                        out.append(ab)
                        i += 2
                    else:
                        out.append(seq[i])
                        i += 1
                seq = out
            return seq

        def enc(text):
            toks = []
            for wd in text.lower().split():
                toks.extend(enc_word(wd))
            return toks

        return col.map(enc)

    return docs.withColumn(out_col, encode(F.col(text_col)))
