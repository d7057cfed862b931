"""BPE trainer/encoder semantics: Spark merge sequence must equal a
pure-Python reference trainer with the same tie-break, and encoding
must be lossless (concat(tokens) == word)."""

from collections import Counter

from conftest import SF_DIR

from python_vectordbapp_ceph_spark.operators.bpe import (
    bpe_encode,
    bpe_train,
    word_freq,
)


def _reference_bpe(word_freqs: dict[str, int], n_merges: int, min_freq: int):
    """Textbook trainer (Sennrich et al. 2016), tie-break (freq desc,
    pair lexicographic asc) — the contract bpe_train implements."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        pairs = {p: n for p, n in pairs.items() if n >= min_freq}
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        a, b = best
        merges.append(best)
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference_trainer(spark):
    corpus = [
        "low low low low low",
        "lower lower",
        "newest newest newest newest newest newest",
        "widest widest widest",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = [
        (r.left, r.right)
        for r in bpe_train(df, n_merges=8, min_freq=2).orderBy("rank").collect()
    ]
    wf = Counter(w for t in corpus for w in t.split())
    want = _reference_bpe(wf, 8, 2)
    assert got == want
    # the classic example's first merge is the most frequent pair
    assert got[0] == want[0]


def test_bpe_train_on_documents_and_lossless_encode(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    merges = bpe_train(docs, n_merges=10, min_freq=2)
    n = merges.count()
    assert 1 <= n <= 10
    # learned symbols grow: at least one rule's output is length > 1
    assert any(len(r.left + r.right) > 2 for r in merges.collect())

    enc = bpe_encode(docs.select("doc_id", "text"), merges)
    for r in enc.limit(20).collect():
        # losslessness: concatenating a word's tokens restores the word
        toks = list(r.tokens)
        words = r.text.lower().split()
        joined = "".join(toks)
        assert joined == "".join(words)


def test_bpe_deterministic_across_partitionings(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    m1 = [
        (r.left, r.right)
        for r in bpe_train(docs.repartition(1), n_merges=6)
        .orderBy("rank")
        .collect()
    ]
    m2 = [
        (r.left, r.right)
        for r in bpe_train(docs.repartition(7), n_merges=6)
        .orderBy("rank")
        .collect()
    ]
    assert m1 == m2


def test_word_freq_counts(spark):
    df = spark.createDataFrame([("a b a",), ("A  b",)], "text string")
    wf = {r.word: r.freq for r in word_freq(df).collect()}
    assert wf == {"a": 3, "b": 2}


def test_driver_finish_equals_distributed_path(spark):
    """The driver-finish gate must be invisible in results: forcing the
    distributed loop (gate=0) and the driver loop (default gate) must
    learn the identical merge sequence on the same corpus."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    fast = [
        (r.rank, r.left, r.right)
        for r in bpe_train(docs, n_merges=6, min_freq=2)
        .orderBy("rank").collect()
    ]
    dist = [
        (r.rank, r.left, r.right)
        for r in bpe_train(docs, n_merges=6, min_freq=2,
                           driver_finish_words=0)
        .orderBy("rank").collect()
    ]
    assert fast == dist and len(fast) > 0


def test_driver_finish_runs_no_separate_count(spark, monkeypatch):
    """The word table is gated by the bounded collect alone: bpe_train
    never calls count() on the way to the driver loop."""
    docs = spark.createDataFrame([("a b a ab ab",), ("ab b",)], "text string")
    df_cls = type(docs)
    counted = []
    orig_count = df_cls.count

    def spy(self):
        counted.append(1)
        return orig_count(self)

    monkeypatch.setattr(df_cls, "count", spy)
    merges = bpe_train(docs, n_merges=2, min_freq=2)
    assert not counted
    assert [(r.left, r.right) for r in merges.collect()] == [("a", "b")]
