"""The curation funnel does each piece of work once: the L2 normalize
binds its norm once per row, the MinHash signature is one nested
expression, and building ``prepare_training_corpus`` runs no Spark
job of its own."""

import random

import pytest
from pyspark.sql import functions as F

from python_vectordbapp_ceph_spark.functions import vector as V
from python_vectordbapp_ceph_spark.io import load_table
from python_vectordbapp_ceph_spark.operators.dedup import minhash_signatures, shingles
from python_vectordbapp_ceph_spark.pipelines import prepare_training_corpus

from conftest import SF_DIR, jobs_of


def _per_element_normalize(v):
    """The former formula: the norm subtree inside the per-element
    lambda, re-evaluated for every element."""
    norm = V.l2_norm(v)
    return F.when(norm == 0.0, v.cast("array<double>")).otherwise(
        F.transform(v, lambda x: x.cast("double") / norm)
    )


def _kids(e):
    children = e.children()
    return [children.apply(i) for i in range(children.size())]


def _name(e):
    return e.getClass().getSimpleName()


def _arg_ids(fn):
    args = fn.arguments()
    return {args.apply(i).exprId().id() for i in range(args.size())}


def _heavy(e):
    """Work worth flagging: a whole array or map, or a loop of its own."""
    return e.dataType().typeName() in ("array", "map") or "lambdafunction" in e.toString()


def _free_vars(e, varying, out):
    """The lambda variables free in ``e``. Appends to ``out`` each
    maximal heavy subtree of ``e`` that is free of every ``varying``
    variable: a lambda binding those variables re-evaluates it on
    every call, with the same result."""
    name = _name(e)
    if name == "NamedLambdaVariable":
        return {e.exprId().id()}
    if name == "LambdaFunction":
        bound = _arg_ids(e)
        return _free_vars(e.function(), varying | bound, out) - bound
    kids = _kids(e)
    frees = [_free_vars(k, varying, []) for k in kids]
    for k, f in zip(kids, frees):
        if f & varying:
            _free_vars(k, varying, out)
        elif _name(k) != "LambdaFunction" and _kids(k) and not k.foldable() \
                and _heavy(k):
            out.append(k.toString())
    return set().union(*frees)


def _is_let(hof):
    """A transform over a one-element array: the idiom that binds a
    value once, so its lambda runs once per row, not per element."""
    if _name(hof) != "ArrayTransform":
        return False
    arg = hof.argument()
    return _name(arg) == "CreateArray" and arg.children().size() == 1


def per_element_captures(df):
    """Heavy subtrees that a per-element lambda in ``df``'s optimized
    plan re-evaluates for every element."""
    found, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        stack += _kids(node)
        exprs = node.expressions()
        todo = [exprs.apply(i) for i in range(exprs.size())]
        while todo:
            e = todo.pop()
            kids = _kids(e)
            todo += kids
            if _is_let(e):
                continue
            for k in kids:
                if _name(k) == "LambdaFunction":
                    _free_vars(k.function(), _arg_ids(k), found)
    return found


@pytest.mark.parametrize("elem", ["double", "float"])
def test_l2_normalize_bit_identical_to_per_element_formula(spark, elem):
    rng = random.Random(7)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(384)]) for i in range(40)]
    rows += [(40, [0.0] * 384), (41, None), (42, [3.0, -4.0])]
    df = spark.createDataFrame(rows, f"id int, v array<{elem}>")
    got = df.select(
        "id",
        V.l2_normalize(F.col("v")).alias("new"),
        _per_element_normalize(F.col("v")).alias("old"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.new == r.old, r.id
    by_id = {r.id: r.new for r in got}
    assert by_id[40] == [0.0] * 384  # a zero vector passes through
    assert by_id[41] is None
    assert by_id[42] == [0.6, -0.8]


def test_no_lambda_recomputes_a_captured_subtree(spark):
    """Structural: no per-element lambda re-evaluates a captured
    subtree — the norm's ``aggregate`` in the normalize, a computed
    shingle array in the MinHash signature, or the array cast in the
    binary-quantizer encode. The former normalize is the control."""
    from python_vectordbapp_ceph_spark.operators.bq import BQParams, bq_encode

    # built over range(), not local rows: the optimizer evaluates a
    # projection of local rows at planning time and no lambda is left
    x = F.col("id").cast("float")
    vecs = spark.range(3).select("id", F.array(x, x + 1, x + 2).alias("v"))
    docs = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d "), F.col("id").cast("string")).alias("text"),
    )
    old = per_element_captures(vecs.select(_per_element_normalize(F.col("v"))))
    assert any("aggregate" in c for c in old), old
    for df in (
        vecs.select(V.l2_normalize(F.col("v"))),
        minhash_signatures(docs, num_hashes=4),
        bq_encode(vecs, "v", BQParams(means=[0.5, 1.5, 2.5])),
    ):
        assert per_element_captures(df) == []


def test_minhash_signature_equals_per_hash_form(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "short"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    n = 12

    def minhash_of(i):  # the former per-hash expression, one per i
        return F.array_min(
            F.transform(shingles("text", 3), lambda s: F.xxhash64(s, F.lit(i)))
        )

    per_hash = docs.select(
        "doc_id", F.array(*[minhash_of(i) for i in range(n)]).alias("signature")
    )
    want = {r.doc_id: r.signature for r in per_hash.collect()}
    got = {r.doc_id: r.signature
           for r in minhash_signatures(docs, num_hashes=n).collect()}
    assert got == want
    assert all(len(s) == n for s in got.values())


def test_minhash_signature_rejects_no_hashes(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="num_hashes"):
            minhash_signatures(docs, num_hashes=bad)


def test_prepare_training_corpus_runs_no_job_at_call_time(spark):
    """A warm call builds the curation plan without starting a job: the
    schemas of its two input tables come from the session memo
    (io.read_parquet), and the near-dup drop list is joined plainly,
    not through the count gate."""
    from python_vectordbapp_ceph_spark.cache import release_caches

    load_table(spark, SF_DIR, "documents")
    load_table(spark, SF_DIR, "embeddings")
    try:
        df, n_call = jobs_of(spark, lambda: prepare_training_corpus(spark, SF_DIR))
        assert n_call == 0
        assert df.count() > 0
    finally:
        release_caches()
