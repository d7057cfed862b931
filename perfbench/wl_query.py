"""``query``: the read path plus the batch jobs, closed loop, one client.

Set-up loads a clustered 384-dim vector collection (``collection.load``),
builds an IVF index (nlist 16), saves it and reloads it, so IVF probes
read partition-pruned parquet, then runs every op once (the warm-up
pass). Each measured round then runs:

* 15 top-10 searches in a seeded order: 5 exact, 5 filtered
  (``tags["c"] == ...``, ~10% selective) and 5 IVF (nprobe 2), with
  queries near cluster centres;
* then one ``pipelines.prepare_training_corpus`` job over the corpus;
* then the registry queries in ``REGISTRY`` (merge and graph operators).

``setup_s`` counts the calls into the package only: session start,
upsert and load, index build/save/reload and the warm-up pass. Input
generation and the checks run outside it. The warm-up outputs are
checked after set-up: searches against numpy, curation against a
pure-Python Jaccard model, registry queries against their DuckDB
oracles. Measured searches are each checked against numpy.

Rounds repeat until ``--seconds`` have passed; a round is never cut.
A traced run times one pass of the searches without spans, then one
round with them.
"""

from __future__ import annotations

import time

import numpy as np

import check
import gen
from run import median
from spans import scan_metrics

N_VECTORS = 5_000
DIM = 384
# 16 lists of ~310 vectors; a probe of 2 reads 1/8 of the collection.
# Saving writes one file per list and write task, so each extra list
# adds set-up time to every run (64 lists cost ~5 s more).
NLIST = 16
NPROBE = 2
K = 10
SEARCHES_PER_KIND = 5
N_DOCS = 700
REGISTRY = ("q_merge_into", "q_graph_components")
IVF_RECALL_FLOOR = 0.9
SEARCH_KINDS = ("exact", "filtered", "ivf")
# span around each measured op in the traced run
_SPAN = {"exact": "search.exact", "filtered": "search.filtered",
         "ivf": "search.ivf", "curation": "pipelines.prepare_training_corpus",
         **{q: "queries.run" for q in REGISTRY}}


def run(run) -> None:
    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.collection import VectorCollection
    from python_vectordbapp_ceph_spark.operators import ivf as ivf_mod
    from python_vectordbapp_ceph_spark.pipelines import prepare_training_corpus
    from python_vectordbapp_ceph_spark.queries import QUERIES

    spark = run.spark
    sc = spark.sparkContext
    tracer = run.tracer
    vs = gen.vector_set(run.seed, N_VECTORS, DIM)
    gen.write_vector_set(vs, run.path("vectors.parquet"))
    corpus = gen.curation_corpus(run.seed, N_DOCS)
    corpus_dir, tables = run.path("corpus"), run.path("tables")
    gen.write_corpus(run.seed, corpus, corpus_dir)
    gen.write_registry_tables(run.seed, tables)

    with run.setup_step("load"):
        coll = VectorCollection(spark, run.path("collection"), dim=DIM,
                                name="bench_vectors").ensure_exists()
        coll.upsert(spark.read.schema(
            "key string, url string, embedding array<float>, tags map<string,string>"
        ).parquet(run.path("vectors.parquet")))
        t0 = time.perf_counter()
        coll.load()
        coll._loaded.count()  # noqa: SLF001 - materialize the cached snapshot
        load_s = time.perf_counter() - t0
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    rdds, execs = store.rddList(True), store.executorList(True)
    run.note("collection.loaded_bytes",
             sum(rdds.apply(i).memoryUsed() for i in range(rdds.size())), "bytes")
    run.note("spark.storage_memory_bytes",
             sum(execs.apply(i).maxMemory() for i in range(execs.size())), "bytes")
    if tracer is not None:
        tracer.wrap(ivf_mod, "build_ivf", "ivf.build")
        tracer.wrap(ivf_mod, "save_ivf", "ivf.save")
        tracer.wrap(ivf_mod, "load_ivf", "ivf.load")
    with run.setup_step("index"):
        coll.create_index(nlist=NLIST, nprobe=NPROBE)
        coll.save_index(run.path("ivf"))
        coll.load_index(run.path("ivf"), nprobe=NPROBE)
    if tracer is not None:
        tracer.unwrap_all()

    rng = np.random.default_rng([run.seed, 9])
    qi = iter(rng.permutation(len(vs.queries)).tolist() * 1000)
    pinned: list[int] = []

    def search(kind: str, i: int):
        """One top-10 search for query ``i``: the DataFrame and its rows."""
        q = vs.queries[i].astype(np.float64).tolist()
        if kind == "ivf":
            df = coll.search(q, k=K, approx=True)
        elif kind == "filtered":
            df = coll.search(q, k=K, filter=f'tags["c"] == "{vs.query_tags[i]}"',
                             output_fields=["key"])
        else:
            df = coll.search(q, k=K, output_fields=["key"])
        return df, [(r["key"], r["distance"]) for r in df.collect()]

    def curation(collect: bool):
        before = sc._jsc.getPersistentRDDs().size()  # noqa: SLF001
        df = prepare_training_corpus(spark, corpus_dir)
        rows = None
        if collect:
            rows = df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        release_caches()
        pinned.append(sc._jsc.getPersistentRDDs().size() - before)  # noqa: SLF001
        return rows

    def registry(name: str, collect: bool):
        df = QUERIES[name](spark, tables)
        out = None
        if collect:
            out = (list(df.columns), [tuple(r) for r in df.collect()])
        else:
            df.write.format("noop").mode("overwrite").save()
        release_caches()
        return out

    def timed(kind: str, n: int, fn):
        """Run ``fn`` as op ``n`` in its own job group: (seconds, result)."""
        group = f"{kind}#{n}"
        sc.setJobGroup(group, kind)
        t = time.perf_counter()
        if tracer is not None and tracer.installed:
            with tracer.op(group), tracer.span(_SPAN[kind]):
                out = fn()
        else:
            out = fn()
        d = time.perf_counter() - t
        sc.setJobGroup("client", "client")
        return d, out

    # warm-up: every op once, outside the measured window (its time
    # counts in setup_s); its outputs are checked below, after the
    # set-up clock has stopped
    warm: dict = {}
    with run.setup_step("warmup"):
        for kind in SEARCH_KINDS:
            i = next(qi)
            warm[kind] = (i, timed(kind, -1, lambda k=kind, i=i: search(k, i))[1][1])
        warm["curation"] = timed("curation", -1, lambda: curation(True))[1]
        for q in REGISTRY:
            warm[q] = timed(q, -1, lambda q=q: registry(q, True))[1]
    pinned.clear()
    run.setup_done()

    truth = check.numpy_topk(vs.vectors, vs.keys, vs.queries, K)
    truth_f = check.numpy_topk(vs.vectors, vs.keys, vs.queries, K,
                               mask_values=vs.tag_c, want=vs.query_tags)
    key_index = {k: j for j, k in enumerate(vs.keys)}.get
    recalls: list[float] = []

    def check_search(kind: str, i: int, rows: list[tuple]) -> None:
        if kind == "ivf":
            recalls.append(check.recall(rows, truth[i]))
            run.check(len(rows) == K, f"ivf query {i}: {len(rows)} rows")
            return
        filtered = kind == "filtered"
        want = truth_f[i] if filtered else truth[i]
        allowed = (lambda j: vs.tag_c[j] == vs.query_tags[i]) if filtered else None
        run.check(check.topk_ok(rows, want, vs.vectors, vs.queries[i],
                                key_index, allowed),
                  f"{kind} query {i}: {rows[:3]} vs {want[:3]}")

    for kind in SEARCH_KINDS:
        check_search(kind, *warm[kind])
    for ok, what in check.curation(corpus, warm["curation"]):
        run.check(ok, what)
    for q in REGISTRY:
        run.check(*check.registry_vs_oracle(*warm[q], tables, q))
    recalls.clear()

    searches = [k for k in SEARCH_KINDS for _ in range(SEARCHES_PER_KIND)]
    times: dict[str, list[float]] = {k: [] for k in (*SEARCH_KINDS, "curation",
                                                     *REGISTRY)}
    scans: dict[str, list[dict]] = {k: [] for k in SEARCH_KINDS}
    n = 0

    def measure_search(kind: str, n: int) -> float:
        i = next(qi)
        d, (df, rows) = timed(kind, n, lambda: search(kind, i))
        check_search(kind, i, rows)
        if tracer is not None and tracer.installed:
            scans[kind].append(scan_metrics(df))
        return d

    untraced: dict[str, list[float]] = {k: [] for k in SEARCH_KINDS}
    first_measured = 0
    if tracer is not None:
        # untraced searches first: the base of trace.overhead_ratio
        for kind in rng.permutation(searches).tolist():
            untraced[kind].append(measure_search(kind, n))
            n += 1
        _install_spans(tracer)
        first_measured = n
    t_measure = time.perf_counter()
    while n == first_measured or time.perf_counter() - t_measure < run.seconds:
        # searches in a seeded order, then the batch jobs in a fixed one
        for kind in rng.permutation(searches).tolist():
            times[kind].append(measure_search(kind, n))
            n += 1
        times["curation"].append(timed("curation", n, lambda: curation(False))[0])
        n += 1
        for q in REGISTRY:
            times[q].append(timed(q, n, lambda q=q: registry(q, False))[0])
            n += 1
        if tracer is not None:
            break  # one traced round
    window = time.perf_counter() - t_measure
    if tracer is not None:
        tracer.unwrap_all()

    mean_recall = float(np.mean(recalls)) if recalls else 0.0
    run.check(mean_recall >= IVF_RECALL_FLOOR,
              f"ivf recall@{K} {mean_recall:.3f} below {IVF_RECALL_FLOOR}")

    kind_p50 = {k: median(v) for k, v in times.items()}
    all_searches = [d for k in SEARCH_KINDS for d in times[k]]
    run.end_to_end["latency_p50_s"] = median(all_searches)
    run.end_to_end["batch_s"] = sum(kind_p50[k] for k in ("curation", *REGISTRY))
    run.end_to_end["setup_s"] = run.setup_s
    ns = len(all_searches)
    rounds = len(times[REGISTRY[0]])
    # one search of each kind per (sum of the kinds' median latencies)
    run.note("search.qps", len(SEARCH_KINDS) / sum(kind_p50[k] for k in SEARCH_KINDS),
             "1/s", ns)
    run.note("search.latency_p50_s", run.end_to_end["latency_p50_s"], "s", ns)
    for k in SEARCH_KINDS:
        run.note(f"search.{k}_p50_s", kind_p50[k], "s", len(times[k]))
    run.note("search.ivf_recall_at_10", mean_recall, "ratio", len(recalls))
    run.note("search.index_build_s", run.setup_steps["index"], "s", 1)
    run.note("collection.load_s", load_s, "s", 1)
    run.note("curation.job_s", kind_p50["curation"], "s", len(times["curation"]))
    run.note("registry.total_s", sum(kind_p50[q] for q in REGISTRY), "s", rounds)
    run.note("batch_s", run.end_to_end["batch_s"], "s", rounds)
    run.note("query.measure_window_s", window, "s", n - first_measured)
    run.note("setup_s", run.setup_s, "s", 1)

    if tracer is not None:
        _layer_metrics(run, times, untraced, scans, first_measured, load_s,
                       corpus_dir, corpus, pinned)


def _install_spans(tracer) -> None:
    from python_vectordbapp_ceph_spark import collection as C
    from python_vectordbapp_ceph_spark.operators import filter_expr, ivf, knn

    tracer.wrap(C.VectorCollection, "search", "collection.search")
    tracer.wrap(filter_expr, "translate", "filter_expr.translate")
    tracer.wrap(knn, "knn_topk", "knn.plan")
    tracer.wrap(ivf.IVFIndex, "probe_clusters", "ivf.probe_clusters")
    tracer.wrap(ivf.IVFIndex, "search", "ivf.plan")


def _layer_metrics(run, times, untraced, scans, first_measured, load_s,
                   corpus_dir, corpus, pinned) -> None:
    """Per-layer numbers of the traced round (one of each op kind's
    share); the curation stages and LSH counts are measured after it."""
    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.io import load_table
    from python_vectordbapp_ceph_spark.operators import dedup
    from python_vectordbapp_ceph_spark.pipelines import near_dup_drop_list
    from spans import job_group_counters, sum_counters

    spark = run.spark
    t = run.tracer
    pl = run.per_layer
    pl["collection.load_s"] = load_s
    for k in ("build", "save", "load"):
        pl[f"ivf.{k}_s"] = t.total(f"ivf.{k}")
    round_spans = [s for s in t.spans if s["op"] is not None]
    for layer, secs in t.self_time_by_layer(round_spans).items():
        pl[f"selftime.{layer}_s"] = secs

    # the traced round's job groups, "<kind>#<n>"
    groups = {g: c for g, c in job_group_counters(spark).items()
              if g.split("#")[-1].isdigit()
              and int(g.split("#")[-1]) >= first_measured}

    def of(*kinds):
        return [c for g, c in groups.items() if g.split("#")[0] in kinds]

    n_kind = {k: max(len(times[k]), 1) for k in SEARCH_KINDS}
    pl["filter_expr.translate_s"] = t.total("filter_expr.translate") / n_kind["filtered"]
    pl["knn.plan_s"] = t.total("knn.plan") / (n_kind["exact"] + n_kind["filtered"])
    # Spark job time of the exact and filtered searches, submission to
    # completion: the search less its plan building and collect
    pl["knn.execute_s"] = median([c["job_s"] for c in of("exact", "filtered")])
    pl["knn.rows_scanned_per_result"] = float(np.mean(
        [s["rows"] for k in ("exact", "filtered") for s in scans[k]])) / K
    pl["ivf.probe_clusters_s"] = t.total("ivf.probe_clusters") / n_kind["ivf"]
    pl["ivf.rows_scanned_per_result"] = float(np.mean(
        [s["rows"] for s in scans["ivf"]])) / K
    pl["ivf.files_read_per_query"] = float(np.mean([s["files"] for s in scans["ivf"]]))

    n_search = sum(len(times[k]) for k in SEARCH_KINDS)
    sc_ = sum_counters(of(*SEARCH_KINDS))
    pl["search.jobs_per_query"] = sc_["jobs"] / max(n_search, 1)
    pl["search.tasks_per_query"] = sc_["tasks"] / max(n_search, 1)
    pl["search.executor_run_s_per_query"] = sc_["executor_run_s"] / max(n_search, 1)
    for q in REGISTRY:
        pl[f"registry.{q}.wall_s"] = median(times[q])
        pl[f"registry.{q}.jobs"] = sum(c["jobs"] for c in of(q)) / max(len(times[q]), 1)
    rounds = max(len(times[REGISTRY[0]]), 1)
    for k, v in sum_counters(groups.values()).items():
        pl[f"spark.{k}"] = v / rounds
    pl["cache.pinned_after_release"] = float(max(pinned, default=0))
    pl["trace.overhead_ratio"] = (
        median([d for k in SEARCH_KINDS for d in times[k]])
        / max(median([d for k in SEARCH_KINDS for d in untraced[k]]), 1e-9))

    # curation stages, each public function's output materialized alone
    docs = load_table(spark, corpus_dir, "documents")
    for name, build in (
        ("curation.exact_dedup_s", lambda: dedup.exact_dedup(docs)),
        ("curation.near_dup_s", lambda: near_dup_drop_list(dedup.exact_dedup(docs))),
    ):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        pl[name] = time.perf_counter() - t0
        release_caches()
    pl["curation.annotate_join_s"] = max(
        median(times["curation"]) - pl["curation.exact_dedup_s"]
        - pl["curation.near_dup_s"], 0.0)
    sigs = dedup.minhash_signatures(dedup.exact_dedup(docs), "text", "doc_id", 16, 3)
    cands = [(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_candidates(sigs, "doc_id", 8).collect()]
    release_caches()
    verified = check.verified_pairs(corpus, cands)
    pl["dedup.lsh_candidate_pairs"] = float(len(cands))
    pl["dedup.verified_pairs"] = float(verified)
    pl["dedup.candidate_precision"] = verified / max(len(cands), 1)
