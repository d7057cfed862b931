"""Building a registered query's plan starts no Spark job.

A query function returns a lazy DataFrame; the jobs belong to whoever
executes it. Two kinds of query are exempt, because the work is part
of the query itself: those that write (and read back what they wrote),
and those that run an eager operator step whose result shapes the plan
(a model or quantizer fit on the driver, a graph or dedup loop with a
driver-side finish, a count-gated broadcast, a top-k or merge collected
to the driver). Each exemption states the jobs it runs at sf0.001 on
local[4]; a query may run fewer, never more.

The input tables are loaded once first, so their schemas come from the
session memo (io.read_parquet) and no query pays an inference job.
"""

from conftest import SF_DIR, jobs_of

from python_vectordbapp_ceph_spark.cache import release_caches
from python_vectordbapp_ceph_spark.io import TABLES, load_table
from python_vectordbapp_ceph_spark.queries import QUERIES

# query -> (jobs at plan build, why the plan build runs them)
EAGER_AT_BUILD = {
    # writes as part of the query
    "q_bucketed_join": (2, "writes two bucketed tables"),
    "q_incremental_view": (14, "initializes and refreshes the view"),
    "q_merge_into": (7, "writes the base, merges, reads back"),
    "q_merge_time_travel": (7, "writes the base, merges, reads v0"),
    "q_orc_roundtrip": (1, "writes ORC"),
    "q_schema_evolution": (3, "writes two generations"),
    "q_sink_roundtrip": (2, "writes partitioned parquet"),
    "q_vector_sink_roundtrip": (1, "writes through the vector sink"),
    "q_zorder_pruning": (10, "writes the z-ordered layout"),
    "q_ivf_add": (5, "IVF fit sample, saves and appends"),
    "q_ivf_batch_search": (4, "IVF fit sample and save"),
    "q_ivf_partition_prune": (3, "IVF fit sample and save"),
    "q_ivf_sq8_search": (5, "IVF and SQ8 fits, save"),
    # eager operator steps
    "q_bpe_train": (3, "BPE merge rounds collected to the driver"),
    "q_bq_search": (2, "BQ mean fit"),
    "q_sq8_search": (2, "SQ8 range fit"),
    "q_pq_search": (3, "PQ codebook fit"),
    "q_pca_project": (2, "PCA fit"),
    "q_semantic_dedup": (3, "KMeans fit sample"),
    "q_dedup_near_mllib": (2, "MLlib MinHashLSH fit"),
    "q_heavy_hitters": (1, "heavy-hitter candidates collected"),
    "q_mmr_topk": (1, "MMR candidates collected to the driver"),
    "q_graph_components": (6, "label propagation, driver finish gate"),
    "q_component_sizes": (6, "label propagation, driver finish gate"),
    "q_pagerank": (6, "power iteration, driver finish gate"),
    "q_kcore": (4, "peeling rounds, driver finish gate"),
    "q_dedup_components": (4, "dedup components loop"),
    "q_dedup_survivors": (9, "dedup components loop"),
    "q_dedup_best_quality": (6, "dedup components loop"),
    "q_decontaminate": (14, "dirty-list count gate, components loop"),
    "q_delete_antijoin": (4, "count-gated broadcast of the delete list"),
    "q_embedding_near_dup": (4, "block-count probe of the persisted base"),
}


def test_registry_plans_build_without_jobs(spark):
    assert set(EAGER_AT_BUILD) <= set(QUERIES)
    for t in TABLES:
        load_table(spark, SF_DIR, t)
    over = {}
    for name in sorted(QUERIES):
        try:
            _, n = jobs_of(spark, lambda: QUERIES[name](spark, SF_DIR))
        finally:
            release_caches()
        allowed = EAGER_AT_BUILD.get(name, (0, ""))[0]
        if n > allowed:
            over[name] = (n, allowed)
    assert not over, f"plan build ran more jobs than allowed: {over}"
