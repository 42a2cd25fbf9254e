"""One-shot pin lifecycle (VERDICT r10 #5): queries whose pinned
relation is consumed exactly once per invocation must release the pin
after running their final action (release_after_action) instead of
leaving it resident until the 128-entry cap evicts it.  Pre-fix, a
single pass over the registry accumulated every one-shot pin as live
MEMORY_AND_DISK entries; the sweep-level bound lives at the tail of
tests/test_parity.py (which IS a full 210-query sweep)."""

from __future__ import annotations

import pytest

from intellect_bi_spark.functions import windows
from intellect_bi_spark.registry import QUERIES

ONE_SHOT_CONVERTED = (
    "revenue_anomaly_days",
    "erasure_impact_plan",
    "token_drift_tvd",
    "bigram_lm_perplexity",
    "importance_weights_dsir",
    "trade_pagerank_nations",
    "trade_triangle_count",
    "bm25_ndcg_eval",
    "pack_sequences_manifest",
    "bpe_encode_stats",  # r11: the (lang, tok) count pin
    "corpus_prep_funnel",  # releases its OWN pins (base/flagged/tr);
    # its FIRST invocation in a session also registers the deliberately
    # session-lifetime LSH band pin (r15, dedup._lsh_scored_pairs —
    # shared across the five LSH consumers, released by reset_caches),
    # so the no-growth assertion below measures the SECOND invocation
)
# NOT converted: the PQ consumers (pq_codes_stats, ann_topk_pq,
# ann_index_store) — their training artifacts are a session-lifetime
# memoized model (clustering._pq_model, the dedup._shingle_rows
# policy), deliberately shared across queries; clustering.reset_caches
# owns the release.  They live in clustering._PQ_CACHE, not
# windows._PERSISTED, so the no-growth sweep bound still holds.  Same
# for the graph adjacency (graph._EDGE_CACHE): both graph queries
# derive from ONE memoized condensation; trade_triangle_count's derived
# undirected relation remains a one-shot released pin.


@pytest.mark.parametrize("name", ONE_SHOT_CONVERTED)
def test_one_shot_pin_released_after_action(name, spark, sf_dir):
    # corpus_prep_funnel's first invocation may register the documented
    # session-lifetime LSH band pin, so it alone is measured on a
    # repeat; every other query must leave no pin from its first call
    if name == "corpus_prep_funnel":
        QUERIES[name](spark, sf_dir).collect()
    before = len(windows._PERSISTED)
    rows = QUERIES[name](spark, sf_dir).collect()
    assert rows  # the eager action really ran and produced output
    assert len(windows._PERSISTED) == before, (
        f"{name} leaked a pin: {before} -> {len(windows._PERSISTED)}"
    )


def test_release_after_action_result_still_collectable(spark, sf_dir):
    """The checkpointed result must survive its pins' release: collect
    twice (the second read comes from checkpointed partitions)."""
    df = QUERIES["revenue_anomaly_days"](spark, sf_dir)
    first = df.collect()
    second = df.collect()
    assert first == second and len(first) == 1


def test_pq_model_memoized_and_resettable(spark, sf_dir):
    """The PQ training artifacts are ONE session-lifetime relation per
    corpus: repeated consumers reuse it (no per-invocation growth), and
    reset_caches releases it (the bench-rep honesty hook)."""
    from intellect_bi_spark.operators import clustering

    clustering.reset_caches()
    QUERIES["ann_topk_pq"](spark, sf_dir).collect()
    assert len(clustering._PQ_CACHE) == 1
    QUERIES["pq_codes_stats"](spark, sf_dir).collect()
    QUERIES["ann_topk_pq"](spark, sf_dir).collect()
    assert len(clustering._PQ_CACHE) == 1  # reused, not retrained
    clustering.reset_caches()
    assert not clustering._PQ_CACHE


def test_graph_adjacency_memoized_and_resettable(spark, sf_dir):
    """Both graph queries derive from ONE memoized condensation of the
    fact-scale edge relation; reset_caches releases it."""
    from intellect_bi_spark.operators import graph

    graph.reset_caches()
    QUERIES["trade_pagerank_nations"](spark, sf_dir).collect()
    assert len(graph._EDGE_CACHE) == 1
    QUERIES["trade_triangle_count"](spark, sf_dir).collect()
    assert len(graph._EDGE_CACHE) == 1  # reused, not re-condensed
    graph.reset_caches()
    assert not graph._EDGE_CACHE


def test_graph_queries_read_cached_adjacency_in_plan(spark, sf_dir):
    """Perf lock for the shared-adjacency design: once the memoized
    condensation is materialized, BOTH graph queries' plans read it as
    InMemoryTableScan (pagerank references it 4x: out-weights, two
    iterations, in-weights) instead of re-running the fact-scale
    lineitem join per reference."""
    from intellect_bi_spark.operators import graph

    graph.reset_caches()
    graph._edges_cached(spark, sf_dir).count()  # materialize the memo
    plan = (
        graph._pagerank_composed(spark, sf_dir)[0]
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 4, plan[:1500]
    out, pins = graph._triangles_composed(spark, sf_dir)
    tplan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in tplan
    for p in pins:
        p.unpersist()
    graph.reset_caches()
