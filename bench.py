#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>,
   "reps": N, "spread": {name: sec, ...}, "rep_totals": [sec, ...]}

Methodology (VERDICT r2 "Next round" #8): every query runs REPS times and
`queries` reports the per-query MEDIAN; `spread` carries max−min per query
so a one-off move on untouched code is attributable to noise vs regression.
The session-lifetime dedup relations are reset between reps so each rep
times the full build path (the reuse path is what `minhash_lsh_pairs`
times, deliberately, within each rep).

Warmup robustness (VERDICT r10 #1): r10's rep_totals were still
descending at rep 5, so its medians carried warmup drift.  Reps now
default to 7 and the first 2 reps are DISCARDED from the per-query
medians/spread (they still appear in `rep_totals`, so flatness is
auditable); `steady_state_total` reports the final rep's total as the
warmup-free number.

Cross-round attribution (ADVICE r10): the headline set grows each round,
so `value` (sum of all medians) is not comparable across rounds.
`fixed_set_total` sums the SAME 106-query set benched since r9 — compare
THAT across rounds; additions are tracked in _ADDED_AFTER_R9.

Two-tier reps (VERDICT r14 #1): BENCH_r14 timed out (rc=124) because the
headline set's tail of 20-70 s store-lifecycle CERTIFICATION chains
(crud chains, stream-upsert chains, vacuum/compact, erasure_e2e) was
still running 7 reps each — ~29 min for the top-10 alone before the
other 138 queries.  Those queries' cost is sequential job orchestration
(store builds, versioned mutations, stream micro-batches), not data
volume, so their rep-to-rep variance is small relative to their size
and 7-rep medians buy nothing.  The bench now runs two tiers:
  - LATENCY tier (everything not in CERT_TIER, including the whole
    fixed set): 7 reps, first 2 discarded — methodology unchanged, so
    `fixed_set_total` remains the same-denominator cross-round series.
  - CERT tier (CERT_TIER): 2 reps, median of both (the first rep runs
    against machinery the latency reps already warmed; per-query cert
    spread is reported so cold/warm residue stays auditable).
A wall-clock DEADLINE guard (SPARK_GRAFT_BENCH_DEADLINE, default 2400 s)
orders the work so a degraded box still produces a parsed record: 3
latency reps → all cert reps → remaining latency reps, trimming reps
(never queries) when the projected next rep would cross the deadline.
Completed-rep counts are reported, so a trimmed run is self-describing.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from intellect_bi_spark.registry import QUERIES  # noqa: E402
from intellect_bi_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # reference-surface analytics
    "q1_pricing_summary",
    "revenue_by_region",
    "orders_by_status",
    "kpi_overview",
    "top_products_under_30",
    "region_trends_monthly",
    "mom_growth_top_month",
    "yoy_quarter",
    "region_divergence",
    "pivot_region_quarter",  # pinned-values PIVOT cross-tab (r8)
    "corr_sales_satisfaction",
    "sales_daily",
    "last_two_quarters_satisfaction",
    "region_quarter_delta",
    "events_rolling_7d",
    "asof_join_clicks",
    "range_join_click_bursts",
    "gap_fill_daily_revenue",  # calendar-spine forward fill (r8)
    "q4_order_priority",
    "q18_large_orders",
    "q7_nation_volume",
    "q13_order_count_distribution",
    "q2_min_cost_supplier",  # spec-partsupp family (literal since r7)
    "q9_product_profit",
    "q16_part_supplier_counts",  # literal partsupp counts (r7)
    "q21_late_suppliers",  # literal commit-vs-receipt lateness (r7)
    "region_sales_gini",  # rank-window Gini (r6)
    "skewed_join_sales",  # salted hot-key join (r7)
    "sketch_rollup_daily_users",  # mergeable HLL rollup (r7)
    "sketch_rollup_store",  # parquet-persisted sketch store (r8)
    "heavy_hitter_users",  # frequent-items heavy hitters (r8)
    "theta_audience_overlap",  # theta set algebra (r7)
    "zorder_layout_stats",  # Z-order clustering key (r7)
    "bucketed_join_sales",  # shuffle-free bucketed co-located join (r8)
    "scd2_customer_versions",  # SCD2 dimension-versioning merge (r8)
    "click_purchase_attribution",  # interval-join attribution (r7)
    # training-data pipeline (charter extensions)
    "exact_dedup_stats",
    "near_dup_summary",
    "minhash_lsh_pairs",  # shares the persisted verified-pair relation
    # with near_dup_summary — times the cross-query reuse path
    "cosine_topk",
    "ann_topk_ivf",
    "ann_topk_batch_lsh",  # banded batch candidate generation (r5)
    "ann_topk_sq8",  # SQ8-quantized ADC search (r8)
    "ann_index_store",  # parquet-persisted IVF-PQ index serving (r9)
    "ann_index_store_batch",  # build-once/serve-many batch from the store (r9)
    "ann_index_upsert",  # incremental cell-partition merge, frozen model (r12)
    "ann_index_compact",  # post-upsert affected-cell compaction (r12)
    "ann_index_delete",  # erasure through the store, affected cells only (r13)
    "ann_stream_upsert_store",  # availableNow cell-append ingest chain (r13)
    "ann_crud_chain",  # interleaved build/upsert/delete/compact (r13)
    "bm25_index_store",  # parquet-persisted inverted-index serving (r10)
    "bm25_index_upsert",  # posting append + manifest stats merge (r12)
    "bm25_stream_upsert_store",  # availableNow micro-batch upsert chain (r12)
    "bm25_store_vacuum",  # keep-latest version retention (r13)
    "bm25_index_delete",  # erasure: bucket rewrite + stat decrement (r13)
    "phrase_search_topk",  # positional adjacency equi-join chain (r13)
    "phrase_index_store",  # persisted positional index, pruned serve (r13)
    "near_index_store",  # NEAR served from the same positional store (r13)
    "bm25_postings_compact",  # affected-bucket file coalescing (r13)
    "bm25_crud_chain",  # interleaved init/upsert/delete/compact/vacuum (r13)
    "near_search_topk",  # banded position-bucket proximity join (r13)
    "text_quality_scores",
    "html_text_extract_stats",  # web-ingest markup strip/decode (r9)
    "chunk_documents",
    "image_features_stub",
    "audio_window_rms",  # real WAV binary decode (r6)
    "audio_features_mulaw",  # G.711 μ-law companded decode (r9)
    "audio_features_adpcm",  # IMA ADPCM stateful decode (r9)
    "audio_features_ilt",  # integer lapped transform, IntMDCT class (r11)
    "image_features_ppm",  # real PPM binary decode (r6)
    "image_thumbnails_ppm",  # nearest-neighbor pixel resize (r8)
    "image_features_png",  # DEFLATE-compressed PNG decode (r7)
    "image_features_gif",  # LZW dictionary-coded GIF decode (r10)
    "image_features_jpeg",  # baseline-JPEG entropy-coded decode (r8)
    "video_frame_sample_y4m",  # real Y4M container decode (r6)
    "video_features_mjpeg",  # MJPEG/AVI entropy-coded video decode (r10)
    "video_features_bdv",  # inter-frame P-frame codec, keyframe seek (r11)
    "video_features_mb4",  # ISO-BMFF box tree, sample-table sparse access (r12)
    "video_features_fmp4",  # fragmented ISO-BMFF, per-moof sample map (r13)
    "video_features_sts",  # packetized transport demux + PES reassembly (r13)
    "video_frame_dedup_y4m",  # cross-video frame-fingerprint dedup (r10)
    "xml_roundtrip_checksum",  # interchange sink+scan certification (r7)
    "jsonl_roundtrip_checksum",
    "schema_evolution_checksum",  # mergeSchema evolved-feed scan (r8)
    "quality_repetition_stats",  # Gopher repetition rules (r6)
    "pack_sequences_manifest",  # sequence packing prefix sum (r6)
    "corpus_prep_funnel",  # composed prep recipe (r7)
    "temperature_resample_stats",  # p^alpha language rebalance (r6)
    "semantic_decontam_summary",  # embedding-space decontam (r6)
    "fk_integrity_check",  # data-quality audits (r6)
    "null_rate_profile",
    "decontam_ngram_overlap",
    "events_tumbling_daily",
    "event_path_trigrams",  # per-user path windows + top-k (r8)
    "events_sessionize",
    "events_sliding_daily",
    "events_tier_daily",  # stream-static enrichment join twin (r8)
    "forecast_drift_by_region",
    "forecast_seasonal7_by_region",  # per-key seasonal7 (r5)
    "kmeans_embedding_clusters",  # broadcast-model Lloyd k-means (r8)
    "ann_topk_pq",  # 16-bit product-quantization ADC search (r8)
    "bm25_topk_docs",  # lexical retrieval baseline (r8)
    "fuzzy_name_match_summary",  # blocked edit-distance matching (r8)
    "group_aware_split_stats",  # leakage-safe cluster-keyed split (r8)
    "mv_incremental_orders",  # partial-agg MV refresh merge (r8)
    "revenue_anomaly_days",  # median/MAD robust anomaly scan (r8)
    "trade_pagerank_nations",  # condense-then-iterate graph rank (r8)
    "domain_mix_selection",  # per-domain token-budget mixing (r8)
    "snapshot_diff_orders",  # CDC full-outer snapshot diff (r8)
    "sketch_sliding_7d_users",  # windowed re-merge of stored sketches (r8)
    "bloom_decontam_stats",  # Bloom membership decontam probe (r12)
    "sketch_rollup_upsert",  # day-partition cell append maintenance (r12)
    "sketch_rollup_delete",  # user erasure via affected-day recompute (r13)
    "sketch_stream_upsert_store",  # availableNow cell-append ingest (r13)
    "user_click_streaks",  # order-dependent streak CEP batch twin (r8)
    "token_drift_tvd",  # exact train/test distribution drift (r8)
    "compaction_plan",  # small-file bin-packing planner (r8)
    "multi_touch_attribution",  # exact largest-remainder credit split (r8)
    "cohort_retention_matrix",  # full retention triangle (r8)
    "cdc_state_asof",  # last-writer-wins log replay at a cutoff (r8)
    "erasure_impact_plan",  # compliance-delete FK-chain dry run (r8)
    "growth_accounting_daily",  # new/retained/resurrected/churned (r8)
    "bigram_lm_perplexity",  # held-out n-gram LM scoring (r8)
    "importance_weights_dsir",  # DSIR hashed-ngram selection (r8)
    "bpe_merge_candidates",  # distributed BPE merge learning (r8)
    "bpe_encode_stats",  # BPE APPLY: learned-tokenizer serving path (r11)
    "dup_span_pairs",  # positioned k-gram substring dedup (r8)
    "semantic_dedup_stats",  # SemDeDup cluster-bounded cosine (r8)
    "weighted_reservoir_sample",  # A-ES fixed-size weighted sample (r8)
    "hybrid_search_rrf",  # reciprocal-rank BM25+vector fusion (r8)
    "trade_triangle_count",  # oriented wedge-join triangles (r8)
    "cms_user_event_counts",  # count-min frequency sketch (r8)
    "event_markov_transitions",  # first-order path transition matrix (r8)
    "k_anonymity_audit",  # k-anon / l-diversity release audit (r8)
    "json_props_stats",  # native JSON path extraction (r8)
    "purchase_attribution_outer",  # LEFT OUTER interval join twin (r8)
    "bm25_ndcg_eval",  # NDCG@10 ranking evaluation (r8)
    "phrase_index_upsert",  # positional-store CRUD: upsert leg (r14)
    "phrase_index_delete",  # positional-store CRUD: delete leg (r14)
    "phrase_search_batch",  # batched phrase serving, one scan (r14)
    "erasure_e2e",  # composed 3-store erasure certification (r14)
    "ann_filtered_topk",  # metadata-filtered IVF ANN (r14)
    "near_search_batch",  # batched NEAR: one pinned scan, grouped pairs (r15)
    "bm25_topk_batch",  # batched BM25: one pinned scan, per-qid top-k (r15)
    "bm25_filtered_topk",  # metadata-filtered lexical retrieval (r15)
    "sketch_rollup_compact",  # sketch-store partial-day cell merge (r15)
    "sketch_store_vacuum",  # sketch-store retention + segment GC (r15)
    "sketch_crud_chain",  # interleaved sketch-store lifecycle (r15)
    "phrase_stream_upsert_store",  # availableNow positional ingest chain (r15)
    "phrase_crud_chain",  # interleaved positional-store lifecycle (r15)
]

# Queries benched for the first time AFTER the r9 record (plus the
# bench-only serve metrics): excluded from `fixed_set_total` so that
# number stays a same-denominator series from r9 onward (ADVICE r10).
_ADDED_AFTER_R9 = {
    "bm25_index_store",
    "image_features_gif",
    "video_features_mjpeg",
    "video_frame_dedup_y4m",
    "purchase_attribution_outer",
    "bm25_ndcg_eval",
    "ann_index_serve_only",
    "bm25_index_serve_only",
    "video_features_bdv",
    "audio_features_ilt",
    "bpe_encode_stats",
    "sketch_rollup_serve_only",
    "ann_index_upsert",
    "bm25_index_upsert",
    "video_features_mb4",
    "bloom_decontam_stats",
    "sketch_rollup_upsert",
    "bm25_stream_upsert_store",
    "ann_index_compact",
    "ann_index_delete",
    "ann_stream_upsert_store",
    "bm25_store_vacuum",
    "bm25_index_delete",
    "video_features_fmp4",
    "sketch_rollup_delete",
    "sketch_stream_upsert_store",
    "phrase_search_topk",
    "phrase_index_store",
    "bm25_postings_compact",
    "near_search_topk",
    "near_index_store",
    "video_features_sts",
    "bm25_crud_chain",
    "ann_crud_chain",
    "ann_upsert_only",
    "bm25_upsert_only",
    "sketch_upsert_only",
    "phrase_index_upsert",
    "phrase_index_delete",
    "phrase_search_batch",
    "erasure_e2e",
    "ann_filtered_topk",
    "near_search_batch",
    "bm25_topk_batch",
    "bm25_filtered_topk",
    "sketch_rollup_compact",
    "sketch_store_vacuum",
    "sketch_crud_chain",
    "phrase_stream_upsert_store",
    "phrase_crud_chain",
}

# Store-lifecycle certification queries (VERDICT r14 #1): each drives a
# multi-leg store chain (build + versioned mutations + serves, or a real
# availableNow stream) whose cost is job ORCHESTRATION at fixture scale,
# not data volume.  They run in the 2-rep CERT tier; everything else
# (including the entire fixed set — enforced below) keeps the 7-rep
# latency methodology.  Every name here must be in _ADDED_AFTER_R9 so
# `fixed_set_total` stays a same-methodology series.
CERT_TIER = {
    "bm25_crud_chain",
    "bm25_stream_upsert_store",
    "bm25_store_vacuum",
    "bm25_postings_compact",
    "bm25_index_upsert",
    "bm25_index_delete",
    "phrase_index_store",
    "phrase_index_upsert",
    "phrase_index_delete",
    "phrase_search_batch",
    "near_index_store",
    "ann_index_upsert",
    "ann_index_compact",
    "ann_index_delete",
    "ann_stream_upsert_store",
    "ann_crud_chain",
    "sketch_rollup_upsert",
    "sketch_rollup_delete",
    "sketch_stream_upsert_store",
    "sketch_rollup_compact",
    "sketch_store_vacuum",
    "sketch_crud_chain",
    "phrase_stream_upsert_store",
    "phrase_crud_chain",
    "erasure_e2e",
    "near_search_batch",
    "bm25_topk_batch",
    "bm25_filtered_topk",
}
if CERT_TIER - _ADDED_AFTER_R9:
    raise ValueError(
        "CERT_TIER must not intersect the fixed set: "
        f"{sorted(CERT_TIER - _ADDED_AFTER_R9)}"
    )

# Queries whose individual bench rows depend on within-rep ordering
# (VERDICT r11 #4): each group shares a session-lifetime memoized
# artifact (reset between reps), so whichever group member runs later
# in a rep inherits the artifact's build for free.  Rep TOTALS are
# honest (one build per artifact per rep); per-query cross-round deltas
# on these rows should not be over-read.  (near_dup_summary /
# minhash_lsh_pairs share the verified-pair relation too, but that
# reuse is deliberate and documented at the HEADLINE entry above.)
SHARED_ARTIFACTS = {
    "graph-adjacency": ["trade_pagerank_nations", "trade_triangle_count"],
    "pq-model": ["ann_topk_pq", "ann_index_store", "ann_index_store_batch"],
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    spark = get_spark("intellect_bi_spark_bench")

    # Warm-up, so per-query timings measure the engine and not one-time
    # environment state. Three explicit steps:
    #   1. JVM/session warm-up (JIT, codegen, parquet reader init) with a
    #      real query at the smallest scale.
    #   2. OS page-cache touch of the target files — first-touch disk
    #      reads otherwise land on whichever query happens to run first.
    #   3. Materialize the cached `sales` view: the reference engine keeps
    #      its fact table hot in-process (api/main.py:190 lazy global
    #      DuckDB connection), so steady-state latency is the comparable
    #      number; the build cost is one-time ETL, not query latency.
    QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001").collect()
    for fname in sorted(os.listdir(sf_dir)):
        if fname.endswith(".parquet"):
            with open(os.path.join(sf_dir, fname), "rb") as fh:
                while fh.read(1 << 24):
                    pass
    from intellect_bi_spark.catalog import sales  # noqa: E402

    sales(spark, sf_dir)  # a cache-sized view is materialized at build

    from intellect_bi_spark.functions import windows  # noqa: E402
    from intellect_bi_spark.operators import (  # noqa: E402
        clustering,
        dedup,
        graph,
        retrieval,
        sketches,
        vectorstore,
    )

    # Serve-only index latency (VERDICT r9/r10 asks): the registry's
    # ann_index_store / bm25_index_store time build+write+read+serve as
    # one number, which obscures the metric a serving deployment cares
    # about.  Build each store ONCE here (untimed, like the view
    # warm-up), then each rep times ONLY the serving path.
    import shutil
    import tempfile

    ann_store = tempfile.mkdtemp(prefix="sgraft_bench_annstore_")
    bm25_store = tempfile.mkdtemp(prefix="sgraft_bench_bm25store_")
    sketch_store = tempfile.mkdtemp(prefix="sgraft_bench_sketchstore_")

    # Upsert-only latency (VERDICT r12 #7): the registry's upsert rows
    # time build+upsert+both-serves+teardown as one number, which hides
    # what an incremental ingest cycle costs.  Stage each upsertable
    # base store ONCE (untimed); each rep clones the pristine store
    # (untimed — the clone isolates reps from each other's appends) and
    # times ONLY the certified upsert call, batch compute included
    # (encoding/tokenizing the batch IS the ingest cost).
    from pyspark.sql import functions as _F  # noqa: N811

    ann_up_base = tempfile.mkdtemp(prefix="sgraft_bench_annup_")
    bm25_up_base = tempfile.mkdtemp(prefix="sgraft_bench_bm25up_")
    sketch_up_base = tempfile.mkdtemp(prefix="sgraft_bench_sketchup_")
    from intellect_bi_spark.catalog import load_tables  # noqa: E402

    _ev = load_tables(spark, sf_dir)["events"].filter(
        _F.col("user_id").isNotNull() & _F.col("ts").isNotNull()
    )
    _is_batch_day = (
        _F.dayofmonth(_F.expr("CAST(ts AS DATE)")) % 7 == 3
    )

    # The six staging builds are UNTIMED setup (the serve-only /
    # upsert-only metrics time serving and mutation, never these
    # builds), but their wall time counts against the driver's budget
    # — so they run concurrently (optimization r15, guide §2.6), which
    # matters on the degraded box class that killed BENCH_r14.
    from concurrent.futures import ThreadPoolExecutor as _TPE

    with _TPE(max_workers=3) as _pool:
        _stage = [
            _pool.submit(vectorstore.build_index, spark, sf_dir, ann_store),
            _pool.submit(
                retrieval.build_bm25_index, spark, sf_dir, bm25_store
            ),
            _pool.submit(
                sketches.build_sketch_rollup_store,
                spark, sf_dir, sketch_store,
            ),
            _pool.submit(
                vectorstore.build_index_frozen, spark, sf_dir, ann_up_base
            ),
            _pool.submit(
                retrieval.build_bm25_index_v2, spark, sf_dir, bm25_up_base
            ),
            _pool.submit(
                sketches._init_sketch_store,
                _ev.filter(~_is_batch_day), sketch_up_base,
            ),
        ]
        for _f in _stage:
            _f.result()

    def _timed_upsert(base: str, run) -> float:
        dst = tempfile.mkdtemp(prefix="sgraft_bench_upclone_")
        try:
            shutil.rmtree(dst)
            shutil.copytree(base, dst)
            t0 = time.perf_counter()
            run(dst)
            return round(time.perf_counter() - t0, 4)
        finally:
            shutil.rmtree(dst, ignore_errors=True)

    def _ann_upsert_only() -> float:
        batch = vectorstore._emb(spark, sf_dir).filter(
            vectorstore._upsert_batch_pred()
        )
        return _timed_upsert(
            ann_up_base,
            lambda dst: vectorstore.upsert_index(spark, sf_dir, dst, batch),
        )

    def _bm25_upsert_only() -> float:
        batch = retrieval._base_docs(spark, sf_dir).filter(
            retrieval._doc_batch_pred()
        )
        return _timed_upsert(
            bm25_up_base,
            lambda dst: retrieval.upsert_bm25_index(spark, dst, batch),
        )

    def _sketch_upsert_only() -> float:
        batch = _ev.filter(_is_batch_day)
        return _timed_upsert(
            sketch_up_base,
            lambda dst: sketches.upsert_sketch_rollup_store(batch, dst),
        )

    def _ann_serve_only() -> None:
        centroids, codebook, codes = vectorstore.read_index_versioned(
            spark, ann_store
        )
        vectorstore.topk_from_index(
            centroids, codebook, codes, vectorstore._emb(spark, sf_dir)
        ).collect()

    def _bm25_serve_only() -> None:
        # the EXACT composition the bit-exact parity unit verifies
        # (tests/test_vectorstore.py::test_bm25_stored_equals_direct_ranking)
        retrieval.serve_bm25_v2(spark, bm25_store).collect()

    def _sketch_serve_only() -> None:
        # the production rollup query: merge stored day-partitioned HLL
        # blobs — no fact scan (VERDICT r11 #6; sketch_rollup_store
        # self-checks this exact composition against the exact recompute)
        sketches.serve_sketch_rollup_from_store(spark, sketch_store).collect()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "7"))
    cert_reps = int(os.environ.get("SPARK_GRAFT_BENCH_CERT_REPS", "2"))
    deadline = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "2400"))
    t_start = time.perf_counter()

    latency_names = [n for n in HEADLINE if n not in CERT_TIER]
    cert_names = [n for n in HEADLINE if n in CERT_TIER]

    def _reset() -> None:
        dedup.reset_caches()
        windows.reset_caches()
        clustering.reset_caches()
        graph.reset_caches()

    def _run_latency_rep() -> dict[str, float]:
        _reset()
        timings: dict[str, float] = {}
        for name in latency_names:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            timings[name] = round(time.perf_counter() - t0, 4)
        for label, run in (
            ("ann_index_serve_only", _ann_serve_only),
            ("bm25_index_serve_only", _bm25_serve_only),
            ("sketch_rollup_serve_only", _sketch_serve_only),
        ):
            t0 = time.perf_counter()
            run()
            timings[label] = round(time.perf_counter() - t0, 4)
        return timings

    def _run_cert_rep() -> dict[str, float]:
        _reset()
        timings: dict[str, float] = {}
        for name in cert_names:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            timings[name] = round(time.perf_counter() - t0, 4)
        timings["ann_upsert_only"] = _ann_upsert_only()
        timings["bm25_upsert_only"] = _bm25_upsert_only()
        timings["sketch_upsert_only"] = _sketch_upsert_only()
        # Between-rep hygiene (r13): drop terminated streaming-query
        # metadata (the availableNow store rows accumulate it otherwise).
        # A forced System.gc() here was measured to buy nothing — a
        # 6-rep probe showed pinned-RDD count flat at ~3 with
        # ContextCleaner keeping pace unaided.
        spark.streams.resetTerminated()
        return timings

    # Deadline-aware schedule (VERDICT r14 #1): 3 latency reps first
    # (the minimum for a warm-discarded median), then ALL cert reps
    # (their numbers must exist even on a degraded box — r14's missing
    # bench-of-record is the failure mode), then the remaining latency
    # reps.  Before each rep beyond a tier's first, skip the remainder
    # of the tier if the projected rep (that tier's last duration)
    # would cross the deadline.  Reps are trimmed, never queries.
    lat_reps: list[dict[str, float]] = []
    crt_reps: list[dict[str, float]] = []
    trimmed = False

    def _fits(last_dur: float) -> bool:
        return time.perf_counter() - t_start + last_dur <= deadline

    try:
        for phase, tier_reps, runner, want in (
            ("lat-head", lat_reps, _run_latency_rep, 3),
            ("cert", crt_reps, _run_cert_rep, cert_reps),
            ("lat-tail", lat_reps, _run_latency_rep, reps - 3),
        ):
            for _ in range(max(0, want)):
                last = sum(tier_reps[-1].values()) if tier_reps else 0.0
                if tier_reps and not _fits(last):
                    trimmed = True
                    break
                tier_reps.append(runner())
    finally:
        shutil.rmtree(ann_store, ignore_errors=True)
        shutil.rmtree(bm25_store, ignore_errors=True)
        shutil.rmtree(sketch_store, ignore_errors=True)
        shutil.rmtree(ann_up_base, ignore_errors=True)
        shutil.rmtree(bm25_up_base, ignore_errors=True)
        shutil.rmtree(sketch_up_base, ignore_errors=True)

    # Opt-in sf1 heavy-chain tier (optimization r16, VERDICT r15 "what's
    # wrong" #1: most sf0.1 rows sit at the per-query scheduling floor,
    # so the per-round bench cannot see a change that serializes a hot
    # path — the scale signal needs a bigger input).  When
    # SPARK_GRAFT_BENCH_SF1_CHAINS=1 and the sf1 fixture dir exists
    # (tools/make_sf1.py), the heaviest store chains run once each at
    # sf1 after the main tiers, inside the same deadline guard
    # (chains are trimmed, never the main tiers).  Additions-only: new
    # payload keys, every existing key/methodology unchanged.
    SF1_CHAINS = [
        "ann_stream_upsert_store",
        "sketch_stream_upsert_store",
        "bm25_stream_upsert_store",
        "bm25_crud_chain",
        "ann_crud_chain",
        "erasure_e2e",
    ]
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sgraft_data/sf1.0")
    sf1_timings: dict[str, float] = {}
    sf1_trimmed = False
    if (
        os.environ.get("SPARK_GRAFT_BENCH_SF1_CHAINS") == "1"
        and os.path.isdir(sf1_dir)
    ):
        _reset()
        last_chain = 30.0  # conservative first-chain projection
        for name in SF1_CHAINS:
            if not _fits(last_chain):
                sf1_trimmed = True
                break
            t0 = time.perf_counter()
            QUERIES[name](spark, sf1_dir).collect()
            sf1_timings[name] = round(time.perf_counter() - t0, 4)
            last_chain = sf1_timings[name]
        spark.streams.resetTerminated()
        _reset()

    # first latency reps carry JIT/codegen/cache warmup (r10's rep_totals
    # were still descending at rep 5) — medians/spread use steady reps
    # only.  Cert reps run after the latency head warmed the machinery;
    # their median spans all completed cert reps (2 by default).
    warm_discard = min(2, len(lat_reps) - 1)
    steady = lat_reps[warm_discard:]
    medians = {
        name: round(statistics.median(r[name] for r in steady), 4)
        for name in steady[0]
    }
    spread = {
        name: round(
            max(r[name] for r in steady) - min(r[name] for r in steady), 4
        )
        for name in steady[0]
    }
    for name in (crt_reps[0] if crt_reps else {}):
        medians[name] = round(
            statistics.median(r[name] for r in crt_reps), 4
        )
        spread[name] = round(
            max(r[name] for r in crt_reps)
            - min(r[name] for r in crt_reps),
            4,
        )
    if not crt_reps:  # cert tier disabled via env — keep totals well-formed
        crt_reps = [{}]
    fixed_set = [n for n in medians if n not in _ADDED_AFTER_R9]
    payload = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": round(sum(medians.values()), 4),
            "unit": "sec",
            "queries": medians,
            "sf": sf,
            "reps": reps,
            "latency_reps_completed": len(lat_reps),
            "cert_reps": cert_reps,
            "cert_reps_completed": len(crt_reps),
            "cert_tier": sorted(crt_reps[0]),
            "deadline_sec": deadline,
            "deadline_trimmed": trimmed,
            "warmup_reps_discarded": warm_discard,
            "spread": spread,
            "rep_totals": [round(sum(r.values()), 4) for r in lat_reps],
            "cert_rep_totals": [
                round(sum(r.values()), 4) for r in crt_reps
            ],
            "steady_state_total": round(
                sum(lat_reps[-1].values()) + sum(crt_reps[-1].values()), 4
            ),
            "fixed_set_total": round(
                sum(medians[n] for n in fixed_set), 4
            ),
            "fixed_set_n": len(fixed_set),
            "shared_artifacts": SHARED_ARTIFACTS,
            "sf1_chain_queries": sf1_timings,
            "sf1_chain_dir": sf1_dir if sf1_timings else None,
            "sf1_chain_trimmed": sf1_trimmed,
        }
    )
    print(payload)
    # Also persist next to the repo: the driver's stdout capture truncated
    # BENCH_r05's line (VERDICT r5 item 6) — a file survives regardless.
    out_file = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_LOCAL.json"),
    )
    with open(out_file, "w") as fh:
        fh.write(payload + "\n")
    # The driver records only the LAST 2000 chars of stdout, and the full
    # payload above (100+ queries) exceeds that — every BENCH_r{6,7,8}
    # artifact has "parsed": null because the line's opening brace was
    # truncated away (VERDICT r8 item 6).  So the FINAL line is a compact
    # summary guaranteed to fit: same metric/value/unit/sf schema, with
    # the per-query map filled slowest-first until the serialized line
    # would exceed the budget.  The slowest queries are the ones a
    # performance grader needs; the full map is one line up and in the
    # BENCH_LOCAL.json file either way.
    tail_budget = 1900  # driver tail capture is 2000 chars; leave slack
    compact = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(medians.values()), 4),
        "unit": "sec",
        "queries": {},
        "sf": sf,
        "reps": reps,
        "cert_reps": cert_reps,
        "n_queries": len(medians),
        "fixed_set_total": round(sum(medians[n] for n in fixed_set), 4),
        "fixed_set_n": len(fixed_set),
        "steady_state_total": round(
            sum(lat_reps[-1].values()) + sum(crt_reps[-1].values()), 4
        ),
        "deadline_trimmed": trimmed,
        "queries_truncated": False,
        "full_in": "BENCH_LOCAL.json",
    }
    for name in sorted(medians, key=medians.get, reverse=True):
        compact["queries"][name] = medians[name]
        if len(json.dumps(compact, separators=(",", ":"))) > tail_budget:
            del compact["queries"][name]
            compact["queries_truncated"] = True
            break
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
