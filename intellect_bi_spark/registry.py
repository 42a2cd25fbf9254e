"""Query registry: merges every operator module's QUERIES / ORACLES.

This is the engine's public contract (`__spark_entry__.py` re-exports it):
one named declarative query per implemented SURVEY.md §2 operator, each with
a DuckDB oracle unless genuinely non-SQL-expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    clustering,
    dedup,
    eventops,
    forecast,
    graph,
    inventory,
    langmodel,
    layout,
    maintenance,
    multimodal,
    nl_queries,
    pipeline,
    quality,
    relational,
    retrieval,
    roundtrip,
    sales_queries,
    scd,
    similarity,
    sketches,
    skewops,
    spans,
    streamops,
    temporal,
    textops,
    vectorstore,
)

# Ordered so a budgeted correctness sweep verifies the reference sales
# surface first: cheap reference-parity modules lead, and the heavy
# extensions (dedup candidates, multimodal UDF scans) come last, their
# outputs aggregate checksums rather than full dumps.
_MODULES = (
    sales_queries,
    nl_queries,
    relational,
    inventory,
    temporal,
    eventops,
    graph,
    quality,
    maintenance,
    scd,
    roundtrip,
    skewops,
    layout,
    sketches,
    textops,
    langmodel,
    pipeline,
    streamops,
    similarity,
    retrieval,
    clustering,
    vectorstore,
    forecast,
    dedup,
    spans,
    multimodal,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

for _mod in _MODULES:
    for _name, _fn in _mod.QUERIES.items():
        assert _name not in QUERIES, f"duplicate query name: {_name}"
        QUERIES[_name] = _fn
    ORACLES.update(getattr(_mod, "ORACLES", {}))

# The driver's correctness sweep checks the first 50 registry entries.
# _FRONT names those 50, in order; every other query follows in module
# order. The front holds, first, the queries whose newest driver row is
# oldest (registry order), then those whose generated plan changed since
# their last row, then queries that have no row yet.
_FRONT = (
    # oldest driver rows, registry order
    "qoq_delta",
    "events_rolling_7d",
    "q8_market_share",
    "p6_inlist_filter",
    "o2_nulls_last",
    "o3_top1_subquery",
    "a12_kpi_scalars",
    "w3_rolling_ma7",
    "j2_bounds_broadcast",
    "salted_distinct_customers",
    "p1_project_cast",
    "p4_age_range",
    "p5_date_range",
    "p7_null_counts",
    "p8_semi_join",
    "p8_anti_join",
    "a4_minmax_dates",
    "a9_distinct_regions",
    "a10_having",
    "w1_topk_per_group",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_delta",
    "fk_integrity_check",
    "null_rate_profile",
    "compaction_plan",
    "chunk_documents",
    "chunk_docs_ingest_800_120",
    "redact_pii",
    "weighted_quality_sample",
    "cosine_topk",
    "bm25_index_store",
    # plan changed since the last row
    "ann_index_upsert",
    "ann_index_delete",
    "ann_index_compact",
    "ann_crud_chain",
    "ann_stream_upsert_store",
    "erasure_e2e",
    "sketch_rollup_store",
    "sketch_rollup_upsert",
    "sketch_rollup_delete",
    "sketch_stream_upsert_store",
    # no row yet
    "near_search_batch",
    "bm25_topk_batch",
    "bm25_filtered_topk",
    "sketch_rollup_compact",
    "sketch_store_vacuum",
    "sketch_crud_chain",
    "phrase_stream_upsert_store",
    "phrase_crud_chain",
)


# Integrity checks raise explicitly (not ``assert``) so they survive
# ``python -O`` — the _FRONT list is hand-maintained and a silent skip
# would let a typo quietly drop a query from the driver sweep.
if len(_FRONT) != len(set(_FRONT)):
    raise ValueError("duplicate name in _FRONT")
_missing = [n for n in _FRONT if n not in QUERIES]
if _missing:
    raise ValueError(f"_FRONT names not in registry: {_missing}")
_front_set = set(_FRONT)
QUERIES = {
    **{n: QUERIES[n] for n in _FRONT},
    **{n: f for n, f in QUERIES.items() if n not in _front_set},
}
