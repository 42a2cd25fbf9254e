"""Physical-plan regression tests: the optimizations we design for must be
visible in `.explain` — broadcast joins on dims, filter/column pushdown to
the parquet scan, TakeOrderedAndProject for top-k. A refactor that silently
turns a broadcast join into a sort-merge shuffle fails here, not at 100 TB.
"""

from __future__ import annotations

import contextlib
import io

from intellect_bi_spark.operators.relational import (
    q1_pricing_summary,
    q10_returned_revenue,
    revenue_by_region,
)
from intellect_bi_spark.operators.sales_queries import top_products_under_30
from intellect_bi_spark.operators.temporal import (
    asof_join_clicks,
    range_join_click_bursts,
)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(revenue_by_region(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact table must not shuffle


def test_fact_scan_prunes_and_pushes_down(spark, sf_dir):
    plan = plan_of(q1_pricing_summary(spark, sf_dir))
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("l_shipdate" in line for line in pushed), pushed
    # column pruning: the 7-column projection reaches ReadSchema — the
    # unused l_linenumber column must not be read
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "l_linenumber" not in read_schema
    assert "l_quantity" in read_schema


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(top_products_under_30(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_big_join_key_filters_pushed(spark, sf_dir):
    plan = plan_of(q10_returned_revenue(spark, sf_dir))
    # the returnflag filter reaches the lineitem scan
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any("l_returnflag" in line for line in pushed)


def test_asof_join_windows_on_composite_skew_key(spark, sf_dir):
    """The as-of join's full-size window must partition on the COMPOSITE
    (user_id, bkt) key — the coarse time bucket bounds a hot user's
    per-task work — and the per-user boundary-stitch window may only run
    over the per-bucket SUMMARY relation (post-aggregation), never the raw
    event rows. The stitch join must stay hash-based (broadcast at this
    size), not nested-loop."""
    import re

    plan = plan_of(asof_join_clicks(spark, sf_dir))
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    composite = [s for s in win_specs if "user_id" in s and "bkt" in s]
    assert composite, win_specs  # local pass keyed by (user_id, bkt)
    # the carry window's input is the aggregated per-bucket summary, so
    # the plan must carry the bucket_last_click aggregate
    assert "bucket_last_click" in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_range_join_never_nested_loop(spark, sf_dir):
    """Bucketed candidate generation must keep the banded range join a
    hash/sort-merge equi-join; BroadcastNestedLoopJoin here means the
    band predicate leaked into the join condition unbucketed."""
    plan = plan_of(range_join_click_bursts(spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan, plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located big-big join via bucketing: writing both sides bucketed
    by the join key lets the sort-merge join run with NO Exchange on
    either side — the layout decision that makes the lineitem⋈orders join
    shuffle-free at 100 TB."""
    from intellect_bi_spark.catalog import load_tables

    t = load_tables(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    (
        t["lineitem"]
        .select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "li_b"))
        .mode("overwrite")
        .saveAsTable("li_b")
    )
    (
        t["orders"]
        .select("o_orderkey", "o_orderstatus")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "o_b"))
        .mode("overwrite")
        .saveAsTable("o_b")
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_b").join(
            spark.table("o_b"),
            spark.table("li_b")["l_orderkey"]
            == spark.table("o_b")["o_orderkey"],
        )
        plan = plan_of(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == t["lineitem"].count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_q7_dims_broadcast_fact_joins_once(spark, sf_dir):
    """Q7's reduced supplier/customer dimensions must broadcast; the only
    shuffled join is lineitem⋈orders. The nation IN-filter must reach both
    dimension scans (pre-reduction before the fact join)."""
    from intellect_bi_spark.operators.relational import q7_nation_volume

    plan = plan_of(q7_nation_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoop" not in plan
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("n_name" in line for line in pushed), pushed


def test_q22_anti_join_is_hash_based(spark, sf_dir):
    """Q22's NOT EXISTS must plan as a hash/broadcast LeftAnti join (never
    nested-loop over customers), and the date filter must reach the orders
    scan."""
    from intellect_bi_spark.operators.relational import q22_dormant_customers

    import re

    plan = plan_of(q22_dormant_customers(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    # the 1-row scalar cross join is the only permitted nested-loop node
    # (formatted explain prints each node once in the tree, once in detail)
    bnlj_nodes = set(re.findall(r"BroadcastNestedLoopJoin[^(\n]*\((\d+)\)", plan))
    assert len(bnlj_nodes) <= 1, plan
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("o_orderdate" in line for line in pushed), pushed


def test_token_histogram_uses_take_ordered(spark, sf_dir):
    from intellect_bi_spark.operators.pipeline import corpus_token_histogram

    plan = plan_of(corpus_token_histogram(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_decontam_join_is_hash_equi(spark, sf_dir):
    """The decontamination probe must be an equi-join on the hashed
    shingle (hash or sort-merge — never nested-loop), keeping candidate
    generation linear."""
    from intellect_bi_spark.operators.pipeline import decontam_ngram_overlap

    plan = plan_of(decontam_ngram_overlap(spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_batch_ann_lsh_is_band_equi_join(spark, sf_dir):
    """ann_topk_batch_lsh must candidate-generate via a band equi-join:
    no corpus×Q cross product anywhere in the plan (the brute-force
    ann_topk_batch rerank is the only operator allowed that shape), and
    the per-query ranking window must be partitioned by query id."""
    from intellect_bi_spark.operators.similarity import ann_topk_batch_lsh

    plan = plan_of(ann_topk_batch_lsh(spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q15_max_subquery_broadcasts(spark, sf_dir):
    """Q15's MAX-over-aggregate back-join and supplier dim must both
    broadcast — no sort-merge join anywhere, fact scanned once."""
    from intellect_bi_spark.operators.relational import q15_top_supplier

    plan = plan_of(q15_top_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("l_shipdate" in line for line in pushed), pushed


def test_q19_bracket_filter_reaches_scans(spark, sf_dir):
    """Q19's disjunctive brackets: the part side must broadcast, and the
    brand/size disjunction must prune the part scan (each bracket
    constrains p_brand/p_size, so an Or filter is pushable there)."""
    from intellect_bi_spark.operators.relational import q19_bracketed_revenue

    plan = plan_of(q19_bracketed_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("p_brand" in line for line in pushed), pushed


def test_q2_window_partitioned_no_smj(spark, sf_dir):
    """Q2's correlated MIN rides a ps_partkey-partitioned window (never
    unpartitioned) and all dim joins broadcast — no sort-merge join."""
    from intellect_bi_spark.operators.relational import q2_min_cost_supplier

    plan = plan_of(q2_min_cost_supplier(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("ps_partkey" in s for s in specs), specs


def test_q9_part_filter_semi_reduces_both_sides(spark, sf_dir):
    """Q9's part-name filter must reach BOTH fact-sized inputs as a
    broadcast left-semi join before the pair join."""
    from intellect_bi_spark.operators.relational import q9_product_profit

    plan = plan_of(q9_product_profit(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2, plan.count("LeftSemi")
    assert "BroadcastHashJoin" in plan


def test_gini_has_no_unpartitioned_window_or_row_rank(spark, sf_dir):
    """The Gini plan must carry no per-row ranking: its only window runs
    over the distinct-value relation, partitioned by region."""
    from intellect_bi_spark.operators.sales_queries import region_sales_gini

    plan = plan_of(region_sales_gini(spark, sf_dir))
    assert "row_number" not in plan.lower()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("region" in s for s in specs), specs


def test_pack_sequences_prefix_sum_is_bucket_partitioned(spark, sf_dir):
    """Sequence packing's running offset must never use a global window —
    every windowspec is partitioned by the hash-prefix bucket."""
    from intellect_bi_spark.operators.pipeline import (
        _pack_sequences_composed,
    )

    # the composed seam: the public query eagerly checkpoints and
    # releases its pin (VERDICT r10 #5), so the lazy plan lives here
    out, pins = _pack_sequences_composed(spark, sf_dir)
    plan = plan_of(out)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("bkt" in s for s in specs), specs
    for p in pins:
        p.unpersist()


def test_salted_join_plan_and_salt_spread(spark, sf_dir):
    """skewops.salted_join must (a) replicate the dim via explode —
    visible as a Generate node feeding the join, (b) join on BOTH the key
    and the salt, (c) never degrade into a broadcast (the scenario is
    'dim too big to broadcast'), and (d) actually spread the hot key:
    the big side must carry all N_SALTS distinct salts for the -1 guest
    key, so the key's rows occupy N_SALTS shuffle partitions instead of
    one."""
    from pyspark.sql import functions as F

    from intellect_bi_spark.operators import skewops

    ev = skewops.skewed_events(spark, sf_dir)
    dim = skewops.profile_dim(ev)
    j = skewops.salted_join(ev, dim, "profile_key", "event_id")
    plan = plan_of(j)
    assert "Generate" in plan and "explode" in plan, plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan
    # join condition carries the salt column next to the key
    assert "_salt" in plan
    big_salts = (
        ev.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("event_id")), F.lit(skewops.N_SALTS)),
        )
        .filter(F.col("profile_key") == -1)
        .select("_salt")
        .distinct()
        .count()
    )
    assert big_salts == skewops.N_SALTS


def test_aqe_splits_skewed_smj(spark, sf_dir, tmp_path):
    """The AQE remedy, exercised end to end: a genuinely skewed
    sort-merge join (70% of rows on one key) under production-shaped
    thresholds must come out of execution with the join marked
    ``skew=true`` (OptimizeSkewedJoin split the monster partition at
    runtime).

    The upstream ``repartition`` matters: AQE splits a skewed REDUCE
    partition along its MAP-side block boundaries, and the single-row-
    group fixture parquet yields ONE populated map block (every other
    scan task reads an empty byte range) — one block is unsplittable, so
    without the rebalance the rule correctly reports nothing to split.
    On a production cluster the fact table arrives from thousands of map
    tasks and the split applies directly; the repartition recreates that
    shape locally. This is exactly the granularity a 100 TB layout must
    respect: skew-join splitting needs many map blocks, i.e. many input
    splits/row groups."""
    from pyspark.sql import functions as F

    from intellect_bi_spark.operators import skewops

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    old = _with_confs(spark, confs)
    try:
        ev = skewops.skewed_events(spark, sf_dir).repartition(16)
        dim_path = str(tmp_path / "profile_dim")
        skewops.profile_dim(ev).write.mode("overwrite").parquet(dim_path)
        dim = spark.read.parquet(dim_path)
        j = ev.hint("merge").join(dim, "profile_key", "inner")
        n = len(j.collect())
        # every event with a non-null key joins exactly once
        expected = skewops.skewed_events(spark, sf_dir).filter(
            F.col("profile_key").isNotNull()
        ).count()
        assert n == expected
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        # _restore_confs unsets confs that had no prior value — a plain
        # "set back if old is not None" would leak the test's '-1'
        # broadcast thresholds into the shared session-scoped fixture
        _restore_confs(spark, old)


def _with_confs(spark, confs):
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    return old


def _restore_confs(spark, old):
    for k, v in old.items():
        try:
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        except Exception:
            pass


def test_dynamic_partition_pruning_on_partitioned_sink(spark, sf_dir, tmp_path):
    """The 100 TB layout contract end to end: a fact table written through
    the date-partitioned sink (S6) must be DYNAMICALLY pruned when joined
    to a filtered dimension on the partition columns — the scan's
    PartitionFilters must carry a dynamicpruning expression (plus the
    statically inferred dim constraints), so only the joined months'
    directories are ever read. This is the single highest-leverage
    behavior for time-filtered joins at scale: without it the fact scan
    reads every partition."""
    from pyspark.sql import functions as F

    from intellect_bi_spark.catalog import load_tables
    from intellect_bi_spark.sources.sinks import write_parquet

    t = load_tables(spark, sf_dir)
    fact_path = str(tmp_path / "li_part")
    write_parquet(t["lineitem"], fact_path, partition_by_date="l_shipdate")
    months_path = str(tmp_path / "months")
    (
        spark.range(0, 1200)
        .select(
            (F.lit(1990) + (F.col("id") / 12).cast("int")).alias("year"),
            (F.col("id") % 12 + 1).cast("int").alias("month"),
        )
        .write.mode("overwrite")
        .parquet(months_path)
    )
    # DPP requires a selective predicate on the dim side (a bare local
    # relation does not qualify) — the realistic shape anyway: a date dim
    # filtered to the quarter of interest
    dim = spark.read.parquet(months_path).filter(
        (F.col("year") == 1996) & (F.col("month") <= 3)
    )
    fact = spark.read.parquet(fact_path)
    j = fact.join(F.broadcast(dim), ["year", "month"])
    plan = plan_of(j)
    part_filters = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert any("dynamicpruning" in line for line in part_filters), plan
    assert j.count() > 0


def test_bloom_filter_runtime_join_pruning(spark, sf_dir):
    """Runtime bloom-filter injection for big-big joins: when a shuffle
    join's build side carries a selective filter, Spark must build a
    bloom_filter_agg over the build keys and apply might_contain on the
    probe-side scan — rows that cannot join die AT THE SCAN, before the
    shuffle. At 100 TB this is the difference between shuffling the full
    fact table and shuffling the ~selectivity fraction that can match.
    Thresholds are production defaults except the application-side size
    gate (the fixture is far below 10 GB)."""
    from pyspark.sql import functions as F

    from intellect_bi_spark.catalog import load_tables

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = _with_confs(spark, confs)
    try:
        t = load_tables(spark, sf_dir)
        orders = t["orders"].filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = t["lineitem"].hint("merge").join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        assert j.count() > 0
    finally:
        _restore_confs(spark, old)


def test_zorder_layout_bounds_file_ranges(spark, sf_dir, tmp_path):
    """The Z-order layout's reason to exist, measured at the file level:
    parquet data skipping prunes on per-file min/max, so a layout is only
    as good as how tightly its files bound each filter column. A
    time-sorted baseline bounds ts but every file spans ~the full user
    range; the z-ordered layout must bound BOTH dimensions — its average
    per-file user_id spread must be well under the baseline's."""
    from pyspark.sql import functions as F

    from intellect_bi_spark.catalog import load_tables
    from intellect_bi_spark.operators.layout import _EV_DAY, zorder_by

    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("event_id", "ts", "user_id", F.expr(_EV_DAY).alias("day_i"))
    )
    base_path = str(tmp_path / "by_time")
    z_path = str(tmp_path / "by_z")
    ev.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(base_path)
    zorder_by(ev, "user_id", "day_i", n_files=8).write.mode(
        "overwrite"
    ).parquet(z_path)

    def avg_user_spread(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max("user_id") - F.min("user_id")).alias("spread"))
        )
        row = per_file.agg(
            F.avg("spread").alias("avg"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        return row["avg"], row["n"]

    base_spread, base_n = avg_user_spread(base_path)
    z_spread, z_n = avg_user_spread(z_path)
    assert base_n >= 4 and z_n >= 4  # both actually produced many files
    # same rows either way
    assert (
        spark.read.parquet(z_path).count()
        == spark.read.parquet(base_path).count()
    )
    assert z_spread < 0.6 * base_spread, (z_spread, base_spread)


def test_bucketed_join_has_no_exchange_on_join_inputs(spark, sf_dir):
    """The co-located-join property (r8): with both tables bucketed
    N_BUCKETS on the join key, the SortMergeJoin consumes the bucketed
    scans DIRECTLY — no Exchange anywhere between scan and join (the
    only exchanges in the full query are the post-join aggregate's).
    Also asserts the result equals the plain (shuffled) join row-for-row,
    so the layout never changes semantics."""
    import re
    import uuid

    from intellect_bi_spark.operators import layout

    token = uuid.uuid4().hex[:12]
    tbl_o, tbl_c = layout.bucket_table_names(token)
    try:
        layout.bucketed_tables(spark, sf_dir, token)
        j = layout.bucketed_join_result(spark, tbl_o, tbl_c)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2
        # no exchange on either join input's key
        assert not re.search(
            r"Exchange hashpartitioning\((o_custkey|c_custkey)", plan
        ), plan
        # isolate the join subtree: nothing between SMJ and the scans may
        # be an Exchange (sorts/filters are fine — bucketed tables are
        # sorted per-bucket but Spark still inserts a defensive sort)
        smj_at = plan.index("SortMergeJoin")
        join_subtree = plan[smj_at:]
        assert "Exchange" not in join_subtree, join_subtree
        t = layout.load_tables(spark, sf_dir)
        plain = (
            t["orders"]
            .join(
                t["customer"],
                t["orders"]["o_custkey"] == t["customer"]["c_custkey"],
            )
            .groupBy("c_mktsegment")
            .agg(
                layout.F.count(layout.F.lit(1)).alias("n_orders"),
                layout.F.expr(
                    "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
                ).alias("total_cents"),
            )
            .orderBy("c_mktsegment")
        )
        assert [tuple(r) for r in j.collect()] == [
            tuple(r) for r in plain.collect()
        ]
    finally:
        for tbl in (tbl_o, tbl_c):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_codec_stages_run_at_full_parallelism(spark, sf_dir):
    """Regression lock on the r8 codec-throughput fix: the real-codec
    media builders must repartition the id spine to session parallelism
    BEFORE the Python encode mapInPandas — the single-file documents
    scan otherwise feeds 1-2 partitions and the expensive decode stages
    run near-serial (measured ~9 s single-threaded at sf1 before the
    fix). Checks the physical partition count of every real-codec media
    frame and that the cheap stub path deliberately keeps the scan
    partitioning (its shuffle was measured a net loss)."""
    from intellect_bi_spark.operators import multimodal as m

    want = spark.sparkContext.defaultParallelism
    for codec in m.CODECS:
        media = m._codec_media(spark, sf_dir, m.CODECS[codec][0])
        assert media.rdd.getNumPartitions() == want, codec
    # stub path: scan partitioning preserved (no exchange)
    stub = m._media(spark, sf_dir).select("doc_id", "payload")
    assert stub.rdd.getNumPartitions() < want


def test_ann_index_serving_is_broadcast_only(spark, sf_dir, tmp_path):
    """IVF-PQ serving FROM THE STORE (the production shape): every join
    is a broadcast (probe semi-join, codebook, query subvectors, rerank
    candidates) — no sort-merge join, no non-broadcast cartesian. The
    build-time codes⋈assignments join is allowed to shuffle (it runs
    once at index-build); the serve path must not. A refactor that
    shuffles the code relation for the codebook join fails here, not at
    100 TB."""
    from intellect_bi_spark.operators import vectorstore as vs
    from intellect_bi_spark.operators.similarity import _emb

    path = str(tmp_path / "annidx")
    vs.build_index(spark, sf_dir, path)
    plan = plan_of(
        vs.topk_from_index(
            *vs.read_index_versioned(spark, path), _emb(spark, sf_dir)
        )
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_scoring_relation_reused_not_recomputed(spark, sf_dir):
    """bm25_ndcg_eval reads the corpus-scale scoring relation twice
    (actual + ideal rankings); the persist must make the second read an
    InMemoryTableScan instead of a second tokenize pipeline (r9 review
    fix — this is the regression lock)."""
    from intellect_bi_spark.operators.retrieval import _ndcg_composed

    # the composed seam: the public query eagerly checkpoints and
    # releases the pin (VERDICT r10 #5), so the lazy plan lives here
    out, pins = _ndcg_composed(spark, sf_dir)
    plan = plan_of(out)
    assert plan.count("InMemoryTableScan") >= 2
    for p in pins:
        p.unpersist()


def test_dsir_token_relation_reused_not_recomputed(spark, sf_dir):
    """importance_weights_dsir reads the hashed-token relation twice
    (bucket stats + per-doc weights); the persist pin is the r9 fix that
    took the sf1 run from 24.8 s to 1.7 s — lock it."""
    from intellect_bi_spark.operators.langmodel import _dsir_composed

    out, pins = _dsir_composed(spark, sf_dir)
    plan = plan_of(out)
    assert plan.count("InMemoryTableScan") >= 2
    for p in pins:
        p.unpersist()


def test_forecast_payload_aggregates_daily_series_once(spark, sf_dir):
    """History and forecast both come from ONE daily aggregate — no union
    of two daily branches, each aggregating the fact view — with no
    window and no cartesian product."""
    from intellect_bi_spark.operators.forecast import forecast_payload

    for algo in ("ma7_baseline", "seasonal7", "drift"):
        plan = plan_of(forecast_payload(spark, sf_dir, h=30, algo=algo, window=14))
        assert plan.count("partial_sum(cast(rint(") == 1, (algo, plan)
        assert "Window" not in plan, (algo, plan)
        assert "CartesianProduct" not in plan, (algo, plan)


def _group_jobs(spark, group: str) -> list[int]:
    """Jobs the status store holds for ``group``, after the listener bus
    has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def _py4j_commands():
    """The Py4J commands this thread sends while the block runs."""
    import threading

    from py4j.clientserver import ClientServerConnection

    sent: list[str] = []
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command, *a, **k):
        if threading.get_ident() == me:
            sent.append(command)
        return send(self, command, *a, **k)

    ClientServerConnection.send_command = counting
    try:
        yield sent
    finally:
        ClientServerConnection.send_command = send


# Py4J commands one request's plan construction may send: one statement
# with its parameters and frame argument takes 2-12
MAX_BUILD_COMMANDS = 60


def test_forecast_and_intent_plans_submit_no_job(spark, sf_dir):
    """Building a forecast payload (every algorithm) or an intent plan
    (every template) runs no Spark job: the caller's action is the
    first. Jobs are counted in this thread's own job group, so work
    other threads left running cannot touch the count. Each build sends
    at most MAX_BUILD_COMMANDS Py4J commands."""
    from intellect_bi_spark.operators.forecast import forecast_payload
    from intellect_bi_spark.plans.intent import (
        compile_intent,
        distinct_values,
        parse_intent,
    )

    distincts = distinct_values(spark, sf_dir)  # set-up: one job, by design
    questions = {
        "correlation": "What is the correlation between transaction value"
        " and customer satisfaction?",
        "last2_quarters": "Show average satisfaction for the two most recent"
        " quarters by region",
        "qoq_delta": "How did sales change compared to last quarter for"
        " Male customers?",
        "yoy_by_quarter": "Compare year-over-year sales performance by quarter.",
        "grain_groupby": "What is the quarterly satisfaction trend in the"
        " North region?",
    }
    sc = spark.sparkContext
    group = "test_plans_submit_no_job"
    sc.setJobGroup(group, "plan construction")
    try:
        frames, commands = [], {}
        with _py4j_commands() as sent:
            for algo in ("ma7_baseline", "seasonal7", "drift"):
                n0 = len(sent)
                frames.append(
                    forecast_payload(spark, sf_dir, h=30, algo=algo, window=14)
                )
                commands[algo] = len(sent) - n0
            for template, q in questions.items():
                it = parse_intent(q, distincts)
                n0 = len(sent)
                df, got = compile_intent(spark, sf_dir, it)
                commands[template] = len(sent) - n0
                assert got == template, (q, got)
                frames.append(df)
        assert all(0 < n <= MAX_BUILD_COMMANDS for n in commands.values()), (
            commands
        )
        assert _group_jobs(spark, group) == []
        frames[0].collect()
        assert _group_jobs(spark, group)  # the probe sees real jobs
    finally:
        for prop in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{prop}", None)


def test_repeated_requests_compile_no_new_class(spark, sf_dir):
    """A second pass over the interactive request kinds, with the same
    literals, compiles no new class: the session's generated-code cache
    holds their working set. The kinds: one question per NL template, a
    forecast, both dialect SQL shapes and two dashboard rows."""
    from intellect_bi_spark.operators.forecast import forecast_payload
    from intellect_bi_spark.plans.intent import answer_question
    from intellect_bi_spark.plans.sanitizer import run_safe_sql
    from intellect_bi_spark.registry import QUERIES

    questions = (
        "What is the correlation between transaction value and customer"
        " satisfaction?",
        "Show average satisfaction for the two most recent quarters by region",
        "How did sales change compared to last quarter for Male customers?",
        "Compare year-over-year sales performance by quarter.",
        "What is the monthly sales trend in the North region?",
    )
    dialect_sql = (
        "SELECT TOP 5 product, COUNT(*) AS n_sales, NVL(MAX(satisfaction), 0)"
        " AS max_sat FROM sales WHERE region == 'East' AND date <= GETDATE()"
        " GROUP BY product ORDER BY n_sales DESC, product",
        "SELECT gender, ISNULL(SUM(CAST(sales AS DECIMAL(18,2))), 0) AS total,"
        " SUM(IIF(satisfaction >= 2.5, 1, 0)) AS happy FROM sales"
        " WHERE age BETWEEN 25 AND 35 GROUP BY gender",
    )
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def one_pass() -> None:
        for q in questions:
            answer_question(spark, sf_dir, q)[0].collect()
        forecast_payload(spark, sf_dir, h=14, algo="drift", window=7).collect()
        for sql in dialect_sql:
            run_safe_sql(spark, sql).collect()
        for name in ("kpi_overview", "region_trends_monthly"):
            QUERIES[name](spark, sf_dir).collect()

    one_pass()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    one_pass()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before
