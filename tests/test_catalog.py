"""The cached ``sales`` tier: a cache-sized view is one materialized row
relation, built once and eagerly, that every plan reads as a single leaf.

Tests that build the view run in a new session over the shared
SparkContext, so the build is the first for its catalog key whatever ran
before them."""

from __future__ import annotations

import pytest

from intellect_bi_spark import catalog
from tests.test_plans import _group_jobs, plan_of


def _leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def _persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _temp_views(session) -> set[str]:
    return {t.name for t in session.catalog.listTables() if t.isTemporary}


@pytest.fixture
def job_group(spark):
    sc = spark.sparkContext
    group = "test_catalog_jobs"
    sc.setJobGroup(group, "sales view")
    try:
        yield group
    finally:
        props = ("jobGroup.id", "job.description", "job.interruptOnCancel")
        for prop in props:
            sc.setLocalProperty(f"spark.{prop}", None)


def test_views_analyse_to_one_row_relation_leaf(spark, sf_dir):
    for build in (catalog.sales, catalog.sales_with_txn):
        df = build(spark, sf_dir)
        assert _leaves(df) == ["LogicalRDD"], build.__name__
        own = spark.sql(f"SELECT * FROM {catalog._VIEW_NAMES[id(df)]}")
        assert _leaves(own) == ["LogicalRDD"], build.__name__


def test_view_is_built_eagerly_once(spark, sf_dir, job_group):
    """The first build runs the join; a second call submits no job."""
    session = spark.newSession()
    catalog.load_tables(session, sf_dir)  # schema reads submit jobs too
    tables = _group_jobs(spark, job_group)
    catalog.sales(session, sf_dir)
    catalog.sales_with_txn(session, sf_dir)
    built = _group_jobs(spark, job_group)
    assert len(built) > len(tables)  # materialized at build
    catalog.sales(session, sf_dir)
    catalog.sales_with_txn(session, sf_dir)
    assert _group_jobs(spark, job_group) == built


def test_intent_plan_carries_no_join_or_scan_of_the_view(spark, sf_dir):
    from intellect_bi_spark.plans.intent import (
        compile_intent,
        distinct_values,
        parse_intent,
    )

    q = "What is the quarterly satisfaction trend in the North region?"
    df, _ = compile_intent(
        spark, sf_dir, parse_intent(q, distinct_values(spark, sf_dir))
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan


def test_self_union_reuses_the_aggregate_exchange(spark, sf_dir):
    """Exchange reuse works over the row relation (it never fires over an
    InMemoryRelation under AQE): the union computes the aggregate once."""
    g = catalog.sales(spark, sf_dir).groupBy("region").count()
    u = g.unionAll(g)
    rows = u.collect()
    assert len(rows) == 2 * len(g.collect())
    final = u._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") == 1, final


def test_view_above_the_size_guard_stays_lazy(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(
        catalog, "_CACHE_MAX_BYTES", catalog._fact_bytes(sf_dir) - 1
    )
    session = spark.newSession()
    before = _persistent_rdds(spark)
    df = catalog.sales(session, sf_dir)
    assert _persistent_rdds(spark) == before
    assert "LogicalRDD" not in _leaves(df)
    assert plan_of(df).count("BroadcastHashJoin") >= 4


def test_failed_build_binds_nothing(spark, sf_dir, monkeypatch):
    session = spark.newSession()
    key = (id(session), sf_dir, "sales")
    names = dict(catalog._VIEW_NAMES)
    frame = type(session.range(1))
    checkpoint = frame.localCheckpoint
    calls = []

    def fail_once(self, *a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected checkpoint failure")
        return checkpoint(self, *a, **k)

    monkeypatch.setattr(frame, "localCheckpoint", fail_once)
    with pytest.raises(RuntimeError, match="injected"):
        catalog.sales(session, sf_dir)
    assert key not in catalog._SALES_CACHE
    assert catalog._VIEW_NAMES == names
    views = _temp_views(session)
    assert "sales" not in views
    assert not [v for v in views if v.startswith("_sales_")], views

    df = catalog.sales(session, sf_dir)
    assert catalog._SALES_CACHE[key] is df
    own = catalog._VIEW_NAMES[id(df)]
    assert {"sales", own} <= _temp_views(session)
    assert _leaves(df) == ["LogicalRDD"]
    assert df.count() == session.sql(f"SELECT COUNT(*) FROM {own}").first()[0]
