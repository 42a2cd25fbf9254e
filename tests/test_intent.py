"""Intent-compiler unit tests (SURVEY §2.9 C1-C6)."""

from __future__ import annotations

from intellect_bi_spark.plans.intent import Intent, parse_intent

DISTINCTS = {
    "region": ["Central", "East", "North", "South", "West"],
    "product": ["Brand#11", "Brand#12"],
    "gender": ["Female", "Male"],
}


def test_metric_detection():
    assert parse_intent("average satisfaction by region").metric == "satisfaction"
    assert parse_intent("average satisfaction by region").agg == "AVG"
    assert parse_intent("total revenue by product").metric == "sales"
    assert parse_intent("sales trend").agg == "SUM"
    # trend words default to sales (reference api/main.py:366-368)
    assert parse_intent("what is the growth this year").metric == "sales"


def test_timegrain_detection():
    assert parse_intent("monthly sales").timegrain == "month"
    assert parse_intent("sales per quarter").timegrain == "quarter"
    assert parse_intent("annual revenue").timegrain == "year"
    assert parse_intent("sales by product").timegrain == ""


def test_compare_detection():
    assert parse_intent("sales last quarter").compare == ("quarter", "last")
    assert parse_intent(
        "satisfaction for the two most recent quarters"
    ).compare == ("quarter", "last2")
    assert parse_intent("yoy sales by quarter").compare == ("year", "yoy")


def test_dimension_and_filter_binding():
    it = parse_intent("monthly sales trend in the North region", DISTINCTS)
    assert "region" in it.dims
    assert it.filters == {"region": "North"}


def test_filter_binding_case_insensitive_token():
    it = parse_intent("how are sales in north?", DISTINCTS)
    assert it.filters == {"region": "North"}


def test_correlation_trigger():
    it = parse_intent(
        "correlation between transaction value and satisfaction"
    )
    assert it.is_correlation


def test_age_is_filter_dim_only():
    it = parse_intent("sales by age and region", DISTINCTS)
    assert "age" in it.dims  # detected
    # compile_intent drops it from group-by dims (numeric dim)


def test_metric_resolution_prefers_optional_txn_column():
    """_col semantics (reference api/main.py:376,1010-1017): the sales
    metric binds to transaction_value only when the view carries it."""
    from intellect_bi_spark.plans.intent import resolve_metric_column

    base_cols = ["date", "product", "region", "sales", "satisfaction"]
    assert resolve_metric_column(base_cols, "sales") == "sales"
    assert (
        resolve_metric_column(base_cols + ["transaction_value"], "sales")
        == "transaction_value"
    )
    assert resolve_metric_column(base_cols, "satisfaction") == "satisfaction"


def test_txn_view_answers_transaction_value_questions(spark, sf_dir):
    """End-to-end: the same question answers from transaction_value on the
    txn-bearing view and from sales on the canonical view, with different
    values (the optional column is a genuinely distinct quantity)."""
    from intellect_bi_spark.catalog import sales_with_txn
    from intellect_bi_spark.plans.intent import answer_question

    q = "total monthly transaction value"
    txn_df, _ = answer_question(
        spark, sf_dir, q, view=sales_with_txn(spark, sf_dir)
    )
    base_df, _ = answer_question(spark, sf_dir, q)
    txn = {r["period"]: r["value"] for r in txn_df.collect()}
    base = {r["period"]: r["value"] for r in base_df.collect()}
    assert set(txn) == set(base)  # same periods
    assert any(abs(txn[p] - base[p]) > 1e-6 for p in txn)  # different metric


def _quarters(spark, rows):
    import datetime as dt

    return spark.createDataFrame(
        [(dt.date(y, m, 1), v) for y, m, v in rows], "qtr date, val double"
    )


def test_qoq_takes_latest_two_quarters(spark):
    """The QoQ template equals LAG(val) OVER (ORDER BY qtr) on the latest
    quarter, gaps included: the previous value is the latest quarter
    before it, whatever its distance."""
    from intellect_bi_spark.plans.intent import _qoq_from_quarters

    per_q = _quarters(
        spark, [(2023, 4, 5.0), (2024, 1, 7.5), (2023, 7, 1.0), (2024, 7, 2.25)]
    )
    rows = _qoq_from_quarters(per_q.repartition(3)).collect()
    assert [tuple(r) for r in rows] == [(2.25, 7.5, 2.25 - 7.5)]


def test_qoq_single_quarter_has_null_previous(spark):
    from intellect_bi_spark.plans.intent import _qoq_from_quarters

    rows = _qoq_from_quarters(_quarters(spark, [(2024, 1, 3.5)])).collect()
    assert [tuple(r) for r in rows] == [(3.5, None, None)]


def test_qoq_over_no_rows_returns_no_rows(spark, sf_dir):
    """A filter that matches nothing yields zero rows — as the reference's
    ``ORDER BY qtr DESC LIMIT 1`` does — not one row of NULLs."""
    from intellect_bi_spark.plans.intent import _qoq_from_quarters, compile_intent

    empty = _quarters(spark, [(2024, 1, 1.0)]).filter("false")
    assert _qoq_from_quarters(empty).collect() == []
    it = Intent(compare=("quarter", "last"), filters={"region": "Nowhere"})
    df, template = compile_intent(spark, sf_dir, it)
    assert template == "qoq_delta"
    assert df.collect() == []


def test_distinct_values_builds_once_under_concurrency(spark, sf_dir):
    """Racing first callers share ONE build: every thread gets the same
    dictionary object, and it holds each value dimension."""
    import sys
    import threading

    from intellect_bi_spark.plans import intent

    intent._DISTINCT_CACHE.pop((id(spark), sf_dir), None)
    results, errors = [], []

    def call():
        try:
            results.append(intent.distinct_values(spark, sf_dir))
        except Exception as ex:  # surfaced by the assertion below
            errors.append(ex)

    threads = [threading.Thread(target=call) for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(results) == 8 and all(r is results[0] for r in results)
    assert set(results[0]) == {"region", "product", "gender"}
    assert results[0]["region"] == sorted(results[0]["region"], key=str.lower)


def test_intent_sql_admits_only_whitelisted_identifiers():
    """Values become parameters; names outside DIM_CANDIDATES, TIME_GRAINS
    and the metric columns are refused before any SQL is built."""
    import pytest

    from intellect_bi_spark.plans.intent import intent_sql

    cols = ["date", "product", "region", "sales", "satisfaction"]
    value = "North' OR '1'='1"
    sql, args, _ = intent_sql(Intent(dims=["region"], filters={"region": value}), cols)
    assert value not in sql and list(args.values()) == [value]
    for bad in (
        Intent(filters={"region = region OR 1": "x"}),
        Intent(dims=["sales); DROP TABLE sales; --"]),
        Intent(timegrain="month') --"),
        Intent(metric="satisfaction) FROM x --"),
    ):
        with pytest.raises(ValueError):
            intent_sql(bad, cols)


def test_filter_values_are_bound_literals(spark, sf_dir):
    """A filter value is bound as a literal, never read as SQL: a value
    carrying a quote and SQL text matches nothing and raises nothing in
    every template that filters, a real value matches, and a value with a
    quote in it round-trips."""
    from pyspark.sql import functions as F

    from intellect_bi_spark.catalog import sales
    from intellect_bi_spark.plans.intent import compile_intent

    def run(value, dim="region", view=None, compare=("", "")):
        it = Intent(
            timegrain="year", compare=compare, dims=[dim], filters={dim: value}
        )
        return compile_intent(spark, sf_dir, it, view=view)[0].collect()

    for compare in (("", ""), ("quarter", "last"), ("quarter", "last2")):
        assert run("North' OR '1'='1", compare=compare) == [], compare
        assert run("North", compare=compare), compare
    north = {r["period"]: r["value"] for r in run("North")}
    assert north
    view = sales(spark, sf_dir).withColumn(
        "product",
        F.when(F.col("region") == "North", F.lit("O'Brien")).otherwise(
            F.col("product")
        ),
    )
    rows = run("O'Brien", dim="product", view=view)
    assert {r["product"] for r in rows} == {"O'Brien"}
    assert {r["period"]: r["value"] for r in rows} == north
