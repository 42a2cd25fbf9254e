"""grouped_exact (two-stage long-partial/decimal-merge aggregation) must be
bit-identical to the one-stage DECIMAL(38) path — including negative sums,
NULL values, and multi-group frames."""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from intellect_bi_spark.functions.numeric import dsum, grouped_exact


def test_grouped_exact_matches_decimal_path(spark):
    rows = []
    for i in range(2000):
        g = "ab"[i % 2]
        v = (-1) ** i * (i * 7919 % 100000) / 100.0  # 2-decimal, signed
        w = None if i % 11 == 0 else (i * 31 % 9000) / 100.0
        rows.append((g, v, w))
    df = spark.createDataFrame(rows, "g string, v double, w double").repartition(8)

    slow = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            dsum("v").alias("sv"),
            dsum("w").alias("sw"),
            dsum("v * (1 - 0.04)", 4).alias("svd"),
            F.expr("COUNT(w)").alias("nw"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    fast = {
        r["g"]: r
        for r in grouped_exact(
            df,
            ["g"],
            [
                ("sum", "v", 2, "sv"),
                ("sum", "w", 2, "sw"),
                ("sum", "v * (1 - 0.04)", 4, "svd"),
                ("count", "w", None, "nw"),
                ("countstar", None, None, "n"),
            ],
        ).collect()
    }
    assert set(slow) == set(fast) == {"a", "b"}
    for g in slow:
        for c in ("sv", "sw", "svd", "nw", "n"):
            assert slow[g][c] == fast[g][c], (g, c, slow[g][c], fast[g][c])


def test_grouped_exact_global_and_all_null(spark):
    df = spark.createDataFrame(
        [(None,), (None,), (None,)], "v double"
    )
    row = grouped_exact(
        df, [], [("sum", "v", 2, "s"), ("count", "v", None, "c")]
    ).collect()[0]
    assert row["s"] is None and row["c"] == 0


def test_gini_udaf_matches_window_form(spark, sf_dir):
    """§2.12 grouped-agg pandas UDAF seam: the Arrow-batched Gini must
    equal the distributed rank-window form bit-for-bit (both accumulate
    exact integer cents; the final division is the same IEEE op)."""
    from pyspark.sql import functions as F

    from intellect_bi_spark.catalog import sales
    from intellect_bi_spark.operators.sales_queries import (
        _gini_udaf,
        region_sales_gini,
    )

    dist = {
        r["region"]: (r["n"], r["gini"])
        for r in region_sales_gini(spark, sf_dir).collect()
    }
    # the type-hinted form: building it must not raise PandasUDFType's
    # deprecation UserWarning (or any other)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        udaf = _gini_udaf()
    # a grouped-agg pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT), so the twin aggregates alone
    pand = {
        r["region"]: r["gini"]
        for r in sales(spark, sf_dir)
        .groupBy("region")
        .agg(udaf("sales").alias("gini"))
        .collect()
    }
    assert {k: v[1] for k, v in dist.items()} == pand
    for region, (n, g) in dist.items():
        assert 0.0 <= g < 1.0 and n > 0


def test_gini_edge_cases_twins_agree(spark):
    """ADVICE r6: the distributed form and the UDAF twin must agree on the
    degenerate edges — NULL values ignored, all-zero group → NULL gini,
    sum-cancelling signed group → NULL gini."""
    from pyspark.sql import functions as F

    from intellect_bi_spark.operators.sales_queries import (
        _gini_udaf,
        gini_by_group,
    )

    rows = [
        ("ok", 10.0), ("ok", 30.0), ("ok", None), ("ok", 20.0),
        ("zeros", 0.0), ("zeros", 0.0),
        ("cancel", 5.0), ("cancel", -5.0),
        ("nulls", None), ("nulls", None),
    ]
    df = spark.createDataFrame(rows, "g string, v double").repartition(4)
    dist = {r["g"]: (r["n"], r["gini"]) for r in gini_by_group(df, "g", "v").collect()}
    udaf = _gini_udaf()
    pand = {
        r["g"]: r["gini"]
        for r in df.groupBy("g").agg(udaf("v").alias("gini")).collect()
    }
    # NULL-only group: the distributed form drops it entirely (no non-null
    # rows survive the filter — the grain is non-null transactions), while
    # the per-group UDAF still sees the group and yields NULL; both report
    # "no gini" for it
    assert "nulls" not in dist and pand["nulls"] is None
    assert dist["zeros"] == (2, None) and dist["cancel"] == (2, None)
    # NULL values ignored: n counts the 3 real rows
    assert dist["ok"][0] == 3 and dist["ok"][1] is not None
    assert {k: v[1] for k, v in dist.items()} == {
        k: v for k, v in pand.items() if k != "nulls"
    }


def test_grouped_exact_empty_global_counts_are_zero(spark):
    """keys=[] over an EMPTY input: counts must be 0 (the COUNT contract),
    not NULL from summing zero partials."""
    df = spark.createDataFrame([], "g string, v double").filter("1 = 0")
    row = grouped_exact(
        df,
        [],
        [
            ("sum", "v", 2, "s"),
            ("count", "v", None, "c"),
            ("countstar", None, None, "n"),
        ],
    ).collect()[0]
    assert row["s"] is None and row["c"] == 0 and row["n"] == 0


def test_grouped_exact_rejects_bad_scale(spark):
    import pytest

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="scale >= 1"):
        grouped_exact(df, [], [("sum", "v", 0, "s")])
    with pytest.raises(ValueError, match="scale >= 1"):
        grouped_exact(df, [], [("sum", "v", None, "s")])


def test_grouped_exact_property_random_frames(spark):
    """Property check: for arbitrary signed frames with NULLs and arbitrary
    group shapes, at every supported scale, the two-stage long-partial form
    equals the one-stage DECIMAL(38) sums bit-for-bit — including values at
    the grid's magnitude bound, |v| · 10^s = 10^15 − 1, the largest scaled
    integer every double on the 10^-s grid carries exactly. Deterministic
    seed sweep (a hypothesis @given over a SparkSession fixture re-enters
    Spark per example, which is prohibitively slow; the seeded sweep covers
    the same space reproducibly)."""
    import random

    bound = 10**15 - 1
    for scale in (2, 4, 6):
        for seed in range(8):
            rng = random.Random(seed)
            n = rng.randint(1, 400)
            n_groups = rng.randint(1, 6)
            rows = []
            for i in range(n):
                g = f"g{rng.randrange(n_groups)}"
                r = rng.random()
                if r < 0.15:
                    v = None
                elif r < 0.25:
                    v = rng.choice((bound, -bound)) / 10**scale
                else:
                    v = rng.randint(-(10**9), 10**9) / 10**scale
                rows.append((g, v))
            df = spark.createDataFrame(rows, "g string, v double").repartition(
                rng.choice([1, 3, 8])
            )
            slow = {
                r["g"]: (r["s"], r["c"])
                for r in df.groupBy("g")
                .agg(dsum("v", scale).alias("s"), F.expr("COUNT(v)").alias("c"))
                .collect()
            }
            fast = {
                r["g"]: (r["s"], r["c"])
                for r in grouped_exact(
                    df, ["g"],
                    [("sum", "v", scale, "s"), ("count", "v", None, "c")],
                ).collect()
            }
            assert slow == fast, f"scale {scale} seed {seed}: {slow} != {fast}"
