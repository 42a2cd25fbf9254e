"""Forecast operator unit tests: reference guard/clamp semantics
(reference api/main.py:862-915) beyond the oracle-parity checks."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from intellect_bi_spark.operators.forecast import (
    _payload_from_daily,
    daily_series,
    forecast_payload,
)

D0 = datetime.date(2024, 1, 1)


def _daily(spark, values):
    rows = [(D0 + datetime.timedelta(days=i), v) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "date date, value double")


def _forecast(spark, values, h, algo, window):
    df = _payload_from_daily(_daily(spark, values), h, algo, window)
    return [
        (r["date"], r["value"])
        for r in df.filter(F.col("series") == "forecast").orderBy("date").collect()
    ]


def test_clamps(spark):
    """Reference clamps (api/main.py:877-878): h to [1, 365], window to
    [1, len(series)]."""
    vals = [float(3 * i + 1) for i in range(10)]  # 1, 4, ..., 28
    assert len(_forecast(spark, vals, 1000, "ma7_baseline", 7)) == 365
    assert len(_forecast(spark, vals, 0, "ma7_baseline", 7)) == 1
    # a window longer than the series clamps to it
    fc = _forecast(spark, vals, 2, "ma7_baseline", 99)
    assert [v for _, v in fc] == [sum(vals) / 10] * 2
    assert fc[0][0] == D0 + datetime.timedelta(days=10)
    fc = _forecast(spark, vals, 2, "drift", 99)
    slope = (vals[-1] - vals[0]) / 9
    assert [v for _, v in fc] == [vals[-1] + slope * i for i in (1, 2)]
    # window 0 clamps to 1: a flat drift at the last value
    assert [v for _, v in _forecast(spark, vals, 2, "drift", 0)] == [28.0] * 2
    assert [v for _, v in _forecast(spark, vals, 1, "ma7_baseline", 0)] == [28.0]


def test_short_series_guards(spark):
    with pytest.raises(Exception, match="Need >= 7 history points for seasonal7"):
        _forecast(spark, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0], 3, "seasonal7", 7)
    with pytest.raises(Exception, match="Need >= 2 history points for drift"):
        _forecast(spark, [5.0], 3, "drift", 14)
    assert len(_forecast(spark, [5.0], 3, "ma7_baseline", 7)) == 3
    assert len(_forecast(spark, [5.0, 6.0], 3, "drift", 14)) == 3


def test_empty_series_forecasts_nothing(spark):
    empty = _daily(spark, [1.0]).filter("false")
    for algo in ("ma7_baseline", "seasonal7", "drift"):
        assert _payload_from_daily(empty, 5, algo, 7).count() == 0


def test_payload_shape(spark, sf_dir):
    df = forecast_payload(spark, sf_dir, h=5, algo="ma7_baseline", window=7)
    assert df.columns == ["series", "date", "value"]
    counts = {
        r["series"]: r["n"]
        for r in df.groupBy("series").agg(F.count("*").alias("n")).collect()
    }
    n_hist = daily_series(spark, sf_dir).count()
    assert counts == {"history": n_hist, "forecast": 5}


def test_ma_forecast_is_flat(spark, sf_dir):
    df = forecast_payload(spark, sf_dir, h=10, algo="ma7_baseline", window=7)
    vals = [
        r["value"]
        for r in df.filter(F.col("series") == "forecast").collect()
    ]
    assert len(set(vals)) == 1


def test_seasonal7_cycles(spark, sf_dir):
    df = forecast_payload(spark, sf_dir, h=14, algo="seasonal7", window=7)
    fc = (
        df.filter(F.col("series") == "forecast").orderBy("date").collect()
    )
    first_week = [r["value"] for r in fc[:7]]
    second_week = [r["value"] for r in fc[7:14]]
    assert first_week == second_week
    # cycle equals the last 7 history values in date order
    hist = (
        df.filter(F.col("series") == "history").orderBy("date").collect()
    )
    assert first_week == [r["value"] for r in hist[-7:]]


def test_drift_is_linear(spark, sf_dir):
    df = forecast_payload(spark, sf_dir, h=6, algo="drift", window=14)
    fc = [
        r["value"]
        for r in df.filter(F.col("series") == "forecast")
        .orderBy("date")
        .collect()
    ]
    diffs = {round(b - a, 6) for a, b in zip(fc, fc[1:])}
    assert len(diffs) == 1  # constant slope


def test_pandas_twin_matches_closed_form(spark, sf_dir):
    from intellect_bi_spark.operators.forecast import (
        drift_by_region,
        drift_by_region_pandas,
    )

    a = {
        (r["region"], r["date"]): r["value"]
        for r in drift_by_region(spark, sf_dir).collect()
    }
    b = {
        (r["region"], r["date"]): r["value"]
        for r in drift_by_region_pandas(spark, sf_dir).collect()
    }
    assert a == b  # bit-identical: same IEEE ops on the same decimal sums


def test_mllib_linreg_matches_closed_form_ols(spark, sf_dir):
    import numpy as np

    from intellect_bi_spark.operators.forecast import (
        daily_series,
        forecast_linreg_ols,
        forecast_mllib_linreg,
    )

    rows = daily_series(spark, sf_dir).orderBy("date").collect()
    d0 = rows[0]["date"]
    t = np.array([(r["date"] - d0).days for r in rows], dtype=float)
    y = np.array([r["value"] for r in rows])
    slope, intercept = np.polyfit(t, y, 1)
    fc = forecast_mllib_linreg(spark, sf_dir, h=5).orderBy("date").collect()
    t1 = t[-1]
    for i, r in enumerate(fc, start=1):
        want = intercept + slope * (t1 + i)
        assert abs(r["value"] - want) <= 1e-6 * max(1.0, abs(want))
    assert len(fc) == 5
    # the exact-decimal registry query agrees with the MLlib fit to 1e-9
    # relative — the contract for swapping richer MLlib models behind the
    # oracle-verified closed form
    ols = forecast_linreg_ols(spark, sf_dir, h=5).orderBy("date").collect()
    assert len(ols) == 5
    for a, b in zip(fc, ols):
        assert a["date"] == b["date"]
        assert abs(a["value"] - b["value"]) <= 1e-9 * max(1.0, abs(b["value"]))


def test_seasonal7_twins_agree_on_short_region(spark):
    """ADVICE r5: a region with <7 observed days must emit NOTHING from
    BOTH seasonal7 variants (the reference's >=7-point guard, per key) —
    the closed form previously emitted partial rows there."""
    import datetime as dt

    from intellect_bi_spark.operators.forecast import (
        _seasonal7_closed,
        _seasonal7_pandas,
    )

    d0 = dt.date(2024, 1, 1)
    rows = [("North", d0 + dt.timedelta(days=i), float(i + 1)) for i in range(9)]
    rows += [("South", d0 + dt.timedelta(days=i), 10.0 * (i + 1)) for i in range(4)]
    daily = spark.createDataFrame(rows, "region string, date date, value double")

    a = {
        (r["region"], r["date"]): r["value"]
        for r in _seasonal7_closed(daily, 14).collect()
    }
    b = {
        (r["region"], r["date"]): r["value"]
        for r in _seasonal7_pandas(daily, 14).collect()
    }
    assert a == b
    assert not any(k[0] == "South" for k in a)  # short region: zero rows
    assert sum(1 for k in a if k[0] == "North") == 14
    # cycle check: day i value == tail7[(i-1) % 7] (tail = values 3..9)
    tail = [3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0]
    for i in range(1, 15):
        assert a[("North", d0 + dt.timedelta(days=8 + i))] == tail[(i - 1) % 7]
