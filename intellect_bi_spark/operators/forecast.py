"""Time-series forecasting operators (SURVEY §2.10, T1-T5).

Reference semantics (reference api/main.py:862-915 ``_compute_forecast_from_
hist``): input is the daily ``SUM(sales)`` series (api/main.py:917-924);
horizon h clamped to [1,365], window to [1,len] (api/main.py:877-878);
three models:

- T1 ``ma7_baseline``: flat forecast = mean of last ``window`` points
- T2 ``seasonal7``:   value at t = value at t−7, rolled forward recursively
  (requires ≥7 points) — closed form: forecast[i] = last7[(i−1) mod 7]
- T3 ``drift``:       slope = (yT − y0)/(w−1); ŷ(t+i) = yT + slope·i
  (requires ≥2 points)

Invariants of ``forecast_payload``:

- one analysis per request: the payload is ONE ``spark.sql`` statement,
  analysed once; no Spark job runs before the caller's action and no seed
  scalar crosses to the driver;
- user values are parameters: the horizon and window are named
  parameters (``args=``); the algorithm only picks which of three fixed
  model texts is used;
- the daily series is one exact aggregate (the SQL form of
  ``grouped_exact``), computed once and gathered into one date-sorted
  array — one element per day, so its size is bounded by the calendar at
  any source scale. The seeds (last date, yT, y0, last-7 values) are
  positions in that array, the window mean is an exact sum over its last
  points, the forecast rows are built by a SQL lambda over a ``sequence``
  horizon, and the guards fail the action with ``raise_error``.

Forecast values are the same IEEE double operations the DuckDB oracle
performs, so results are engine-identical.

T5 payload: history ∪ forecast tagged by a ``series`` column
(reference api/main.py:927-961).

The grouped variant (``drift_by_region``) is the 100 TB path: one forecast
per key via closed-form window aggregates — fully distributed, no driver
loop, no Python in the hot path.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import sales, sales_cte, sql_over
from ..functions.numeric import (
    dsum_sql,
    grouped_exact,
    grouped_exact_sql,
    intercept_sql,
    slope_sql,
)


def daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(date, value) daily SUM(sales), the forecaster input
    (reference api/main.py:917-924)."""
    return grouped_exact(
        sales(spark, sf_dir), ["date"], [("sum", "sales", 2, "value")]
    )


def forecast_payload(
    spark: SparkSession,
    sf_dir: str,
    h: int = 30,
    algo: str = "ma7_baseline",
    window: int = 7,
) -> DataFrame:
    """History ∪ forecast payload (T5, reference api/main.py:927-961)."""
    daily = grouped_exact_sql(
        "{base}", {"date": "date"}, [("sum", "sales", 2, "value")]
    )
    sql, args = _payload_sql(f"({daily})", h, algo, window)
    return sql_over(spark, sql, args, base=sales(spark, sf_dir))


def _payload_from_daily(
    daily: DataFrame, h: int, algo: str, window: int
) -> DataFrame:
    """History ∪ forecast over a (date, value) daily frame."""
    sql, args = _payload_sql("{daily}", h, algo, window)
    return sql_over(daily.sparkSession, sql, args, daily=daily)


def _payload_sql(daily: str, h: int, algo: str, window: int) -> tuple[str, dict]:
    """(statement, parameters) of the payload over the (date, value)
    relation ``daily`` (a name or a parenthesised query); ``algo`` picks
    the model's text, ``h`` and ``window`` are parameters.

    Reference clamps (api/main.py:877-878): h to [1, 365]; window to
    [1, len]. An empty series has no forecast rows; seasonal7 with < 7
    points and drift with < 2 fail the action with the reference's
    messages."""
    args = {"h": max(1, min(int(h), 365)), "window": max(1, int(window))}
    need = {"seasonal7": 7, "drift": 2}.get(algo, 1)
    n, w = "size(pts)", "least(:window, size(pts))"
    y_t = "element_at(pts, -1).value"

    def row(tag: str, date: str, value: str) -> str:
        return f"named_struct('series', '{tag}', 'date', {date}, 'value', {value})"

    # the history rows, date-sorted: the series every seed is a position in
    series = (
        f"SELECT sort_array(collect_list({row('history', 'date', 'value')}))"
        f" AS pts FROM {daily}"
    )
    if algo == "seasonal7":  # forecast[i] = last7[(i-1) mod 7]
        v = f"element_at(pts, {n} - 6 + (i - 1) % 7).value"
    elif algo == "drift":  # y0 = oldest, yT = newest of the last w
        y0 = f"element_at(pts, {n} - {w} + 1).value"
        v = f"{y_t} + ({y_t} - {y0}) / greatest({w} - 1, 1) * i"
    else:  # ma7_baseline: flat mean of the last w points, an exact sum
        v = f"tail_sum / {w}"
        series = (
            f"SELECT any_value(pts) AS pts, {dsum_sql('p.value')} AS tail_sum"
            f" FROM (SELECT pts, explode_outer(slice(pts, {n} - {w} + 1, {w}))"
            f" AS p FROM ({series}))"
        )
    if need > 1:
        v = (
            f"CASE WHEN {n} >= {need} THEN {v} ELSE"
            f" raise_error('Need >= {need} history points for {algo}') END"
        )
    fc_row = row(
        "forecast", "date_add(element_at(pts, -1).date, i)", f"CAST({v} AS DOUBLE)"
    )
    fc = f"transform(sequence(1, :h), i -> {fc_row})"
    return (
        f"SELECT inline(CASE WHEN {n} > 0 THEN concat(pts, {fc}) ELSE pts END)"
        f" FROM ({series})",
        args,
    )


def forecast_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    return forecast_payload(spark, sf_dir, h=30, algo="ma7_baseline", window=7)


def forecast_seasonal7(spark: SparkSession, sf_dir: str) -> DataFrame:
    return forecast_payload(spark, sf_dir, h=30, algo="seasonal7", window=7)


def forecast_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return forecast_payload(spark, sf_dir, h=30, algo="drift", window=14)


def drift_by_region(spark: SparkSession, sf_dir: str, h: int = 14) -> DataFrame:
    """Per-key drift forecast, fully distributed (the 100 TB growth path).

    Closed-form per group: window functions pick y0/yT of the last-w daily
    points per region; a ``sequence`` explode generates the horizon — no
    driver loop, no Python UDF, shuffles only on the (tiny) group keys.
    """
    window = 14
    daily = (
        sales(spark, sf_dir)
        .groupBy("region", "date")
        .agg(F.expr(dsum_sql("sales")).alias("value"))
    )
    w_desc = Window.partitionBy("region").orderBy(F.desc("date"))
    ranked = daily.withColumn("rn", F.row_number().over(w_desc))
    seeds = (
        ranked.filter(F.col("rn").isin(1, window))
        .groupBy("region")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("y_t"),
            F.max(F.when(F.col("rn") == 1, F.col("date"))).alias("last_date"),
            F.max(F.when(F.col("rn") == window, F.col("value"))).alias("y0"),
        )
        .withColumn(
            "slope", (F.col("y_t") - F.col("y0")) / F.lit(window - 1)
        )
    )
    return seeds.select(
        "region",
        F.explode(F.sequence(F.lit(1), F.lit(h))).alias("i"),
        "last_date",
        "y_t",
        "slope",
    ).select(
        "region",
        F.date_add("last_date", F.col("i")).alias("date"),
        (F.col("y_t") + F.col("slope") * F.col("i")).alias("value"),
    )


def drift_by_region_pandas(
    spark: SparkSession, sf_dir: str, h: int = 14
) -> DataFrame:
    """``applyInPandas`` twin of :func:`drift_by_region` — the grouped-map
    extension point (SURVEY §2.12) where an arbitrary per-series model
    (statsmodels, prophet-style, a learned model) would slot in. The drift
    math inside uses the same IEEE double operations as the closed-form
    plan, so outputs are bit-identical (tests/test_forecast.py asserts it).
    """
    import pandas as pd

    window = 14
    daily = (
        sales(spark, sf_dir)
        .groupBy("region", "date")
        .agg(F.expr(dsum_sql("sales")).alias("value"))
    )

    def fc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date")
        tail = pdf.tail(window)
        y_t = float(tail["value"].iloc[-1])
        y0 = float(tail["value"].iloc[0])
        slope = (y_t - y0) / (window - 1)
        last = tail["date"].iloc[-1]
        return pd.DataFrame(
            {
                "region": pdf["region"].iloc[0],
                "date": [
                    last + datetime.timedelta(days=i)
                    for i in range(1, h + 1)
                ],
                "value": [y_t + slope * i for i in range(1, h + 1)],
            }
        )

    return daily.groupBy("region").applyInPandas(
        fc, schema="region string, date date, value double"
    )


def seasonal7_by_region(
    spark: SparkSession, sf_dir: str, h: int = 14
) -> DataFrame:
    """Per-key seasonal7 forecast, fully distributed (the T2 growth path —
    SURVEY §2.10; completes the per-region family next to
    :func:`drift_by_region`, VERDICT r4 item 6).

    Reference semantics per key (api/main.py:883-891): forecast day i
    cycles the last 7 observed values, oldest first —
    ``forecast[i] = last7[(i-1) mod 7]``. Closed form: a per-region
    descending row_number picks the 7-tail, the horizon is a ``sequence``
    explode, and the cycle is an equi-join on
    ``rn = 7 - ((i-1) mod 7)`` (rn=7 ⇔ oldest of the tail). No driver
    loop, no Python; the 7-tail relation (7 rows × #regions) broadcasts.
    Regions with fewer than 7 observed days emit NO rows at all (a
    ``HAVING count >= 7`` on the tail relation) — the per-key analogue of
    the reference's ≥7-point guard (api/main.py:883), and bit-identical to
    the :func:`seasonal7_by_region_pandas` twin's short-region behaviour
    (ADVICE r5: the previous form emitted partial rows for short
    regions)."""
    daily = (
        sales(spark, sf_dir)
        .groupBy("region", "date")
        .agg(F.expr(dsum_sql("sales")).alias("value"))
    )
    return _seasonal7_closed(daily, h)


def _seasonal7_closed(daily: DataFrame, h: int) -> DataFrame:
    w_desc = Window.partitionBy("region").orderBy(F.desc("date"))
    tail7 = (
        daily.withColumn("rn", F.row_number().over(w_desc))
        .filter(F.col("rn") <= 7)
        .select("region", "rn", "date", "value")
    )
    last = (
        tail7.groupBy("region")
        .agg(
            F.max("date").alias("last_date"),
            F.count(F.lit(1)).alias("n7"),
        )
        .filter(F.col("n7") >= 7)  # reference's ≥7-point guard, per key
        .drop("n7")
    )
    horizon = last.select(
        "region",
        "last_date",
        F.explode(F.sequence(F.lit(1), F.lit(h))).alias("i"),
    ).withColumn("rn", F.lit(7) - (F.col("i") - 1) % 7)
    return (
        horizon.join(F.broadcast(tail7.drop("date")), ["region", "rn"])
        .select(
            "region",
            F.date_add("last_date", F.col("i")).alias("date"),
            "value",
        )
    )


def seasonal7_by_region_pandas(
    spark: SparkSession, sf_dir: str, h: int = 14
) -> DataFrame:
    """``applyInPandas`` twin of :func:`seasonal7_by_region` — the
    grouped-map extension point (SURVEY §2.12) where a real seasonal
    decomposition (statsmodels STL, MLlib pipeline) would slot in. The
    cycle logic carries the values unchanged, so outputs are bit-identical
    and both variants share one oracle."""
    daily = (
        sales(spark, sf_dir)
        .groupBy("region", "date")
        .agg(F.expr(dsum_sql("sales")).alias("value"))
    )
    return _seasonal7_pandas(daily, h)


def _seasonal7_pandas(daily: DataFrame, h: int) -> DataFrame:
    import pandas as pd

    def fc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date")
        tail = pdf.tail(7)
        vals = list(tail["value"])
        last = tail["date"].iloc[-1]
        if len(vals) < 7:  # per-key ≥7 guard: emit nothing, like the join
            # empty slice of the INPUT frame, not pd.DataFrame({... []}):
            # bare empty columns default to float64 and Arrow refuses the
            # float64→date32 cast when the batch is serialized back
            return pdf[["region", "date", "value"]].head(0)
        return pd.DataFrame(
            {
                "region": pdf["region"].iloc[0],
                "date": [
                    last + datetime.timedelta(days=i)
                    for i in range(1, h + 1)
                ],
                "value": [vals[(i - 1) % 7] for i in range(1, h + 1)],
            }
        )

    return daily.groupBy("region").applyInPandas(
        fc, schema="region string, date date, value double"
    )


def forecast_linreg_ols(
    spark: SparkSession, sf_dir: str, h: int = 30
) -> DataFrame:
    """Full-series OLS forecast (T3 growth path), fully in-plan: slope and
    intercept come from exact decimal moments (``slope_exact`` /
    ``intercept_exact`` — the normal-equations closed form, associative and
    partition-order-independent), so the result is deterministic at any
    partitioning and has an exact DuckDB oracle — unlike the MLlib
    Cholesky path (:func:`forecast_mllib_linreg`), whose float
    accumulation order differs per engine. Round 1 shipped the MLlib
    variant as the registry query and it was the one permanent
    ``no_oracle`` row; tests/test_forecast.py proves the two agree to
    1e-9 relative, so MLlib stays as the pluggable-model extension point
    and this exact form is the verified contract.

    No driver-side collect: date bounds ride a broadcast 1-row frame, the
    fit is one distributed aggregate, the horizon is a ``sequence``
    explode."""
    daily = daily_series(spark, sf_dir)
    bounds = daily.agg(F.min("date").alias("d0"), F.max("date").alias("d1"))
    t_df = daily.crossJoin(F.broadcast(bounds)).select(
        F.datediff("date", F.col("d0")).cast("double").alias("t"),
        "value",
        "d0",
        "d1",
    )
    from ..functions.numeric import intercept_exact, slope_exact

    fit = t_df.groupBy("d0", "d1").agg(
        slope_exact("t", "value").alias("slope"),
        intercept_exact("t", "value").alias("intercept"),
    )
    return fit.select(
        F.explode(F.sequence(F.lit(1), F.lit(h))).alias("i"),
        "d0",
        "d1",
        "slope",
        "intercept",
    ).select(
        F.lit("forecast").alias("series"),
        F.date_add(F.col("d1"), F.col("i")).alias("date"),
        (
            F.col("intercept")
            + F.col("slope") * (F.datediff("d1", "d0") + F.col("i"))
        ).alias("value"),
    )


def forecast_mllib_linreg(
    spark: SparkSession, sf_dir: str, h: int = 30
) -> DataFrame:
    """MLlib twin of :func:`forecast_linreg_ols` (charter: forecasting →
    MLlib): ``LinearRegression(solver='normal')`` trains distributed and
    predicts the same horizon. Not a registry query — MLlib's Cholesky
    solve accumulates floats in a different order than the exact-decimal
    closed form, so it cannot carry a hash-exact oracle;
    tests/test_forecast.py asserts it matches the OLS query to 1e-9
    relative, which is the contract for swapping in richer MLlib models."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    daily = daily_series(spark, sf_dir)
    first_last = daily.agg(
        F.min("date").alias("d0"), F.max("date").alias("d1")
    ).first()
    d0, d1 = first_last["d0"], first_last["d1"]
    train = daily.select(
        F.datediff("date", F.lit(d0)).cast("double").alias("t"),
        F.col("value").alias("label"),
    )
    assembled = VectorAssembler(
        inputCols=["t"], outputCol="features"
    ).transform(train)
    model = LinearRegression(
        solver="normal", regParam=0.0, standardization=False
    ).fit(assembled)
    slope = float(model.coefficients[0])
    intercept = float(model.intercept)
    t1 = (d1 - d0).days
    future = spark.range(1, h + 1).select(
        F.lit("forecast").alias("series"),
        F.date_add(F.lit(d1), F.col("id").cast("int")).alias("date"),
        (
            F.lit(intercept) + F.lit(slope) * (F.lit(t1) + F.col("id"))
        ).alias("value"),
    )
    return future


QUERIES = {
    "forecast_ma": forecast_ma,
    "forecast_seasonal7": forecast_seasonal7,
    "forecast_drift": forecast_drift,
    "forecast_drift_by_region": drift_by_region,
    "forecast_drift_by_region_pandas": drift_by_region_pandas,
    "forecast_seasonal7_by_region": seasonal7_by_region,
    "forecast_seasonal7_by_region_pandas": seasonal7_by_region_pandas,
    "forecast_linreg_ols": forecast_linreg_ols,
}


def _daily_cte() -> str:
    return (
        f", daily AS (SELECT date, {dsum_sql('sales')} AS value"
        f" FROM sales GROUP BY date)"
        f", ranked AS (SELECT date, value,"
        f" ROW_NUMBER() OVER (ORDER BY date DESC) AS rn FROM daily)"
        f", last_d AS (SELECT MAX(date) AS last_date FROM daily)"
    )


_HIST = "SELECT 'history' AS series, date, value FROM daily"


ORACLES = {
    "forecast_ma": sales_cte(
        _daily_cte()
        + f", base AS (SELECT {dsum_sql('value')} / COUNT(value) AS b"
        f" FROM ranked WHERE rn <= 7)"
        f" {_HIST}"
        f" UNION ALL"
        f" SELECT 'forecast', last_date + CAST(i AS INT), CAST(b AS DOUBLE)"
        f" FROM last_d, base, generate_series(1, 30) AS t(i)"
    ),
    "forecast_seasonal7": sales_cte(
        _daily_cte()
        + " , last7 AS (SELECT value,"
        " ROW_NUMBER() OVER (ORDER BY date) AS k FROM ranked WHERE rn <= 7)"
        f" {_HIST}"
        f" UNION ALL"
        f" SELECT 'forecast', last_date + CAST(i AS INT), value"
        f" FROM last_d, generate_series(1, 30) AS t(i)"
        f" JOIN last7 ON last7.k = ((i - 1) % 7) + 1"
    ),
    "forecast_drift": sales_cte(
        _daily_cte()
        + " , seeds AS (SELECT"
        " MAX(CASE WHEN rn = 1 THEN value END) AS y_t,"
        " MAX(CASE WHEN rn = 14 THEN value END) AS y0"
        " FROM ranked)"
        f" {_HIST}"
        f" UNION ALL"
        f" SELECT 'forecast', last_date + CAST(i AS INT),"
        f" y_t + ((y_t - y0) / 13) * i"
        f" FROM last_d, seeds, generate_series(1, 30) AS t(i)"
    ),
    "forecast_linreg_ols": sales_cte(
        f", daily AS (SELECT date, {dsum_sql('sales')} AS value"
        f" FROM sales GROUP BY date)"
        f", b AS (SELECT MIN(date) AS d0, MAX(date) AS d1 FROM daily)"
        f", tt AS (SELECT CAST(date_diff('day', d0, date) AS DOUBLE) AS t,"
        f" value, d0, d1 FROM daily, b)"
        f", fit AS (SELECT d0, d1, {slope_sql('t', 'value')} AS slope,"
        f" {intercept_sql('t', 'value')} AS intercept FROM tt"
        f" GROUP BY d0, d1)"
        f" SELECT 'forecast' AS series, d1 + CAST(i AS INT) AS date,"
        f" intercept + slope * (date_diff('day', d0, d1) + i) AS value"
        f" FROM fit, generate_series(1, 30) AS t(i)"
    ),
    "forecast_seasonal7_by_region": sales_cte(
        f", daily AS (SELECT region, date, {dsum_sql('sales')} AS value"
        f" FROM sales GROUP BY region, date)"
        f", ranked AS (SELECT region, date, value, ROW_NUMBER() OVER"
        f" (PARTITION BY region ORDER BY date DESC) AS rn FROM daily)"
        f", tail7 AS (SELECT region, rn, value FROM ranked WHERE rn <= 7)"
        f", last_d AS (SELECT region, MAX(date) AS last_date FROM ranked"
        f" WHERE rn <= 7 GROUP BY region HAVING COUNT(*) >= 7)"
        f" SELECT l.region, last_date + CAST(i AS INT) AS date, s.value"
        f" FROM last_d l CROSS JOIN generate_series(1, 14) AS t(i)"
        f" JOIN tail7 s ON s.region = l.region"
        f" AND s.rn = 7 - ((i - 1) % 7)"
    ),
    "forecast_drift_by_region": sales_cte(
        f", daily AS (SELECT region, date, {dsum_sql('sales')} AS value"
        f" FROM sales GROUP BY region, date)"
        f", ranked AS (SELECT region, date, value, ROW_NUMBER() OVER"
        f" (PARTITION BY region ORDER BY date DESC) AS rn FROM daily)"
        f", seeds AS (SELECT region,"
        f" MAX(CASE WHEN rn = 1 THEN value END) AS y_t,"
        f" MAX(CASE WHEN rn = 1 THEN date END) AS last_date,"
        f" MAX(CASE WHEN rn = 14 THEN value END) AS y0"
        f" FROM ranked GROUP BY region)"
        f" SELECT region, last_date + CAST(i AS INT) AS date,"
        f" y_t + ((y_t - y0) / 13) * i AS value"
        f" FROM seeds, generate_series(1, 14) AS t(i)"
    ),
}

# the applyInPandas twins perform the same IEEE ops on the same decimal
# sums and cycle the same values, so each shares its twin's oracle
ORACLES["forecast_drift_by_region_pandas"] = ORACLES[
    "forecast_drift_by_region"
]
ORACLES["forecast_seasonal7_by_region_pandas"] = ORACLES[
    "forecast_seasonal7_by_region"
]
