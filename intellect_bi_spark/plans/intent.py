"""Deterministic NL-intent → DataFrame plan compiler.

The reference compiles keyword-matched English into SQL f-strings
(reference api/main.py:345-532). This engine compiles the same intent
struct into **declarative DataFrame plans** instead of SQL text — plans are
composable, injection-free (filter values bound as literal Columns, never
spliced into strings — fixing the reference's quoting at api/main.py:466),
and Catalyst-optimizable.

Intent model (reference api/main.py:362-423):
- metric: satisfaction → AVG | sales → SUM (trend-words default to sales)
- timegrain: month | quarter | year (phrase table; default month)
- compare: last/previous quarter, last-2 quarters, YoY
- dimensions + filters: dims mentioned in text; values bound against
  distinct-value dictionaries computed once per dataset and broadcast
  (reference lru_cache at api/main.py:345-360).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import _CATALOG_LOCK, sales
from ..functions.numeric import corr_sql, grouped_exact
from ..functions.windows import last_k_by

METRIC_SAT = ("satisfaction", "csat")
METRIC_SALES = ("sales", "revenue", "transaction value", "transaction_value", "amount")
# Schema-dependent column resolution for the sales metric (reference
# _col("transaction_value","sales","amount","revenue"), api/main.py:376,
# 1010-1017): the first of these present in the ACTIVE view is aggregated,
# so a dataset carrying the optional transaction_value column answers
# every sales-metric question from it — while the canonical view (like the
# reference's bundled CSV, which lacks the column) keeps using `sales`.
METRIC_SALES_COLS = ("transaction_value", "sales", "amount", "revenue")
TREND_WORDS = (
    "trend", "growth", "decline", "compare", "correlation", "change",
    "performance",
)
DIM_CANDIDATES = ("region", "product", "gender", "age")
TIME_GRAINS = {
    "monthly": "month",
    "per month": "month",
    "by month": "month",
    "quarterly": "quarter",
    "per quarter": "quarter",
    "by quarter": "quarter",
    "yearly": "year",
    "annual": "year",
}
COMPARE_TOKENS = {
    "last quarter": ("quarter", "last"),
    "previous quarter": ("quarter", "previous"),
    "two most recent quarters": ("quarter", "last2"),
    "two latest quarters": ("quarter", "last2"),
    "yoy": ("year", "yoy"),
    "year-over-year": ("year", "yoy"),
}


@dataclass
class Intent:
    metric: str = "sales"  # "sales" | "satisfaction"
    agg: str = "SUM"  # "SUM" | "AVG"
    timegrain: str = ""  # "" → month default
    compare: tuple[str, str] = ("", "")
    dims: list[str] = field(default_factory=list)
    filters: dict[str, str] = field(default_factory=dict)
    is_correlation: bool = False
    # the reference's YoY gate is the literal word "quarter" in the question
    # (api/main.py:501), not the parsed grain — they diverge when another
    # grain phrase won the grain table but "quarter" still appears.
    mentions_quarter: bool = False
    reason: str = ""


# Per-(session, sf_dir) distinct-value dictionaries (reference
# api/main.py:345-360). Small maps; computed once by one aggregate, held
# driver-side — the Spark analogue of an lru_cache'd DISTINCT, usable for
# literal binding without touching executors again.
_DISTINCT_CACHE: dict[tuple[int, str], dict[str, list[str]]] = {}


def distinct_values(spark: SparkSession, sf_dir: str) -> dict[str, list[str]]:
    key = (id(spark), sf_dir)
    cached = _DISTINCT_CACHE.get(key)
    if cached is not None:
        return cached
    with _CATALOG_LOCK:
        cached = _DISTINCT_CACHE.get(key)
        if cached is not None:
            return cached
        # age is a numeric dim: no value dictionary (reference skips too)
        dims = [d for d in DIM_CANDIDATES if d != "age"]
        row = sales(spark, sf_dir).agg(
            *[F.collect_set(d).alias(d) for d in dims]
        ).first()
        out = {
            d: sorted({str(v).strip() for v in row[d]}, key=str.lower)
            for d in dims
        }
        _DISTINCT_CACHE[key] = out
        return out


def parse_intent(
    user_q: str, distincts: dict[str, list[str]] | None = None
) -> Intent:
    """Extract the intent struct from a question (pure given distincts)."""
    ql = user_q.lower()
    it = Intent()

    # metric (reference api/main.py:362-368)
    if any(m in ql for m in METRIC_SAT):
        it.metric, it.agg = "satisfaction", "AVG"
    elif any(m in ql for m in METRIC_SALES) or any(
        w in ql for w in TREND_WORDS
    ):
        it.metric, it.agg = "sales", "SUM"

    # correlation template trigger (reference api/main.py:444-449)
    it.is_correlation = "correlation" in ql and (
        "satisfaction" in ql
        and any(x in ql for x in ("transaction", "value", "purchase", "sales"))
    )

    it.mentions_quarter = "quarter" in ql

    # timegrain (reference api/main.py:379-387)
    for k, g in TIME_GRAINS.items():
        if k in ql:
            it.timegrain = g
            break
    if not it.timegrain:
        if "quarter" in ql:
            it.timegrain = "quarter"
        elif "month" in ql:
            it.timegrain = "month"
        elif "year" in ql or "annual" in ql:
            it.timegrain = "year"

    # compare (reference api/main.py:389-393)
    for phrase, val in COMPARE_TOKENS.items():
        if phrase in ql:
            it.compare = val
            break

    # dims + filters (reference api/main.py:395-423)
    for d in DIM_CANDIDATES:
        if d in ql:
            it.dims.append(d)
    if distincts:
        tokens = {t.strip(",.?!") for t in ql.split()}
        for d, vals in distincts.items():
            bound = None
            for v in vals:
                if v.lower() in ql:
                    bound = v
                    break
            if bound is None:
                hits = [v for v in vals if v.lower() in tokens]
                bound = hits[0] if hits else None
            if bound is not None:
                it.filters[d] = bound
                if d not in it.dims:
                    it.dims.append(d)
    return it


def resolve_metric_column(columns: list[str], metric: str) -> str:
    """_col-style schema resolution (reference api/main.py:1010-1017): the
    sales metric binds to the first METRIC_SALES_COLS member the active
    view actually has; other metrics resolve to themselves."""
    if metric == "sales":
        for c in METRIC_SALES_COLS:
            if c in columns:
                return c
    return metric


def _metric_agg(
    df: DataFrame, keys: list[str], it: Intent, columns: list[str], alias: str
) -> DataFrame:
    """``keys`` + the intent's exact metric aggregate as ``alias``, resolved
    against the active view's schema. transaction_value is a product of two
    2-decimal inputs ⇒ exact at scale 4 (functions/numeric.py). AVG is the
    exact sum divided by the non-null count, the double division
    ``davg_sql`` performs."""
    col = resolve_metric_column(columns, it.metric)
    scale = 4 if col == "transaction_value" else 2
    specs = [("sum", col, scale, "_sum")]
    value = F.col("_sum")
    if it.agg == "AVG":
        specs.append(("count", col, None, "_n"))
        value = value / F.col("_n")
    return grouped_exact(df, keys, specs).select(*keys, value.alias(alias))


def _qoq_from_quarters(per_q: DataFrame) -> DataFrame:
    """Latest quarter's ``val`` against the one before it, from a
    (qtr, val) frame with one row per quarter: the top 2 quarters, one
    aggregate. No quarters ⇒ no row; one quarter ⇒ NULL previous value
    and delta (the reference's LAG over quarters, api/main.py:461-496)."""
    top2 = last_k_by(per_q, "qtr", 2).agg(
        F.count(F.lit(1)).alias("n"),
        F.max_by("val", "qtr").alias("cur"),
        F.min_by("val", "qtr").alias("first"),
    )
    prev = F.when(F.col("n") == 2, F.col("first"))
    return top2.filter(F.col("n") > 0).select(
        F.col("cur").alias("current_qtr_value"),
        prev.alias("prev_qtr_value"),
        (F.col("cur") - prev).alias("delta"),
    )


def compile_intent(
    spark: SparkSession,
    sf_dir: str,
    it: Intent,
    view: DataFrame | None = None,
) -> tuple[DataFrame, str]:
    """Compile an Intent into a lazy DataFrame plan (reference
    api/main.py:425-532 emits SQL text; we emit plans). Returns (df,
    template_name); no Spark job runs before the caller's action.

    ``view`` overrides the canonical ``sales`` view — the reference runs
    against whatever dataset is active, so templates must follow the
    schema (see resolve_metric_column)."""
    base = view if view is not None else sales(spark, sf_dir)
    cols = base.columns
    df = base
    for d, v in it.filters.items():
        df = df.filter(F.col(d) == F.lit(v))  # literal binding, no splicing

    grain = it.timegrain or "month"
    dims = [d for d in it.dims if d != "age"]  # age is a filter dim only

    if it.is_correlation:
        # reference api/main.py:445: corr(_col("transaction_value","sales",
        # ...), satisfaction) — the txn column wins when the view has it
        txn_col = resolve_metric_column(cols, "sales")
        out = base.agg(
            F.expr(corr_sql(txn_col, "satisfaction")).alias("corr_coef")
        )
        return out, "correlation"

    cg, ck = it.compare
    if cg == "quarter" and ck == "last2":
        qtr = F.trunc("date", "quarter")
        # The last-2-quarter SET comes from the UNFILTERED view — the
        # reference selects quarters globally (api/main.py:452-459) and
        # applies dim filters only inside the aggregate, so a filter that
        # has no rows in the latest quarter must yield an empty group, not
        # silently shift the window to older quarters.
        periods = base.select(qtr.alias("period")).distinct()
        last2 = last_k_by(periods, "period", 2)
        qdf = df.withColumn("period", qtr).join(
            F.broadcast(last2), "period", "left_semi"
        )
        out = _metric_agg(qdf, ["period", *dims], it, cols, "value")
        return out, "last2_quarters"

    if cg == "quarter" and ck in ("last", "previous"):
        per_q = _metric_agg(
            df.withColumn("qtr", F.trunc("date", "quarter")),
            ["qtr"], it, cols, "val",
        )
        return _qoq_from_quarters(per_q), "qoq_delta"

    # YoY fires only when the question names quarters — the reference gates
    # its YoY template on 'quarter' (api/main.py:500-505) and otherwise
    # falls through to generic grouping; it also applies NO dim filters in
    # the YoY aggregation (api/main.py:506-520), so the unfiltered view is
    # aggregated here even when the question bound a dimension value.
    if cg == "year" and ck == "yoy" and it.mentions_quarter:
        q = _metric_agg(
            base.withColumn("year", F.year("date")).withColumn(
                "quarter", F.quarter("date")
            ),
            ["year", "quarter"], it, cols, "total",
        )
        # the same quarter one year earlier: a RANGE frame of exactly
        # year - 1 within the quarter (empty ⇒ NULL), over one aggregate
        prev_year = (
            Window.partitionBy("quarter").orderBy("year").rangeBetween(-1, -1)
        )
        out = q.select(
            "year",
            "quarter",
            "total",
            (F.col("total") - F.max("total").over(prev_year)).alias("yoy_delta"),
        )
        return out, "yoy_by_quarter"

    out = _metric_agg(
        df.withColumn("period", F.trunc("date", grain)),
        ["period", *dims], it, cols, "value",
    )
    return out, "grain_groupby"


def answer_question(
    spark: SparkSession,
    sf_dir: str,
    user_q: str,
    view: DataFrame | None = None,
) -> tuple[DataFrame, str]:
    """route → parse → compile (tiers 1-2 of the reference lifecycle,
    api/main.py:1301-1358)."""
    distincts = distinct_values(spark, sf_dir)
    it = parse_intent(user_q, distincts)
    return compile_intent(spark, sf_dir, it, view=view)
