"""Deterministic NL-intent → Spark SQL plan compiler.

The reference compiles keyword-matched English into SQL f-strings
(reference api/main.py:345-532), splicing filter values into the text
(its quoting bug at api/main.py:466). Invariants here:

- one analysis per request: each template is ONE ``spark.sql`` statement
  over the active view, so Catalyst analyses the plan once instead of once
  per DataFrame call; no Spark job runs before the caller's action;
- user values are parameters: filter values are bound as named
  parameters (``args=``), never spliced into the text; the only
  identifiers in the text come from DIM_CANDIDATES, TIME_GRAINS and the
  metric columns, and anything else raises ``ValueError``;
- every metric aggregate is the exact kernel of
  ``functions.numeric.grouped_exact``, in its SQL form.

Intent model (reference api/main.py:362-423):
- metric: satisfaction → AVG | sales → SUM (trend-words default to sales)
- timegrain: month | quarter | year (phrase table; default month)
- compare: last/previous quarter, last-2 quarters, YoY
- dimensions + filters: dims mentioned in text; values bound against
  distinct-value dictionaries computed once per dataset
  (reference lru_cache at api/main.py:345-360).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import _CATALOG_LOCK, sales, sql_over
from ..functions.numeric import corr_sql, grouped_exact_sql

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


# the view a statement reads (see catalog.sql_over)
_BASE = "{base}"
_METRIC_COLS = (*METRIC_SALES_COLS, "satisfaction")
_QTR = "trunc(date, 'quarter')"


def _metric_agg_sql(
    src: str, keys: dict[str, str], it: Intent, columns: list[str], alias: str
) -> str:
    """``keys`` + the intent's exact metric aggregate as ``alias`` over the
    FROM body ``src``, resolved against the active view's schema.
    transaction_value is a product of two 2-decimal inputs ⇒ exact at
    scale 4 (functions/numeric.py). AVG is the exact sum divided by the
    non-null count, the double division ``davg_sql`` performs."""
    col = resolve_metric_column(columns, it.metric)
    if col not in _METRIC_COLS:
        raise ValueError(f"unknown metric column {col!r}")
    kind = "avg" if it.agg == "AVG" else "sum"
    scale = 4 if col == "transaction_value" else 2
    return grouped_exact_sql(src, keys, [(kind, col, scale, alias)])


def _qoq_sql(per_q: str) -> str:
    """Latest quarter's ``val`` against the one before it, over the query
    ``per_q`` with one (qtr, val) row per quarter: the top 2 quarters, one
    aggregate. No quarters ⇒ no row; one quarter ⇒ NULL previous value and
    delta (the reference's LAG over quarters, api/main.py:461-496)."""
    cur = "max_by(val, qtr)"
    prev = "CASE WHEN count(1) = 2 THEN min_by(val, qtr) END"
    return (
        f"SELECT {cur} AS current_qtr_value, {prev} AS prev_qtr_value,"
        f" {cur} - {prev} AS delta FROM ({per_q} ORDER BY qtr DESC LIMIT 2)"
        " HAVING count(1) > 0"
    )


def _qoq_from_quarters(per_q: DataFrame) -> DataFrame:
    """:func:`_qoq_sql` over a (qtr, val) frame."""
    sql = _qoq_sql("SELECT * FROM {per_q}")
    return sql_over(per_q.sparkSession, sql, {}, per_q=per_q)


def intent_sql(it: Intent, columns: list[str]) -> tuple[str, dict, str]:
    """(statement, parameters, template name) of an Intent over a view
    with ``columns``, read as ``{base}``. Filter values are named
    parameters; identifiers come only from DIM_CANDIDATES, TIME_GRAINS and
    the metric columns."""
    for d in (*it.dims, *it.filters):
        if d not in DIM_CANDIDATES:
            raise ValueError(f"unknown dimension {d!r}")
    grain = it.timegrain or "month"
    if grain not in TIME_GRAINS.values():
        raise ValueError(f"unknown time grain {grain!r}")
    dims = {d: d for d in it.dims if d != "age"}  # age is a filter dim only
    args = {f"f{i}": v for i, v in enumerate(it.filters.values())}
    conds = [f"{d} = :f{i}" for i, d in enumerate(it.filters)]

    def filtered(*extra: str) -> str:
        where = " AND ".join([*conds, *extra])
        return f"{_BASE} WHERE {where}" if where else _BASE

    if it.is_correlation:
        # reference api/main.py:445: corr(_col("transaction_value","sales",
        # ...), satisfaction) — the txn column wins when the view has it
        txn_col = resolve_metric_column(columns, "sales")
        if txn_col not in METRIC_SALES_COLS:
            raise ValueError(f"unknown metric column {txn_col!r}")
        corr = corr_sql(txn_col, "satisfaction")
        return f"SELECT {corr} AS corr_coef FROM {_BASE}", {}, "correlation"

    cg, ck = it.compare
    if cg == "quarter" and ck == "last2":
        # The last-2-quarter SET comes from the UNFILTERED view — the
        # reference selects quarters globally (api/main.py:452-459) and
        # applies dim filters only inside the aggregate, so a filter that
        # has no rows in the latest quarter must yield an empty group, not
        # silently shift the window to older quarters.
        last2 = (
            f"{_QTR} IN (SELECT DISTINCT {_QTR} AS period FROM {_BASE}"
            " ORDER BY period DESC LIMIT 2)"
        )
        sql = _metric_agg_sql(
            filtered(last2), {"period": _QTR, **dims}, it, columns, "value"
        )
        return sql, args, "last2_quarters"

    if cg == "quarter" and ck in ("last", "previous"):
        per_q = _metric_agg_sql(filtered(), {"qtr": _QTR}, it, columns, "val")
        return _qoq_sql(per_q), args, "qoq_delta"

    # YoY fires only when the question names quarters — the reference gates
    # its YoY template on 'quarter' (api/main.py:500-505) and otherwise
    # falls through to generic grouping; it also applies NO dim filters in
    # the YoY aggregation (api/main.py:506-520), so the unfiltered view is
    # aggregated here even when the question bound a dimension value.
    if cg == "year" and ck == "yoy" and it.mentions_quarter:
        q = _metric_agg_sql(
            _BASE, {"year": "year(date)", "quarter": "quarter(date)"}, it,
            columns, "total",
        )
        # the same quarter one year earlier: a RANGE frame of exactly
        # year - 1 within the quarter (empty ⇒ NULL), over one aggregate
        sql = (
            "SELECT year, quarter, total, total - max(total) OVER ("
            "PARTITION BY quarter ORDER BY year"
            f" RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS yoy_delta FROM ({q})"
        )
        return sql, {}, "yoy_by_quarter"

    sql = _metric_agg_sql(
        filtered(), {"period": f"trunc(date, '{grain}')", **dims}, it,
        columns, "value",
    )
    return sql, args, "grain_groupby"


def compile_intent(
    spark: SparkSession,
    sf_dir: str,
    it: Intent,
    view: DataFrame | None = None,
) -> tuple[DataFrame, str]:
    """Compile an Intent into a lazy DataFrame plan (reference
    api/main.py:425-532 emits SQL text). Returns (df, template_name).

    One ``spark.sql`` statement per request, so the plan is analysed once;
    filter values reach it only as named parameters. No Spark job runs
    before the caller's action. ``view`` overrides the canonical ``sales``
    view — the reference runs against whatever dataset is active, so
    templates follow the schema (see resolve_metric_column)."""
    base = view if view is not None else sales(spark, sf_dir)
    sql, args, template = intent_sql(it, base.columns)
    return sql_over(spark, sql, args, base=base), template


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
