"""Order-independent numeric aggregation helpers.

Spark computes partial aggregates per partition and merges them in a
nondeterministic order; DuckDB accumulates in its own order. Double addition
is not associative, so ``SUM(double)`` differs in the low bits between the
two engines (and between Spark runs with different partitioning). The
reference never faced this (single-threaded DuckDB), but our correctness
gate hash-compares values, and our engine must also give run-to-run stable
results on a real cluster.

Fix: aggregate in DECIMAL (exact, associative), cast the exact sum to
DOUBLE, and perform any remaining scalar math (mean / correlation /
regression slope) as deterministic IEEE double ops on those exact sums.
All fixture money columns carry ≤2 decimal digits, products of two such
columns ≤4, of three ≤6 — so DECIMAL(38, s) with s∈{2,4,6} is lossless.

Each helper emits ONE SQL expression string used verbatim by both the Spark
query (``F.expr``) and the DuckDB oracle, so the expression tree — and hence
every rounding step — is identical by construction.

This replaces the reference's ad-hoc ``round(x, 6)`` parity hack
(reference api/main.py:1053) with exact arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum_sql(expr: str, scale: int = 2) -> str:
    """Exact SUM of a ≤`scale`-decimal double expression, as DOUBLE.

    The decimal→double cast is done in two parts — integer part and
    fractional part — because engines disagree by 1 ulp when casting a
    decimal whose raw unscaled value exceeds 2^53 (DuckDB computes
    int128/10^scale with two roundings; Java BigDecimal rounds once).
    FLOOR(S) stays < 2^53 for any realistic aggregate, so its cast is
    exact, and the fraction < 1 casts deterministically.
    """
    s = f"SUM(CAST(({expr}) AS DECIMAL(38,{scale})))"
    return (
        f"(CAST(FLOOR({s}) AS DOUBLE)"
        f" + CAST({s} - FLOOR({s}) AS DOUBLE))"
    )


def davg_sql(expr: str, scale: int = 2) -> str:
    """Exact-sum mean: decimal sum cast to double, divided by the count."""
    return f"({dsum_sql(expr, scale)} / COUNT({expr}))"


def _pairwise(x: str, y: str) -> tuple[str, str, str]:
    """Null-safe pair projections: both terms NULL unless BOTH are non-null."""
    both = f"(({x}) IS NOT NULL AND ({y}) IS NOT NULL)"
    xn = f"(CASE WHEN {both} THEN ({x}) END)"
    yn = f"(CASE WHEN {both} THEN ({y}) END)"
    n = f"CAST(COUNT(CASE WHEN {both} THEN 1 END) AS DOUBLE)"
    return xn, yn, n


def corr_sql(x: str, y: str, scale: int = 6) -> str:
    """Pearson correlation from exact decimal moments (reference A5,
    api/main.py:447 ``corr(txn_value, satisfaction)``).

    corr = (n·Σxy − Σx·Σy) / sqrt((n·Σxx − Σx²)(n·Σyy − Σy²)),
    every Σ exact over pairwise-complete rows, the outer arithmetic
    deterministic double ops.
    """
    xn, yn, n = _pairwise(x, y)
    sx = dsum_sql(xn, scale)
    sy = dsum_sql(yn, scale)
    sxy = dsum_sql(f"{xn} * {yn}", scale)
    sxx = dsum_sql(f"{xn} * {xn}", scale)
    syy = dsum_sql(f"{yn} * {yn}", scale)
    return (
        f"(({n} * {sxy} - {sx} * {sy}) / "
        f"SQRT(({n} * {sxx} - {sx} * {sx}) * ({n} * {syy} - {sy} * {sy})))"
    )


def slope_sql(x: str, y: str, scale: int = 6) -> str:
    """Least-squares slope of y on x from exact decimal moments
    (reference A6, api/main.py:705-706 ``regr_slope``).

    slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²), Σ over pairwise-complete rows.
    """
    xn, yn, n = _pairwise(x, y)
    sx = dsum_sql(xn, scale)
    sy = dsum_sql(yn, scale)
    sxy = dsum_sql(f"{xn} * {yn}", scale)
    sxx = dsum_sql(f"{xn} * {xn}", scale)
    return f"(({n} * {sxy} - {sx} * {sy}) / ({n} * {sxx} - {sx} * {sx}))"


def intercept_sql(x: str, y: str, scale: int = 6) -> str:
    """OLS intercept of y on x from exact decimal moments:
    intercept = (Σy − slope·Σx) / n over pairwise-complete rows — the
    closed-form normal-equations solution, deterministic double ops on
    exact sums (same machinery as :func:`slope_sql`)."""
    xn, yn, n = _pairwise(x, y)
    sx = dsum_sql(xn, scale)
    sy = dsum_sql(yn, scale)
    return f"(({sy} - {slope_sql(x, y, scale)} * {sx}) / {n})"


# ---- two-stage exact aggregation (fast path) --------------------------------
#
# Decimal(38) SUM is exact but runs on the non-codegen BigDecimal path —
# measured ~190 ms per aggregate per 600 k rows, vs ~55 ms for a BIGINT
# sum (whole-stage codegen long arithmetic). ``grouped_exact`` keeps the
# exactness and recovers the speed with a two-stage plan:
#
#   stage 1 (map-side): per (group, input-partition) partial sums of the
#     SCALED-INTEGER value, SUM(CAST(rint(expr · 10^s) AS BIGINT)) — pure
#     long arithmetic inside codegen. A partial cannot overflow: it is
#     bounded by rows-per-partition × max|scaled value| (≤ ~10 M rows in a
#     128 MB parquet split × 10^15 ≪ 2^63), and ANSI mode throws loudly if
#     a pathological partition ever exceeds it — never silent wrap.
#   stage 2: merge partials exactly in DECIMAL(38,0) (few rows: groups ×
#     partitions), rescale by an exact decimal literal 10^-s, and cast to
#     double with the SAME two-part FLOOR decomposition as ``dsum_sql`` —
#     so the final double is bit-identical to the one-stage decimal sum
#     (and to the DuckDB oracle) for any sign.
#
# Grid contract (same as dsum_sql's): every input value is a decimal with
# at most s fractional digits and |value| · 10^s < 10^15, so the double
# carries it with an error ≪ 0.5·10^-s and rint(expr·10^s) recovers the
# exact scaled integer. rint is ``Math.rint`` (half-even); ``ROUND`` on a
# double would give the same integer on the grid — the two differ only at
# an exact .5, which no grid value reaches — but Spark evaluates ``ROUND``
# through a ``java.math.BigDecimal`` per row, which costs more than the
# sum itself: four scaled sums over 600 k rows (2 task threads, 4-vCPU
# host) measured 956 ms with ``ROUND`` and 337 ms with ``rint``.
#
# The extra exchange carries groups × partitions rows of longs — noise at
# any scale; at 100 TB the win grows with the fact-table row count while
# stage 2 stays tiny.


def _exact_sum(expr: str, scale: int | None, alias: str, p: str) -> tuple[str, str]:
    """(stage-1 partial over the input, stage-2 final over the partial
    column ``p``) of one exact sum."""
    if scale is None or scale < 1:
        # scale 0 would build a malformed '0.1' rescale literal
        # (silently dividing every sum by 10); integer-grid data
        # should pass scale=1 (exact, one spare digit)
        raise ValueError(
            f"grouped_exact sum spec {alias!r} needs scale >= 1,"
            f" got {scale!r}"
        )
    if scale > 6:
        # the stage-2 rescale DECIMAL(38,0) * DECIMAL(scale+1,scale)
        # needs result precision 38+scale+1 > 38 for scale >= 7; under
        # spark.sql.decimalOperations.allowPrecisionLoss=true the
        # result scale is then clamped to min(scale, 6), silently
        # ROUNDING the 7th+ decimal digit while this function still
        # claims bit-exactness. Fail loudly instead; the engine's
        # exact-decimal contract tops out at scale 6 (money² * money
        # products) everywhere else too (dsum_sql call sites)
        raise ValueError(
            f"grouped_exact sum spec {alias!r}: scale {scale} > 6"
            " would overflow DECIMAL(38) in the rescale multiply"
            " and silently lose exactness"
        )
    frac = "0." + "0" * (scale - 1) + "1"
    s = (
        f"(SUM(CAST({p} AS DECIMAL(38,0)))"
        f" * CAST({frac} AS DECIMAL({scale + 1},{scale})))"
    )
    return (
        f"SUM(CAST(rint(({expr}) * {10 ** scale}) AS BIGINT))",
        f"(CAST(FLOOR({s}) AS DOUBLE) + CAST({s} - FLOOR({s}) AS DOUBLE))",
    )


def _exact_stages(
    specs: list[tuple[str, str | None, int | None, str]],
) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """The two stages of the exact kernel as SQL text: ``(expr, alias)``
    pairs of the stage-1 partials (aliases ``_gx{i}…``) and of the stage-2
    finals over them. The one definition both forms of ``grouped_exact``
    use."""
    partials = []
    finals = []
    for i, (kind, expr, scale, alias) in enumerate(specs):
        p = f"_gx{i}"
        if kind == "sum":
            part, final = _exact_sum(expr, scale, alias, p)
            partials.append((part, p))
            finals.append((final, alias))
        elif kind == "avg":
            # exact sum / non-null count: the double division davg_sql does
            part, final = _exact_sum(expr, scale, alias, p)
            partials += [(part, p), (f"COUNT({expr})", f"{p}n")]
            finals.append((f"{final} / COALESCE(SUM({p}n), 0)", alias))
        elif kind in ("count", "countstar"):
            # COALESCE: a keys=[] global aggregate over an EMPTY input has
            # zero stage-1 partial rows, and SUM(<nothing>) is NULL — but
            # the COUNT contract this replaces returns 0
            arg = expr if kind == "count" else "1"
            partials.append((f"COUNT({arg})", p))
            finals.append((f"COALESCE(SUM({p}), 0)", alias))
        else:  # pragma: no cover - programming error
            raise ValueError(f"unknown grouped_exact kind: {kind}")
    return partials, finals


def grouped_exact(
    df,
    keys: list[str],
    specs: list[tuple[str, str | None, int | None, str]],
):
    """Grouped exact aggregation via long partials + decimal merge.

    ``specs`` entries are ``(kind, expr, scale, alias)`` with kind one of
    ``"sum"`` (exact decimal-grade sum of a ≤scale-decimal double expr,
    returned as DOUBLE), ``"avg"`` (that sum divided by the non-null
    count — the same double division ``davg_sql`` performs), ``"count"``
    (COUNT(expr), non-null count) or ``"countstar"``."""
    partials, finals = _exact_stages(specs)
    part = df.withColumn("_gx_pid", F.spark_partition_id()).groupBy(
        *keys, "_gx_pid"
    ).agg(*[F.expr(e).alias(a) for e, a in partials])
    return part.groupBy(*keys).agg(*[F.expr(e).alias(a) for e, a in finals])


def grouped_exact_sql(
    src: str,
    keys: dict[str, str],
    specs: list[tuple[str, str | None, int | None, str]],
) -> str:
    """:func:`grouped_exact` as one SQL query, for statements analysed
    once. ``src`` is the body of the stage-1 FROM clause (a relation, and
    optionally joins and a WHERE); ``keys`` maps each output key to its
    expression over ``src``."""
    partials, finals = _exact_stages(specs)
    stage1 = [f"{e} AS {k}" for k, e in keys.items()]
    stage1 += [f"{e} AS {a}" for e, a in partials]
    stage2 = [*keys, *(f"{e} AS {a}" for e, a in finals)]
    group1 = [*keys.values(), "spark_partition_id()"]
    by = f" GROUP BY {', '.join(keys)}" if keys else ""
    return (
        f"SELECT {', '.join(stage2)} FROM (SELECT {', '.join(stage1)}"
        f" FROM {src} GROUP BY {', '.join(group1)}){by}"
    )


# ---- Spark Column variants (same expression text via F.expr) ----------------


def dsum(expr: str, scale: int = 2) -> Column:
    return F.expr(dsum_sql(expr, scale))


def davg(expr: str, scale: int = 2) -> Column:
    return F.expr(davg_sql(expr, scale))


def corr_exact(x: str, y: str, scale: int = 6) -> Column:
    return F.expr(corr_sql(x, y, scale))


def slope_exact(x: str, y: str, scale: int = 6) -> Column:
    return F.expr(slope_sql(x, y, scale))


def intercept_exact(x: str, y: str, scale: int = 6) -> Column:
    return F.expr(intercept_sql(x, y, scale))
