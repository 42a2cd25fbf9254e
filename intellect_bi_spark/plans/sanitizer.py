"""SQL dialect sanitizer + safety gate for LLM-emitted SQL (SURVEY §2.8).

The reference normalizes LLM SQL to DuckDB before executing
(reference api/main.py:535-626 rules D1-D8; gate at 119-123,287-294; LIMIT
injection at 296-300; retry at 309-329). Same pipeline here, targeting
Spark SQL:

- dialect rewrites (GETDATE/NOW → current_timestamp, DATEADD → INTERVAL,
  TOP → LIMIT, ISNULL/NVL → coalesce, IIF → CASE WHEN, CONVERT → CAST,
  == → =)
- SELECT-only extraction (keep the last statement; tolerate WITH)
- safety gate: must start with SELECT/WITH, no DML/DDL tokens — plus a
  plan-level check that parses with Spark and rejects any non-query command
  node (defense in depth the reference couldn't do)
- row-limit injection (LIMIT 200 unless the outermost operator is a LIMIT)
- execute with one retry

Unlike the reference we do NOT strip backticks: Spark SQL uses backticks as
identifier quotes (reference api/main.py:622 note in SURVEY D7).
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

DEFAULT_ROW_LIMIT = 200  # reference ASK_AI_SQL_LIMIT, api/main.py:1343

_SANITIZE_RULES: list[tuple[str, str]] = [
    # D1: now-functions → current_timestamp, case-insensitive like the
    # reference's now()/current_date() handling (api/main.py:537-539)
    (r"(?i)\bGETDATE\s*\(\s*\)", "current_timestamp()"),
    (r"(?i)\bNOW\s*\(\s*\)", "current_timestamp()"),
    (r"(?i)\bCURRENT_DATE\s*\(\s*\)", "current_date()"),
    # D3: SELECT TOP n → SELECT (limit re-added below; api/main.py:546-547)
    (r"(?i)SELECT\s+TOP\s+(\d+)\s", r"SELECT "),
    (r"(?i)\bOFFSET\s+0\s+ROWS?\b", ""),
    # D4: ISNULL / NVL → coalesce (api/main.py:549,555)
    (r"(?i)\bISNULL\s*\(", "coalesce("),
    (r"(?i)\bNVL\s*\(", "coalesce("),
    # D5: IIF → CASE WHEN (api/main.py:551)
    (
        r"(?i)\bIIF\s*\(([^,]+),\s*([^,]+),\s*([^)]+)\)",
        r"CASE WHEN \1 THEN \2 ELSE \3 END",
    ),
    # D6: CONVERT(date, x) → CAST(x AS DATE) (api/main.py:553)
    (r"(?i)\bCONVERT\s*\(\s*date\s*,\s*([^)]+)\)", r"CAST(\1 AS DATE)"),
    # D7: ==/=== → = (api/main.py:557)
    (r"(?<![=!<>])==+(?!=)", "="),
]

_SELECT_ONLY_RE = re.compile(r"(?is)((?:with\s+.+?\)\s*)?\s*select\s+.+)$")
_SAFE_START_RE = re.compile(r"(?is)^\s*(select|with)\b")
_FORBIDDEN_PATTERNS = (
    r"(?i)\b(insert|update|delete|drop|alter|truncate|create|attach|detach|copy|load)\b",
    r";\s*--",
)


def _rewrite_dateadd(sql: str) -> str:
    """D2: DATEADD(part, n, d) → (CAST(d AS DATE) ± INTERVAL 'n' unit),
    quarter → 3× months (reference api/main.py:600-616)."""

    def repl(m: re.Match) -> str:
        unit = m.group(1).lower()
        val = int(m.group(2))
        expr = m.group(3).strip()
        if unit.startswith("quarter"):
            months = val * 3
            unit_name = "MONTH"
            n = months
        elif unit.startswith("month"):
            unit_name, n = "MONTH", val
        else:
            unit_name, n = "DAY", val
        sign = "-" if n < 0 else "+"
        return f"(CAST({expr} AS DATE) {sign} INTERVAL '{abs(n)}' {unit_name})"

    return re.sub(
        r"(?i)\bdateadd\s*\(\s*'?(quarter|month|day)'?\s*,\s*(-?\d+)\s*,\s*([^)]+?)\s*\)",
        repl,
        sql,
    )


def extract_select_only(sql: Optional[str]) -> Optional[str]:
    """D8: keep only the final SELECT (or WITH…SELECT) statement
    (reference api/main.py:560-578)."""
    if not sql:
        return None
    cand = sql.strip()
    if ";" in cand:
        tail = cand.rsplit(";", 1)[-1].strip()
        cand = tail or cand
    m = _SELECT_ONLY_RE.search(cand)
    if m:
        return m.group(1).strip()
    for chunk in reversed(re.split(r";\s*", sql)):
        mm = _SELECT_ONLY_RE.search(chunk)
        if mm:
            return mm.group(1).strip()
    return None


def sanitize_sql(sql: str, table: str = "sales") -> str:
    """Apply D1-D7 dialect rewrites targeting Spark SQL."""
    s = sql
    s = _rewrite_dateadd(s)
    for pat, repl in _SANITIZE_RULES:
        s = re.sub(pat, repl, s)
    # table-name repair (reference api/main.py:622-625)
    if table != "sales_data":
        s = re.sub(r"(?i)\bFROM\s+sales_data\b", f"FROM {table}", s)
    return s


def is_safe_select(sql: str) -> tuple[bool, str]:
    """D9: SELECT-only + forbidden-token gate (reference api/main.py:287-294)."""
    s = (sql or "").strip()
    if not _SAFE_START_RE.match(s):
        return False, "only SELECT statements are allowed"
    for pat in _FORBIDDEN_PATTERNS:
        if re.search(pat, s):
            return False, f"forbidden token matched: {pat}"
    return True, "OK"


def plan_is_query(spark: SparkSession, sql: str) -> bool:
    """Defense in depth: parse with Spark and reject command/DML plans.

    The reference can only regex-gate text (api/main.py:287-294); with
    Catalyst we additionally confirm the *parsed logical plan* contains no
    Command nodes (CreateTable, InsertInto, SetCommand, ...)."""
    try:
        plan = (
            spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        )
    except Exception:
        return False
    name = plan.getClass().getSimpleName()
    bad = ("Command", "Insert", "Delete", "Update", "Merge", "Create", "Drop")
    return not any(b in name for b in bad)


# string literals, quoted identifiers and comments: text in which a
# LIMIT keyword is not the statement's own clause
_OPAQUE_RE = re.compile(
    r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|`[^`]*`|--[^\n]*|/\*.*?\*/", re.S
)


def _has_outer_limit(sql: str) -> bool:
    """Whether the outermost operator is a LIMIT: a ``LIMIT n`` outside
    every parenthesis (subquery, CTE body, set-operation branch), string
    literal, quoted identifier and comment. Spark's grammar admits such a
    clause only at the end of the outermost query."""
    depth = 0
    for m in re.finditer(r"[()]|\blimit\s+\d+\b", _OPAQUE_RE.sub(" ", sql), re.I):
        if m.group() == "(":
            depth += 1
        elif m.group() == ")":
            depth -= 1
        elif depth == 0:
            return True
    return False


def ensure_limit(sql: str, limit: int = DEFAULT_ROW_LIMIT) -> str:
    """O6: cap the result at ``limit`` rows unless the outermost operator
    is already a LIMIT (reference api/main.py:296-300)."""
    if _has_outer_limit(sql):
        return sql
    body = sql.rstrip().rstrip(";")
    # a line comment on the last line would swallow a LIMIT on that line
    sep = "\n" if "--" in body.rsplit("\n", 1)[-1] else " "
    return f"{body}{sep}LIMIT {limit}"


def run_safe_sql(
    spark: SparkSession,
    sql: str,
    table: str = "sales",
    limit: int = DEFAULT_ROW_LIMIT,
) -> DataFrame:
    """Full pipeline: extract → sanitize → gate → limit → execute with one
    retry (reference api/main.py:309-329,1336-1388)."""
    stmt = extract_select_only(sql)
    if stmt is None:
        raise ValueError("no SELECT statement found")
    stmt = sanitize_sql(stmt, table=table)
    ok, why = is_safe_select(stmt)
    if not ok:
        raise ValueError(f"unsafe SQL rejected: {why}")
    if not plan_is_query(spark, stmt):
        raise ValueError("unsafe SQL rejected: plan contains command nodes")
    stmt = ensure_limit(stmt, limit)
    try:
        return spark.sql(stmt)
    except Exception as e1:
        # D10: one guided retry with an error-hint comment — harmless to the
        # engine but it lands in the executed-SQL logs/plan description, the
        # same contract as the reference (api/main.py:324-326). The comment,
        # not a re-sanitize, is the retry: sanitize_sql is idempotent, so
        # re-running it would produce byte-identical SQL.
        # Spark exception messages are routinely multi-line; collapse all
        # whitespace so nothing after the first newline escapes the `--`
        # comment and gets parsed as bare SQL (masking the original error).
        hint = " ".join(str(e1).split())[:200]
        hinted = (
            f"{stmt}\n-- RETRY after: {hint}"
            "\n-- Tip: prefer INTERVAL and date_trunc() in Spark SQL"
        )
        return spark.sql(hinted)
