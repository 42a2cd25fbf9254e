"""Sales CSV sources + normalization layer (SURVEY §2.1 S1-S5).

Reproduces the reference's schema-on-read pipeline (reference
api/main.py:179-235): scan the raw CSV, introspect the header, and project
into the canonical lower-snake schema

    date DATE, product STRING, region STRING, sales DOUBLE,
    age INT, gender STRING, satisfaction DOUBLE

with a headerless positional fallback (api/main.py:220-231) and a
logical→physical synonym resolver (``_col``, api/main.py:1004-1024).

Scale design: we read the CSV as STRINGS with an explicit schema and cast
in the projection — never ``inferSchema=True``, which costs a full extra
pass over the data (at 100 TB, a second 100 TB scan). Casts are Catalyst
``try_cast`` expressions inside whole-stage codegen: malformed values
yield NULL rather than failing the job (ANSI mode makes plain CAST throw;
the reference's DuckDB path gets numeric columns from the CSV sniffer, so
try_cast is the semantic match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# canonical projection: name -> (spark type, raw header the reference expects)
CANONICAL = (
    ("date", "date", "Date"),
    ("product", "string", "Product"),
    ("region", "string", "Region"),
    ("sales", "double", "Sales"),
    ("age", "int", "Customer_Age"),
    ("gender", "string", "Customer_Gender"),
    ("satisfaction", "double", "Customer_Satisfaction"),
)

# logical -> physical synonym table (reference api/main.py:1010-1017)
SYNONYMS: dict[str, list[str]] = {
    "date": ["date", "dt", "day", "order_date", "week", "week_start", "week_ending"],
    "region": ["region", "state", "area", "market"],
    "product": ["product", "product_name", "sku", "item"],
    "sales": ["sales", "revenue", "amount", "total_sales", "weekly_sales"],
    "satisfaction": ["satisfaction", "csat", "nps", "customer_satisfaction"],
    "age": ["age", "customer_age", "age_years"],
}


def resolve_column(columns: list[str], *cands: str) -> str:
    """Logical→physical column resolution over an actual schema — exact
    match first, then the synonym table (reference ``_col``,
    api/main.py:1004-1024). Returns "" when unresolvable."""
    lower = {c.lower(): c for c in columns}
    for cand in cands:
        if cand.lower() in lower:
            return lower[cand.lower()]
    for cand in cands:
        for alt in SYNONYMS.get(cand.lower(), ()):
            if alt in lower:
                return lower[alt]
    return ""


def _string_schema(names: list[str]) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


def _read_header(spark: SparkSession, path: str) -> list[str]:
    """Column names from the first line only (S3 schema introspection —
    the Spark analogue of ``PRAGMA table_info``; reads one line, not the
    file)."""
    first = spark.read.text(path).limit(1).collect()
    if not first:
        return []
    return [c.strip() for c in first[0][0].split(",")]


def load_sales_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2/S4: scan + normalize into the canonical sales schema.

    Header path: all seven expected raw headers present (case-insensitive,
    reference api/main.py:204-206) → project/cast/rename. Otherwise the
    positional col0..col6 fallback (api/main.py:220-231).
    """
    header = _read_header(spark, path)
    lower = {c.lower() for c in header}
    expected = {raw.lower() for _, _, raw in CANONICAL}
    if expected <= lower:
        raw = spark.read.option("header", True).csv(
            path, schema=_string_schema(header)
        )
        cols = [
            F.col(resolve_column(header, raw_name)).try_cast(typ).alias(name)
            for name, typ, raw_name in CANONICAL
        ]
        return raw.select(*cols)
    names = [f"col{i}" for i in range(len(CANONICAL))]
    raw = spark.read.option("header", False).csv(path, schema=_string_schema(names))
    return raw.select(
        *[
            F.col(f"col{i}").try_cast(typ).alias(name)
            for i, (name, typ, _) in enumerate(CANONICAL)
        ]
    )


def normalize_any_sales(df: DataFrame) -> DataFrame:
    """Normalize an arbitrary sales-shaped frame via the synonym resolver —
    the schema-on-read semantic layer for non-canonical headers
    (``weekly_sales``/``week_ending``-style files)."""
    cols = []
    for name, typ, _ in CANONICAL:
        phys = resolve_column(df.columns, name)
        cols.append(
            (F.col(phys) if phys else F.lit(None)).try_cast(typ).alias(name)
        )
    return df.select(*cols)


def etl_load_csv(spark: SparkSession, path: str) -> DataFrame:
    """S5: the ETL loader (reference etl/run.py:11-18) — strip/underscore
    headers, parse the first date-ish column (coerce→NULL), sort by it."""
    header = _read_header(spark, path)
    cleaned = [c.strip().replace(" ", "_") for c in header]
    df = spark.read.option("header", True).csv(path, schema=_string_schema(cleaned))
    date_col = next((c for c in cleaned if "date" in c.lower()), None)
    if date_col:
        df = df.withColumn(date_col, F.try_to_date(date_col)).orderBy(date_col)
    return df

