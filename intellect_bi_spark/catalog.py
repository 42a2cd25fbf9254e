"""Table catalog: the TPC-H-ish fixture tables plus the derived ``sales`` view.

The reference engine computes over one canonical ``sales`` fact table
(reference api/main.py:179-235 builds it as a normalized DuckDB view; schema
documented at api/main.py:182-185: date, product, region, sales, age, gender,
satisfaction).  The driver fixtures are a TPC-H-ish star schema, so we derive
a reference-shaped ``sales`` view from lineitem⋈part⋈supplier⋈nation⋈region
with deterministic arithmetic — the SAME SQL text runs in Spark and in the
DuckDB oracle, so parity is by construction.

Scale notes (100 TB design): the view is a star join on the fact table;
``part``/``supplier``/``nation``/``region`` are dimension tables that Spark
auto-broadcasts (AQE dynamic broadcast under the threshold; the explicit
hint below makes it unconditional).  The fact scan prunes columns via
Catalyst — queries over the view only read the lineitem columns they use.

The cached tier: when ``lineitem`` is at most ``_CACHE_MAX_BYTES`` of
parquet, the view is held in-process (as the reference holds its table,
api/main.py:190) as ONE materialized row relation: the join runs once, at
build, through ``localCheckpoint(eager=True)`` at its default level
(deserialized rows, MEMORY_AND_DISK).  Every plan that reads ``sales`` or
``sales_txn`` then has a single ``LogicalRDD`` leaf.  Against Spark's
columnar table cache (``df.cache()``) this is measured faster in two
places (sf0.1-shaped fixture, 2 task threads on a 4-vCPU host):

- executor time: grouped aggregates read rows instead of copying string
  values out of column vectors, e.g. a region group-by 226 → 171 ms and
  a region-filtered monthly trend 252 → 166 ms (a serialized row level
  was slower than either: 423 and 378 ms);
- plan size: an ``InMemoryRelation`` prints the whole cached plan (the
  five-way join and its AQE plans) into every plan string that reads it,
  and Spark renders that string for each SQL execution; the same
  monthly-trend plan is 27,219 characters over the columnar cache and
  2,110 over the row relation.

The price is memory: the rows take 8.2× the ``lineitem`` parquet bytes
(measured at sf0.01 and sf0.1), the columnar cache 1.4–1.6×.  A local
checkpoint is not recomputed: if an executor holding its blocks is lost,
a query over the view fails with an error; it never reads stale or
partial rows.  Above the size guard (the 100 TB path) the view stays a
lazy star join over the parquet scan.
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

from .session import tune_session

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Deterministic reference-shaped fact view (api/main.py:182-185 schema).
# ANSI SQL, valid in both Spark SQL and DuckDB. Synthetic age / gender /
# satisfaction are pure integer arithmetic on keys => identical in both
# engines; satisfaction has NULLs to exercise IS NOT NULL paths
# (reference api/main.py:1115). All doubles carry exactly 2 decimal digits
# so DECIMAL-based aggregation (functions/numeric.py) is lossless.
#
# Year-granularity trends (FIXTURES.md coverage note: "at least one region
# whose sales trend up while satisfaction trends down"): North and East get
# sales +500/yr and satisfaction −0.05/yr; every other region gets
# satisfaction +0.05/yr — so the region-divergence query deterministically
# returns {North, East} at every scale factor.
SALES_SELECT_SQL = """
SELECT
  CAST(l.l_shipdate AS DATE)                                    AS date,
  p.p_brand                                                     AS product,
  CASE r.r_name
    WHEN 'AFRICA' THEN 'North'
    WHEN 'AMERICA' THEN 'South'
    WHEN 'ASIA' THEN 'East'
    WHEN 'EUROPE' THEN 'West'
    ELSE 'Central'
  END                                                           AS region,
  l.l_extendedprice
    + CAST((EXTRACT(YEAR FROM l.l_shipdate) - 1995) * 500
           * (CASE WHEN r.r_name IN ('AFRICA', 'ASIA') THEN 1 ELSE 0 END)
           AS DOUBLE)                                           AS sales,
  CAST(18 + (l.l_partkey % 48) AS INT)                          AS age,
  CASE WHEN l.l_suppkey % 2 = 0 THEN 'Male' ELSE 'Female' END   AS gender,
  CASE WHEN l.l_orderkey % 7 = 0 THEN CAST(NULL AS DOUBLE)
       ELSE CAST(1.5 + CAST(l.l_orderkey % 201 AS DOUBLE) / 100.0
                 + CAST((EXTRACT(YEAR FROM l.l_shipdate) - 1995)
                        * (CASE WHEN r.r_name IN ('AFRICA', 'ASIA')
                           THEN -5 ELSE 5 END) AS DOUBLE) / 100.0
            AS DOUBLE)
  END                                                           AS satisfaction
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
"""


# Per-(session, sf_dir) cache of registered DataFrames. The reference keeps
# one lazily-built engine per process (api/main.py:160,190); same idea —
# schema reads and view registration happen once, every query after that is
# purely lazy plan construction.
_CATALOG_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}
# Concurrent driver threads (erasure_e2e chains, bench staging pool)
# populate these plain-dict caches; a lock makes the build-and-insert
# atomic so racing threads cannot each build and one lose the entry
# (ADVICE r15).  Building under the lock is fine: contention is one-time
# per key, and the longest build, a cache-sized sales view's
# materialization, is one job of a few seconds at sf0.1.
# RLock: the sales-view build holds the lock across its load_tables
# call, which re-enters it.
_CATALOG_LOCK = threading.RLock()


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture parquet and register temp views named after tables.

    Idempotent and cheap (lazy scans, memoized per session+dir). At 100 TB
    the same call points at a partitioned table root; partition pruning and
    predicate pushdown apply unchanged because all downstream plans are
    declarative.
    """
    key = (id(spark), sf_dir)
    cached = _CATALOG_CACHE.get(key)
    if cached is not None:
        return cached
    with _CATALOG_LOCK:
        cached = _CATALOG_CACHE.get(key)
        if cached is not None:
            return cached
        tune_session(spark)
        dfs: dict[str, DataFrame] = {}
        for name in TABLE_NAMES:
            dfs[name] = _read_table(spark, sf_dir, name)
            dfs[name].createOrReplaceTempView(name)
        _CATALOG_CACHE[key] = dfs
        return dfs


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Native parquet scan (pushdown/pruning intact), tolerating NANOS
    timestamps, which Spark's reader rejects by default: read them as BIGINT
    (``nanosAsLong``) and convert to microsecond timestamps in-plan —
    matching DuckDB's ns→µs truncation."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    enable_nanos_as_long(spark)
    df = spark.read.parquet(path)
    from pyspark.sql import functions as F  # local import: keep module light

    for field in ns_cols:
        df = df.withColumn(
            field, F.timestamp_micros(F.expr(f"`{field}` DIV 1000"))
        )
    return df


def _nanos_columns(path: str) -> list[str]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def enable_nanos_as_long(spark: SparkSession) -> None:
    """The ONE owner of the ``spark.sql.legacy.parquet.nanosAsLong``
    switch (ADVICE r4: the flag was flipped from two call sites). The
    setting is session-global and deliberately left on once enabled: it
    only changes how ``timestamp[ns]`` physical columns surface (as
    BIGINT, which every reader here immediately converts ns→µs in-plan),
    and plain µs/ltz parquet timestamps are unaffected — so leaving it
    enabled is safe for all subsequent reads, while toggling it around
    individual reads would race with lazy plan execution. Callers:
    :func:`_read_table` and ``streaming.events.read_events_stream``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    df = _read_table(spark, sf_dir, name)
    df.createOrReplaceTempView(name)
    return df


def spread_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Redistribute a DataFrame whose physical partition count is far below
    the session's parallelism; identity otherwise.

    The fixtures are single-file single-row-group parquet, so scans (and
    any narrow pipeline on top — filters, projections, partial aggregates,
    shuffle-map sides) execute as ONE task while the other 31 cores idle.
    The guard keys on the actual planned partition count, so on a real
    cluster — where a 100 TB table scans as thousands of splits — this is
    an identity and the plan keeps map-side partial aggregation with no
    extra exchange. Only degenerate layouts (few huge unsplittable files)
    pay the one redistribution shuffle, which is exactly the case where
    it's worth it.
    """
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, n // 2):
        return df.repartition(n)
    return df


# The reference advertises an OPTIONAL ``transaction_value`` column to the
# LLM (api/main.py:789) and its metric resolution prefers it over ``sales``
# whenever the active dataset carries it (api/main.py:376,1010-1017); its
# bundled demo CSV does NOT have the column, so the canonical ``sales``
# view above stays without it. This variant is the "dataset WITH the
# optional column" case: transaction_value is the discounted line price —
# deterministic arithmetic on exact-2-decimal inputs, so the product is an
# exact 4-decimal value and DECIMAL(38,4) aggregation is lossless (the
# same proven expression q1's sum_disc_price aggregates).
TXN_SALES_SELECT_SQL = SALES_SELECT_SQL.replace(
    "\nFROM lineitem l",
    ",\n  l.l_extendedprice * (1 - l.l_discount)"
    "                        AS transaction_value\nFROM lineitem l",
    1,
)

_SALES_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-shaped ``sales`` fact view (see module docstring).

    Dimensions are broadcast: at any scale factor part/supplier/nation/region
    are tiny relative to lineitem, so the star join is four broadcast-hash
    joins with zero shuffle of the fact table.
    """
    return _build_sales_view(spark, sf_dir, SALES_SELECT_SQL, "sales")


def sales_with_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``sales`` view WITH the optional ``transaction_value`` column
    (see TXN_SALES_SELECT_SQL) — the dataset shape where the reference's
    metric resolution switches every sales-metric template onto
    transaction_value (api/main.py:376)."""
    return _build_sales_view(spark, sf_dir, TXN_SALES_SELECT_SQL, "sales_txn")


def _build_sales_view(
    spark: SparkSession, sf_dir: str, select_sql: str, view_name: str
) -> DataFrame:
    key = (id(spark), sf_dir, view_name)
    cached = _SALES_CACHE.get(key)
    if cached is not None:
        return cached
    with _CATALOG_LOCK:
        cached = _SALES_CACHE.get(key)
        if cached is not None:
            return cached
        return _do_build_sales_view(spark, sf_dir, select_sql, view_name, key)


def _do_build_sales_view(
    spark: SparkSession,
    sf_dir: str,
    select_sql: str,
    view_name: str,
    key: tuple[int, str, str],
) -> DataFrame:
    tables = load_tables(spark, sf_dir)
    cache_sized = _fact_bytes(sf_dir) <= _CACHE_MAX_BYTES
    sql = select_sql.replace(
        # Broadcast hint on all dimension sides; fact table streams through.
        "SELECT", "SELECT /*+ BROADCAST(p, s, n, r) */", 1
    )
    if cache_sized:
        # Build the cached view from a spread fact scan: the broadcast
        # joins preserve their input partitioning, so without this both
        # the one-off materialization AND every later aggregate over the
        # materialized rows would run single-task on the fixtures' single-file
        # layout (see spread_scan). Results are partition-independent
        # (exact-decimal aggregation; tests/test_parity.py robustness).
        spread_scan(spark, tables["lineitem"]).createOrReplaceTempView(
            "lineitem_spread"
        )
        sql = sql.replace("FROM lineitem l", "FROM lineitem_spread l")
    df = spark.sql(sql)
    # A cache-sized view is materialized here, once, as rows (see the
    # module docstring). This runs before anything below binds a name or
    # a cache entry, so a build that fails leaves nothing behind.
    if cache_sized:
        df = df.localCheckpoint(eager=True)
    df.createOrReplaceTempView(view_name)
    # the shared name is rebound by a build for another sf_dir; statements
    # read the frame through a name of its own (see sql_over)
    own = f"_{view_name}_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(own)
    _VIEW_NAMES[id(df)] = own
    _SALES_CACHE[key] = df
    return df


# temp-view name of each frame the catalog built, by id (the frames stay
# alive in _SALES_CACHE, so an id is never reused)
_VIEW_NAMES: dict[int, str] = {}


def sql_over(
    spark: SparkSession, sql: str, args: dict, **frames: DataFrame
) -> DataFrame:
    """``spark.sql(sql, args=args)`` with each ``{name}`` in ``sql`` reading
    the frame ``frames[name]``: a catalog-built frame through its own temp
    view, any other frame through spark.sql's DataFrame kwargs, which
    register and drop a temp view per call (measured 25-35 ms more per
    statement)."""
    names = {k: _VIEW_NAMES.get(id(f)) for k, f in frames.items()}
    if all(names.values()):
        return spark.sql(sql.format(**names), args=args)
    return spark.sql(sql, args=args, **frames)


# Largest lineitem parquet whose sales view is materialized. The rows
# take 8.2x the parquet bytes (sf0.01 and sf0.1), so 384 MiB of parquet
# holds at most ~3.1 GiB: the ceiling of the columnar cache this tier
# replaced, which took 1.4-1.6x under a 2 GiB guard.
_CACHE_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_CACHE_MAX_BYTES", 384 * 1024**2)
)


def _fact_bytes(sf_dir: str) -> int:
    try:
        return os.path.getsize(os.path.join(sf_dir, "lineitem.parquet"))
    except OSError:
        return 1 << 62


def sales_cte(body: str) -> str:
    """Wrap an oracle query body with the shared ``sales`` view as a CTE."""
    return f"WITH sales AS ({SALES_SELECT_SQL})\n{body}"


def sales_txn_cte(body: str) -> str:
    """Like :func:`sales_cte` but exposing the transaction_value-bearing
    variant as ``sales_txn``."""
    return f"WITH sales_txn AS ({TXN_SALES_SELECT_SQL})\n{body}"
