"""Mergeable-sketch rollups (Apache DataSketches HLL) — 100 TB extension.

The pattern every petabyte warehouse runs on: COUNT(DISTINCT) does not
decompose over pre-aggregation (daily distincts don't sum to monthly),
so the rollup table stores a MERGEABLE SKETCH per grain cell instead of
a number. Spark 3.5+ ships the DataSketches HLL family natively:
``hll_sketch_agg`` builds the per-cell sketch, ``hll_union_agg`` merges
cells at query time, ``hll_sketch_estimate`` reads the estimate — so a
100 TB fact table is scanned ONCE to build the rollup, and every
coarser-grain distinct-count query runs off the tiny sketch table.

Verification follows the engine's self-checking-sketch rule
(relational.approx_distinct_counts): sketch internals are
engine-specific, so the registry row emits the EXACT values plus
in-bounds flags comparing the merged-sketch estimate against the exact
distinct computed in the same query — the flags' oracle is literal 1,
everything else exact. The mergeability property itself (union of
per-type sketches == sketch of the union) is locked by a unit test.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..catalog import load_tables

# lgConfigK=14 → relative standard error ~0.8%, so the 6% band is ~7.3σ
# PER DAY: the query emits one in-bounds flag per day, and with hundreds
# of independent daily flags the JOINT tail at the default lgK=12 (3.7σ
# → ~2e-4/day) would accumulate to a real flake probability at larger
# scale factors. At 7.3σ the joint risk stays negligible at
# any day count this engine will ever see. The ±3 absolute slack covers
# tiny groups where a 6% band is below one unit.
_HLL_LGK = 14
_REL_BOUND = 0.06
_ABS_SLACK = 3


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events a user-distinct sketch counts: user and time set."""
    return load_tables(spark, sf_dir)["events"].filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )


def _in_bounds(est: str, exact: str):
    """The sketch self-check: estimate ``est`` within the relative
    bound, or the absolute slack, of the exact distinct ``exact``."""
    return F.abs(F.col(est) - F.col(exact)) <= F.greatest(
        F.col(exact) * F.lit(_REL_BOUND), F.lit(_ABS_SLACK)
    )


def _exact_users(ev: DataFrame) -> DataFrame:
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )


def _checked(
    served: DataFrame,
    exact: DataFrame,
    tele: DataFrame | None = None,
    *cols: str,
) -> DataFrame:
    """A store row's checked result: the served per-type estimates
    joined to the exact distincts, the in-bounds flag (oracle: literal
    1) and the ``cols`` of the one-row ``tele``, checkpointed so the
    store can be deleted before the caller's action."""
    out = served.join(exact, "event_type")
    if tele is not None:
        out = out.crossJoin(F.broadcast(tele))
    return (
        out.select(
            "event_type",
            "n_events",
            "exact_users",
            F.when(_in_bounds("est", "exact_users"), 1)
            .otherwise(0)
            .cast("int")
            .alias("store_in_bounds"),
            *cols,
        )
        .orderBy("event_type")
        .localCheckpoint(eager=True)
    )


_EV_NOT_NULL = " WHERE user_id IS NOT NULL AND ts IS NOT NULL"


def _sketch_oracle(
    where: str = "", tele: str = "", cols: str = "", src: str = "base"
) -> str:
    """A store row's oracle: the exact per-type accounting of the
    ``src`` rows ``where`` keeps (``base``: the CTE of the events
    :func:`_events` keeps), the in-bounds flag as literal 1, and the
    ``cols`` of the one-row CTE ``tele`` (``name AS (...)``)."""
    ctes = [tele] if tele else []
    if src == "base":
        ctes.insert(0, f"base AS (SELECT * FROM events{_EV_NOT_NULL})")
    name = tele.split(" ", 1)[0]
    return (
        (f"WITH {', '.join(ctes)} " if ctes else "")
        + "SELECT event_type, COUNT(*) AS n_events,"
        " COUNT(DISTINCT user_id) AS exact_users,"
        " CAST(1 AS INT) AS store_in_bounds"
        + (f", {cols}" if cols else "")
        + f" FROM {src}"
        + (f", {name}" if tele else "")
        + where
        + " GROUP BY event_type"
        + (f", {cols}" if tele else "")
        + " ORDER BY event_type"
    )


def user_sketch_rollup(ev: DataFrame) -> DataFrame:
    """The maintained rollup table: one HLL sketch of user_id + exact row
    count per (day, event_type) cell. At 100 TB this is the only pass
    over the raw fact; everything below queries this table."""
    return ev.groupBy(
        F.expr("CAST(ts AS DATE)").alias("day"), "event_type"
    ).agg(
        F.expr(f"hll_sketch_agg(user_id, {_HLL_LGK})").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )


def sketch_rollup_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users from MERGED per-(day, type) sketches,
    self-checked against the exact distinct computed in the same query.
    A green row proves the rollup→merge→estimate path lands within the
    sketch's error bound on every day while the exact columns hash-match
    the oracle."""
    ev = _events(spark, sf_dir)
    daily = (
        user_sketch_rollup(ev)
        .groupBy("day")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
            F.sum("n_events").alias("n_events"),
        )
    )
    exact = ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        daily.join(exact, "day")
        .select(
            "day",
            "n_events",
            "exact_users",
            F.when(_in_bounds("est", "exact_users"), 1)
            .otherwise(0)
            .cast("int")
            .alias("sketch_in_bounds"),
        )
        .orderBy("day")
    )


_SK_ROOT = "rollup"  # immutable day-sorted sketch segments
_SK_CELL_SCHEMA = (
    "day date, event_type string, sk binary, n_events bigint, day_part string"
)


def _rollup_cells(ev: DataFrame) -> DataFrame:
    return user_sketch_rollup(ev).withColumn(
        "day_part", F.col("day").cast("string")
    )


def _write_sketch_segment(
    path: str, cells: DataFrame
) -> tuple[str, list[str]]:
    """Write one immutable rollup segment and return (segment id, the
    days it holds).  The value column is ``day_part``, the calendar
    day as a string: each day's cells lie in one file of the segment,
    and the manifest JSON round-trips the day strings unchanged."""
    seg = store._new_seg_id()
    return seg, store._write_segment(
        cells, f"{path}/{_SK_ROOT}", seg, pcol="day_part"
    )


def _init_sketch_store(
    ev: DataFrame, path: str, bid: int | None = None
) -> None:
    """First write of the VERSIONED sketch store: one day-sorted
    segment + the v=1 manifest pinning exactly its day cells (the
    rollup carries no lexicon/stats twin — serve is a pure union over
    the pinned cells, so the manifest is the only versioned
    metadata)."""
    seg, days = _write_sketch_segment(path, _rollup_cells(ev))
    store._publish_manifest(
        ev.sparkSession, path, 1, [(seg, d) for d in days], bid=bid
    )


def build_sketch_rollup_store(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """One fact scan → the manifest-pinned, day-sorted HLL rollup
    store (the build half of :func:`sketch_rollup_store`, so bench.py's
    ``sketch_rollup_serve_only`` metric can build once untimed and time
    only the serving path, as the ann/bm25 serve-only metrics do)."""
    _init_sketch_store(_events(spark, sf_dir), path)


def serve_sketch_rollup_from_store(
    spark: SparkSession, path: str, v: int | None = None
) -> DataFrame:
    """The production query path: read exactly the day cells the
    latest (or a pinned ``v``'s) manifest references and merge to
    per-type distinct-user estimates — no fact scan, and no visibility
    of any concurrent mutation's segments (a reader pinned at v
    mid-erasure sees the complete pre-delete rollup).
    This exact composition is what ``sketch_rollup_store`` self-checks
    against the exact recompute, so the timed path and the verified
    path cannot drift."""
    if v is None:
        v = store._latest_version(spark, path)
    cells = store._read_segments(
        spark,
        f"{path}/{_SK_ROOT}",
        store._manifest_entries(spark, path, v),
        _SK_CELL_SCHEMA,
        pcol="day_part",
    )
    return cells.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.sum("n_events").alias("n_events"),
    )


def sketch_rollup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of the rollup: the
    per-(day, event_type) HLL sketch table is WRITTEN to parquet
    (segment files sorted by day, sketch bytes as a binary column),
    read BACK from the store, and the per-type distinct-user estimates
    are merged from the STORED bytes — proving DataSketches HLL blobs
    survive the parquet write/read cycle and stay mergeable, the
    property the one-scan-then-query-the-rollup architecture rests on.
    Mirrors the interchange-roundtrip pattern (roundtrip.py): the oracle
    never sees the store; exact columns hash-match, the in-bounds flag's
    oracle is literal 1 (self-checking-sketch rule).

    The re-read aggregate is localCheckpointed (bounded: one row per
    event type) so the temp store can be deleted before returning —
    same lifecycle discipline as streamops.events_stream_store."""
    ev = _events(spark, sf_dir)
    with tempfile.TemporaryDirectory(
        prefix="sgraft_sketch_store_", ignore_cleanup_errors=True
    ) as tmp:
        build_sketch_rollup_store(spark, sf_dir, tmp)
        return _checked(
            serve_sketch_rollup_from_store(spark, tmp), _exact_users(ev)
        )


# KLL rank-error at the default k=200 is ~1.65% (two-sided, 99%
# confidence); 6% rank slack is far outside it and also covers the
# probability mass sitting exactly on the returned element.
_RANK_SLACK = 0.06


def value_sketch_rollup(ev: DataFrame) -> DataFrame:
    """The quantile half of the rollup table: one KLL sketch of the cent
    value per (day, event_type) cell — quantiles, like distinct counts,
    do not decompose over pre-aggregation, and KLL is the mergeable
    answer (same DataSketches family, kll_sketch_merge_* at query
    time)."""
    return ev.groupBy(
        F.expr("CAST(ts AS DATE)").alias("day"), "event_type"
    ).agg(
        F.expr(
            "kll_sketch_agg_bigint(CAST(ROUND(value * 100) AS BIGINT))"
        ).alias("sk")
    )


def sketch_rollup_value_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type median value from MERGED per-(day, type) KLL sketches,
    self-checked two ways in the same query: the EXACT discrete median
    (percentile_disc — an actual data element in integer cents, so it
    hash-matches DuckDB's quantile_disc), and a rank check that the
    sketch's estimated median sits within rank 0.5 ± slack of the true
    distribution. Exact columns oracle-matched; the flag's oracle is
    literal 1 (the self-checking-sketch rule)."""
    ev = load_tables(spark, sf_dir)["events"].filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    # kll_merge_agg_bigint is KLL's aggregate union — the direct
    # analogue of hll_union_agg (the two-sketch scalar
    # kll_sketch_merge_bigint also exists, but an aggregate needs no
    # collect_list fold)
    merged = (
        value_sketch_rollup(ev)
        .groupBy("event_type")
        .agg(
            F.expr(
                "kll_sketch_get_quantile_bigint("
                "kll_merge_agg_bigint(sk), 0.5)"
            ).alias("est")
        )
    )
    cents = "CAST(ROUND(value * 100) AS BIGINT)"
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            f"CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY {cents})"
            " AS BIGINT)"
        ).alias("exact_p50_cents"),
    )
    # exact MIDRANK of the sketch's estimate, computed against the raw
    # rows (est is a tiny per-type frame — broadcast back into one
    # scan). Midrank (P(X<est) + P(X<=est)) / 2, not P(X<=est): a
    # probability atom sitting exactly on the returned element would
    # otherwise push the plain CDF past the slack band even when the
    # sketch answered EXACTLY right (discrete cents make atoms likely)
    ranked = (
        ev.join(F.broadcast(merged), "event_type")
        .groupBy("event_type")
        .agg(
            (
                (
                    F.avg(
                        F.expr(
                            f"CASE WHEN {cents} < est THEN 1.0"
                            " ELSE 0.0 END"
                        )
                    )
                    + F.avg(
                        F.expr(
                            f"CASE WHEN {cents} <= est THEN 1.0"
                            " ELSE 0.0 END"
                        )
                    )
                )
                / 2
            ).alias("est_rank")
        )
    )
    in_bounds = (
        (F.col("est_rank") >= 0.5 - _RANK_SLACK)
        & (F.col("est_rank") <= 0.5 + _RANK_SLACK)
    )
    return (
        exact.join(ranked, "event_type")
        .select(
            "event_type",
            "n_events",
            "exact_p50_cents",
            F.when(in_bounds, 1).otherwise(0).cast("int").alias(
                "sketch_rank_in_bounds"
            ),
        )
        .orderBy("event_type")
    )


# --- Heavy hitters (frequent-items sketch) ------------------------------------

_HH_K = 20
_HH_FETCH = 200  # probe window: wide enough that arbitrary tie-breaking
# inside the sketch's own ordering can never exclude a true top-K item
_HH_TRACKED = 65536  # bounded sketch memory; every tested fixture SF has
# fewer distinct users than this, so the sketch sits in its EXACT regime
# (every item tracked, counts exact). At true 100 TB cardinalities
# tracked < distinct and the counts carry the documented n/tracked
# frequent-items error — the flags below are the self-checking-sketch
# rule's honest face for that regime.


def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K most active users via the native frequent-items sketch
    (``approx_top_k`` — the bounded-memory heavy-hitters pass a 100 TB
    clickstream runs instead of a full groupBy when only the head
    matters), self-checked against the exact counts computed in the same
    query: the output rows are the EXACT deterministic top-K (count
    DESC, user_id), each flagged for presence-in-sketch and
    count-agreement; exact columns hash-match the oracle, flags are
    literal 1."""
    ev = load_tables(spark, sf_dir)["events"].filter(
        F.col("user_id").isNotNull()
    )
    sk = (
        ev.agg(
            F.expr(
                f"approx_top_k(user_id, {_HH_FETCH}, {_HH_TRACKED})"
            ).alias("top")
        )
        .select(F.explode("top").alias("e"))
        .select(
            F.col("e.item").alias("user_id"),
            F.col("e.count").alias("approx_n"),
        )
    )
    exact_top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), "user_id")
        .limit(_HH_K)
    )
    return (
        exact_top.join(F.broadcast(sk), "user_id", "left")
        .select(
            "user_id",
            "n_events",
            F.when(F.col("approx_n").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("in_sketch"),
            F.when(F.col("approx_n") == F.col("n_events"), 1)
            .otherwise(0)
            .cast("int")
            .alias("count_exact"),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )


# theta intersection/difference error is relative to the UNION size, not
# the (possibly much smaller) result — hence the wider band plus an
# absolute slack for small audiences.
_THETA_REL = 0.10
_THETA_ABS = 5


def theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience SET ALGEBRA from mergeable theta sketches — the question
    distinct-count rollups fundamentally cannot answer: |click ∪
    purchase|, |click ∩ purchase| and |click \\ purchase| user audiences,
    computed from per-DAY theta sketches merged at query time
    (``theta_union_agg``) and combined with the scalar
    ``theta_union``/``theta_intersection``/``theta_difference``. HLL can
    only union; theta's retained-sample construction supports the full
    algebra, which is why audience-overlap systems store theta sketches.
    Self-checked against the exact per-user flag aggregate in the same
    query (exact columns hash-matched; flags literal 1)."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    daily = ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'click'"
            " THEN user_id END)"
        ).alias("sk_c"),
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'purchase'"
            " THEN user_id END)"
        ).alias("sk_p"),
    )
    est = daily.agg(
        F.expr("theta_union_agg(sk_c)").alias("mc"),
        F.expr("theta_union_agg(sk_p)").alias("mp"),
    ).select(
        F.expr("theta_sketch_estimate(theta_union(mc, mp))").alias("e_u"),
        F.expr(
            "theta_sketch_estimate(theta_intersection(mc, mp))"
        ).alias("e_i"),
        F.expr("theta_sketch_estimate(theta_difference(mc, mp))").alias(
            "e_d"
        ),
    )
    exact = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "click").cast("long")
            ).alias("hc"),
            F.max(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("hp"),
        )
        .agg(
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(F.col("hc") * F.col("hp")).alias("exact_overlap"),
            F.sum(F.col("hc") * (1 - F.col("hp"))).alias(
                "exact_click_only"
            ),
        )
    )

    def flag(est_col: str, exact_col: str, alias: str):
        ok = F.abs(F.col(est_col) - F.col(exact_col)) <= F.greatest(
            F.col(exact_col) * F.lit(_THETA_REL), F.lit(_THETA_ABS)
        )
        return F.when(ok, 1).otherwise(0).cast("int").alias(alias)

    return exact.crossJoin(F.broadcast(est)).select(
        "exact_union",
        "exact_overlap",
        "exact_click_only",
        flag("e_u", "exact_union", "union_in_bounds"),
        flag("e_i", "exact_overlap", "overlap_in_bounds"),
        flag("e_d", "exact_click_only", "difference_in_bounds"),
    )


SLIDE_DAYS = 7  # trailing CALENDAR window width (day-6 .. day)


def _sliding_union_est(daily_sk: DataFrame) -> DataFrame:
    """(day, est): trailing-``SLIDE_DAYS`` calendar-window union of the
    per-day sketches.  The frame is a RANGE over epoch-day numbers, NOT
    a ROWS frame — on a gapped day spine a ROWS frame would silently
    merge the 7 most recent PRESENT days (spanning > 7 calendar days)
    and disagree with any calendar-defined exact check (locked by
    test_sketch_sliding_gap)."""
    from pyspark.sql import Window

    w = (
        Window.orderBy("day_num")
        .rangeBetween(-(SLIDE_DAYS - 1), 0)
    )
    return (
        daily_sk.withColumn(
            "day_num", F.datediff("day", F.lit("1970-01-01"))
        )
        .select("day", F.expr("hll_union_agg(sk)").over(w).alias("msk"))
        .select("day", F.expr("hll_sketch_estimate(msk)").alias("est"))
    )


def sketch_sliding_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users computed by RE-MERGING the stored
    daily sketches with a WINDOWED ``hll_union_agg`` — the whole reason
    sketch rollups exist: any ad-hoc window over the grain comes from
    the tiny sketch table, never a fact rescan.  Self-checked per the
    self-checking-sketch rule, but aggregated to ONE joint flag
    (MIN over days) so the per-day tails never stack.

    Scale: the fact is scanned once for the daily sketches (map-side
    sketch partials) and once for the exact check (fixture-side audit
    only — production trusts the bound); the window runs over |days|
    rows of sketch bytes.  The exact sliding distinct is a day-spine
    range join on (day-6..day) over the DISTINCT (day,user) relation —
    a ≤7× expansion of an already-collapsed table, never of raw events.
    Both sides use the same CALENDAR window (RANGE frame vs BETWEEN),
    so a gapped day spine cannot desynchronize them.
    """
    ev = _events(spark, sf_dir)
    daily_sk = ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.expr(f"hll_sketch_agg(user_id, {_HLL_LGK})").alias("sk")
    )
    est = _sliding_union_est(daily_sk)
    du = ev.select(
        F.expr("CAST(ts AS DATE)").alias("day"), "user_id"
    ).distinct()
    spine = du.select("day").distinct().alias("d")
    exact = (
        spine.join(
            du.alias("u"),
            F.expr(
                f"u.day BETWEEN date_sub(d.day, {SLIDE_DAYS - 1}) AND d.day"
            ),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("exact_7d"))
    )
    return est.join(exact, "day").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min(F.when(_in_bounds("est", "exact_7d"), 1).otherwise(0))
        .cast("int")
        .alias("all_in_bounds"),
        F.sum("exact_7d").alias("sum_exact_7d"),
        F.max("exact_7d").alias("max_exact_7d"),
        F.min("exact_7d").alias("min_exact_7d"),
    )


CMS_D = 4  # count-min rows (independent hash functions)
CMS_W = 256  # buckets per row
CMS_PROBE_MOD, CMS_PROBE_REM = 97, 11  # deterministic probe-user slice


def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005 — public
    structure), built relationally: D×W counter cells over the event
    stream's user ids, point-queried for a deterministic probe slice of
    users and compared against exact counts.  Columns: user_id,
    exact_n, cms_est, overcount (always ≥ 0 — CMS never undercounts,
    which the oracle certifies row by row).

    Scale design: the sketch IS a (row, bucket) → count aggregation —
    one map-side-combined pass producing exactly D·W = 1024 cells
    regardless of stream size, the textbook mergeable-summary shape
    (cells from different shards/days merge by integer addition; the
    native-sketch siblings above cover HLL/KLL/theta, this covers the
    frequency-table family).  The probe is a broadcast join of the
    probe users against the 1024-cell table, then a MIN over the D row
    estimates.  Every value is an exact integer; the per-row hash is
    the portable salted md5 (functions/text.py)."""
    from ..functions.text import md5_mod_hash_sql

    ev = load_tables(spark, sf_dir)["events"].filter(
        F.col("user_id").isNotNull()
    )
    # one pass: every event lands in D cells (explode the row index)
    cells = (
        ev.select(
            "user_id",
            F.explode(
                F.expr(f"sequence(0, {CMS_D - 1})")
            ).alias("row_i"),
        )
        .select(
            "row_i",
            F.expr(
                md5_mod_hash_sql(
                    "concat('cms', CAST(row_i AS STRING), '|',"
                    " CAST(user_id AS STRING))",
                    CMS_W,
                )
            ).alias("bucket"),
        )
        .groupBy("row_i", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probes = (
        ev.filter(
            F.col("user_id") % CMS_PROBE_MOD == CMS_PROBE_REM
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    probe_cells = probes.select(
        "user_id",
        "exact_n",
        F.explode(F.expr(f"sequence(0, {CMS_D - 1})")).alias("row_i"),
    ).select(
        "user_id",
        "exact_n",
        "row_i",
        F.expr(
            md5_mod_hash_sql(
                "concat('cms', CAST(row_i AS STRING), '|',"
                " CAST(user_id AS STRING))",
                CMS_W,
            )
        ).alias("bucket"),
    )
    return (
        probe_cells.join(F.broadcast(cells), ["row_i", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("n").alias("cms_est"))
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy("user_id")
    )


QUERIES = {
    "sketch_rollup_daily_users": sketch_rollup_daily_users,
    "cms_user_event_counts": cms_user_event_counts,
    "sketch_rollup_store": sketch_rollup_store,
    "heavy_hitter_users": heavy_hitter_users,
    "sketch_rollup_value_median": sketch_rollup_value_median,
    "theta_audience_overlap": theta_audience_overlap,
    "sketch_sliding_7d_users": sketch_sliding_7d_users,
}

ORACLES = {
    # the exact sliding distinct restated with the same day-spine range
    # join; the joint sketch flag's oracle is literal 1
    "sketch_sliding_7d_users": (
        "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id"
        " FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),"
        " spine AS (SELECT DISTINCT day FROM du),"
        " sl AS (SELECT d.day, COUNT(DISTINCT u.user_id) AS exact_7d"
        " FROM spine d JOIN du u"
        f" ON u.day BETWEEN d.day - {SLIDE_DAYS - 1} AND d.day"
        " GROUP BY d.day)"
        " SELECT COUNT(*) AS n_days, CAST(1 AS INT) AS all_in_bounds,"
        " CAST(SUM(exact_7d) AS BIGINT) AS sum_exact_7d,"
        " MAX(exact_7d) AS max_exact_7d,"
        " MIN(exact_7d) AS min_exact_7d"
        " FROM sl"
    ),
    # exact columns stated exactly; the sketch flag's oracle is literal 1
    # (the self-checking-sketch rule — sketch bytes are engine-specific)
    "sketch_rollup_daily_users": (
        "SELECT CAST(ts AS DATE) AS day,"
        " COUNT(*) AS n_events,"
        " COUNT(DISTINCT user_id) AS exact_users,"
        " CAST(1 AS INT) AS sketch_in_bounds"
        " FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL"
        " GROUP BY 1 ORDER BY 1"
    ),
    "heavy_hitter_users": (
        "SELECT user_id, COUNT(*) AS n_events,"
        " CAST(1 AS INT) AS in_sketch,"
        " CAST(1 AS INT) AS count_exact"
        " FROM events WHERE user_id IS NOT NULL"
        " GROUP BY user_id"
        f" ORDER BY n_events DESC, user_id LIMIT {_HH_K}"
    ),
    "sketch_rollup_store": _sketch_oracle(_EV_NOT_NULL, src="events"),
    "theta_audience_overlap": (
        "WITH f AS (SELECT user_id,"
        " MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,"
        " MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hp"
        " FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL"
        " AND event_type IN ('click', 'purchase') GROUP BY user_id)"
        " SELECT COUNT(*) AS exact_union,"
        " CAST(SUM(hc * hp) AS BIGINT) AS exact_overlap,"
        " CAST(SUM(hc * (1 - hp)) AS BIGINT) AS exact_click_only,"
        " CAST(1 AS INT) AS union_in_bounds,"
        " CAST(1 AS INT) AS overlap_in_bounds,"
        " CAST(1 AS INT) AS difference_in_bounds"
        " FROM f"
    ),
    "sketch_rollup_value_median": (
        "SELECT event_type, COUNT(*) AS n_events,"
        " CAST(quantile_disc(CAST(ROUND(value * 100) AS BIGINT), 0.5)"
        " AS BIGINT) AS exact_p50_cents,"
        " CAST(1 AS INT) AS sketch_rank_in_bounds"
        " FROM events WHERE value IS NOT NULL AND ts IS NOT NULL"
        " GROUP BY event_type ORDER BY event_type"
    ),
}

from ..functions.text import md5_mod_hash_duck as _md5_duck  # noqa: E402

_CMS_BUCKET_DUCK = _md5_duck(
    "'cms' || CAST(u.row_i AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)",
    CMS_W,
)

ORACLES["cms_user_event_counts"] = (
    "WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),"
    " cells AS (SELECT u.row_i,"
    f" {_CMS_BUCKET_DUCK} AS bucket,"
    " COUNT(*) AS n FROM ev,"
    f" unnest(range(0, {CMS_D})) AS u(row_i)"
    " GROUP BY u.row_i, bucket),"
    " probes AS (SELECT user_id, COUNT(*) AS exact_n FROM ev"
    f" WHERE user_id % {CMS_PROBE_MOD} = {CMS_PROBE_REM}"
    " GROUP BY user_id),"
    " pc AS (SELECT p.user_id, p.exact_n, u.row_i,"
    f" {_CMS_BUCKET_DUCK} AS bucket"
    f" FROM probes p, unnest(range(0, {CMS_D})) AS u(row_i))"
    " SELECT pc.user_id, pc.exact_n,"
    " MIN(c.n) AS cms_est,"
    " MIN(c.n) - pc.exact_n AS overcount"
    " FROM pc JOIN cells c ON pc.row_i = c.row_i"
    " AND pc.bucket = c.bucket"
    " GROUP BY pc.user_id, pc.exact_n ORDER BY pc.user_id"
)


# --- Bloom-filter membership decontamination ---------------------------------
#
# The missing member of the mergeable-summary family (HLL cardinality /
# KLL quantiles / theta set-algebra / CMS frequencies / Bloom
# MEMBERSHIP), applied to the job membership sketches exist for in a
# training-data pipeline: decontamination probes.  The exact n-gram
# decontam (similarity.decontam_ngram_overlap) JOINS corpus grams
# against the benchmark gram relation; the Bloom path condenses the
# benchmark side into a fixed BLOOM_M-bit array (built with one
# map-side-combined bit_or aggregation — bits from any shard merge by
# OR, the mergeable-summary property) and probes the corpus DICTIONARY
# map-side against the broadcast bit words.  At 100 TB the probe never
# shuffles the benchmark relation anywhere — the filter is KBs — and
# false positives are one-sided (a flagged gram might be clean; a
# member gram is NEVER missed), which is exactly the safe direction
# for decontamination.  Public structure: Bloom 1970, CACM 13(7).
#
# Parity discipline: positions are the portable salted md5
# (functions/text.py) mod BLOOM_M; words are BIGINT bit_or folds;
# probes test (word & mask) != 0 — every value is an exact integer in
# both engines, so the whole filter (including each false positive) is
# oracle-stated bit-for-bit.

BLOOM_M = 1 << 13  # 8192 bits, packed 63 per BIGINT word (131 words,
# ~1 KB broadcast; 63 not 64 — DuckDB's checked arithmetic rejects the
# sign-bit shift 1<<63, and one spare bit per word costs nothing)
BLOOM_K = 3
BLOOM_TEST_MOD = 10
BLOOM_TEST_REM = 3  # benchmark split = doc_id % 10 == 3


def _bloom_pos_sql(gram: str, k: str) -> str:
    from ..functions.text import md5_mod_hash_sql

    return md5_mod_hash_sql(
        f"concat('bl', CAST({k} AS STRING), '|', {gram})", BLOOM_M
    )


def _bloom_pos_duck(gram: str, k: str) -> str:
    from ..functions.text import md5_mod_hash_duck

    return md5_mod_hash_duck(
        f"'bl' || CAST({k} AS VARCHAR) || '|' || {gram}", BLOOM_M
    )


def _doc_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g): word-3-gram rows under the dedup shingle convention
    (plain space split; short docs contribute the whole text as one
    gram) — JVM-side explode, spread to session parallelism."""
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    return docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 3 THEN"
                " transform(sequence(1, size(split(text, ' ')) - 2),"
                " i -> concat_ws(' ', element_at(split(text, ' '), i),"
                " element_at(split(text, ' '), i + 1),"
                " element_at(split(text, ' '), i + 2)))"
                " ELSE array(array_join(split(text, ' '), ' ')) END"
            )
        ).alias("g"),
    )


from ..functions.text import P as P_BIND  # noqa: E402  (binding modulus)

GH_MOD = 1 << 60  # gram-key domain: the md5 hash condenses each gram
# string to an 8-byte key BEFORE any distinct/shuffle (the dedup
# discipline — exchanges move longs, never multi-word strings);
# expected collisions at 2^60 are ~n²/2^61 (≈1e-6 at a million grams),
# the module's accepted-risk class, and BOTH engines hash identically
# so parity is unaffected either way


def _doc_gram_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, gh): hashed gram rows — the map-side condense every
    downstream stage (distinct, bloom positions, semi-joins) runs on."""
    from ..functions.text import md5_mod_hash_sql

    return _doc_grams(spark, sf_dir).select(
        "doc_id", F.expr(md5_mod_hash_sql("g", GH_MOD)).alias("gh")
    )


def bloom_decontam_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Bloom filter over the benchmark split's distinct 3-grams
    (BLOOM_K salted-md5 positions each, BIGINT words via bit_or), probe
    the training corpus' distinct-gram dictionary against the broadcast
    words, and report the full confusion accounting in one row:
    benchmark/corpus gram counts, flagged grams, TRUE members (exact,
    via the dictionary semi-join), the one-sided false-positive count,
    corpus documents carrying ≥1 flagged gram, and an order-free
    binding over the flagged dictionary.  No false negative is possible
    by construction, and the oracle recomputes every bit — so a green
    row certifies the filter build, the probe, and each individual
    false positive.

    Pin lifecycle (cache on reuse): the
    hashed gram relation and the two distinct dictionaries fan into SIX
    independent branches of the one-row confusion output (filter build,
    probe, members semi-join, three counting aggregates) — unpinned,
    every branch re-ran the corpus scan + gram explode + md5 condense
    (18 parquet scans of ``documents`` in the before-plan,
    plans/r15/bloom_decontam_stats_before.txt).  Pinning collapses the
    recomputation to one scan per relation; the pins are released the
    moment the one-row result is checkpointed
    (:func:`release_after_action`, the engine-wide one-shot lifecycle)."""
    from ..functions.windows import register_cache, release_after_action

    grams = register_cache(_doc_gram_keys(spark, sf_dir))
    is_test = F.col("doc_id") % BLOOM_TEST_MOD == BLOOM_TEST_REM
    test_g = register_cache(grams.filter(is_test).select("gh").distinct())
    corpus_gd = grams.filter(~is_test)
    corpus_g = register_cache(corpus_gd.select("gh").distinct())

    ks = F.explode(F.expr(f"sequence(0, {BLOOM_K - 1})")).alias("k")
    mask = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"
    ).alias("mask")
    widx = F.expr("CAST(pos DIV 63 AS INT)").alias("w")
    bloom = (
        test_g.select("gh", ks)
        .select(F.expr(_bloom_pos_sql("CAST(gh AS STRING)", "k")).alias("pos"))
        .select(widx, mask)
        .groupBy("w")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )
    probed = (
        corpus_g.select("gh", ks)
        .select(
            "gh", F.expr(_bloom_pos_sql("CAST(gh AS STRING)", "k")).alias("pos")
        )
        .select("gh", widx, mask)
        .join(F.broadcast(bloom), "w", "left")
        .select(
            "gh",
            F.coalesce(
                (F.col("word").bitwiseAND(F.col("mask")) != 0),
                F.lit(False),
            ).alias("hit"),
        )
        .groupBy("gh")
        .agg(F.expr("bool_and(hit)").alias("flagged"))
    )
    flagged_g = probed.filter(F.col("flagged")).select("gh")
    members = corpus_g.join(test_g, "gh", "left_semi")
    counts = (
        test_g.agg(F.count(F.lit(1)).alias("n_test_grams"))
        .crossJoin(corpus_g.agg(F.count(F.lit(1)).alias("n_corpus_grams")))
        .crossJoin(
            flagged_g.agg(
                F.count(F.lit(1)).alias("n_flagged"),
                F.coalesce(
                    F.sum(F.col("gh") % F.lit(P_BIND)), F.lit(0)
                ).alias("flagged_binding"),
            )
        )
        .crossJoin(members.agg(F.count(F.lit(1)).alias("n_members")))
        .crossJoin(
            corpus_gd.join(F.broadcast(flagged_g), "gh", "left_semi")
            .agg(F.countDistinct("doc_id").alias("docs_flagged"))
        )
    )
    return release_after_action(
        counts.select(
            "n_test_grams",
            "n_corpus_grams",
            "n_flagged",
            "n_members",
            (F.col("n_flagged") - F.col("n_members")).alias("n_false_pos"),
            "docs_flagged",
            "flagged_binding",
        ),
        grams,
        test_g,
        corpus_g,
    )


QUERIES["bloom_decontam_stats"] = bloom_decontam_stats

_BLOOM_GRAMS_DUCK = (
    "toksb AS (SELECT doc_id, string_split(text, ' ') AS ws"
    " FROM documents),"
    " shb AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN"
    " list_transform(range(1, len(ws) - 1),"
    " i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])"
    " ELSE [array_to_string(ws, ' ')] END AS shs FROM toksb),"
    " gr AS (SELECT doc_id, unnest(shs) AS g FROM shb)"
)

ORACLES["bloom_decontam_stats"] = (
    f"WITH {_BLOOM_GRAMS_DUCK},"
    f" grh AS (SELECT doc_id, {_md5_duck('g', GH_MOD)} AS gh FROM gr),"
    f" tg AS (SELECT DISTINCT gh FROM grh"
    f" WHERE doc_id % {BLOOM_TEST_MOD} = {BLOOM_TEST_REM}),"
    f" cgd AS (SELECT doc_id, gh FROM grh"
    f" WHERE doc_id % {BLOOM_TEST_MOD} != {BLOOM_TEST_REM}),"
    " cg AS (SELECT DISTINCT gh FROM cgd),"
    " bits AS (SELECT"
    f" {_bloom_pos_duck('CAST(gh AS VARCHAR)', 'k')} AS pos"
    f" FROM tg, unnest(range(0, {BLOOM_K})) AS u(k)),"
    " bloom AS (SELECT CAST(pos // 63 AS INT) AS w,"
    " bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS word"
    " FROM bits GROUP BY 1),"
    " pp AS (SELECT gh,"
    f" {_bloom_pos_duck('CAST(gh AS VARCHAR)', 'k')} AS pos"
    f" FROM cg, unnest(range(0, {BLOOM_K})) AS u(k)),"
    " probed AS (SELECT pp.gh,"
    " bool_and(COALESCE((b.word &"
    " (CAST(1 AS BIGINT) << CAST(pp.pos % 63 AS INT))) != 0, FALSE))"
    " AS flagged"
    " FROM pp LEFT JOIN bloom b ON b.w = CAST(pp.pos // 63 AS INT)"
    " GROUP BY pp.gh),"
    " fg AS (SELECT gh FROM probed WHERE flagged),"
    " mem AS (SELECT gh FROM cg WHERE gh IN (SELECT gh FROM tg))"
    " SELECT (SELECT COUNT(*) FROM tg) AS n_test_grams,"
    " (SELECT COUNT(*) FROM cg) AS n_corpus_grams,"
    " (SELECT COUNT(*) FROM fg) AS n_flagged,"
    " (SELECT COUNT(*) FROM mem) AS n_members,"
    " (SELECT COUNT(*) FROM fg) - (SELECT COUNT(*) FROM mem)"
    " AS n_false_pos,"
    " (SELECT COUNT(DISTINCT doc_id) FROM cgd"
    " WHERE gh IN (SELECT gh FROM fg)) AS docs_flagged,"
    f" (SELECT COALESCE(CAST(SUM(gh % {P_BIND}) AS BIGINT), 0) FROM fg)"
    " AS flagged_binding"
)


# --- incremental sketch-store maintenance ------------------------------------


def upsert_sketch_rollup_store(
    batch_events: DataFrame, path: str, bid: int | None = None
) -> None:
    """Merge an ingest batch into the sketch store: the batch's
    (day, type) HLL cells land as one new immutable segment and the
    v+1 manifest pins the old entries plus the new segment's days.
    The segment is written once; a publish conflict re-merges only the
    manifest onto the new latest.  Partial-day cells from different
    batches coexist as separate manifest entries and merge at serve
    time (HLL union associativity), so no existing cell is ever read
    or rewritten."""
    spark = batch_events.sparkSession
    seg, days = _write_sketch_segment(path, _rollup_cells(batch_events))
    store._commit(
        spark,
        path,
        lambda v: (
            store._manifest_entries(spark, path, v)
            + [(seg, d) for d in days],
            None,
        ),
        bid,
    )


def _batch_day_pred():
    """The ingest batch of the upsert, vacuum and chain rows:
    day-of-month % 7 == 3."""
    return F.dayofmonth(F.expr("CAST(ts AS DATE)")) % 7 == 3


def sketch_rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance for the THIRD store family: the HLL
    rollup is per-(day, type) cells, so an ingest batch of new days
    merges by APPENDING its cells into new day partitions — no existing
    partition is read or rewritten, and the serve-time ``hll_union_agg``
    is associative/commutative, so upsert ≡ full rebuild by
    construction (the cell relation is identical; the file-level and
    cell-level claims are locked by tests/test_sketch_upsert.py).
    Completes the incremental-maintenance story across all three
    persisted stores (ANN cells / BM25 postings / sketch rollups).

    Build the store from all days OUTSIDE the batch (day-of-month
    % 7 == 3 marks the batch days), append the batch days' cells
    computed from ONLY the batch events (the honest production input),
    then serve merged per-type estimates from the upserted store,
    self-checked against the exact distinct over ALL events
    (self-checking-sketch rule: the flag's oracle is literal 1) with
    the batch-day count bound into the row."""
    ev = _events(spark, sf_dir)
    batch = ev.filter(_batch_day_pred())
    with tempfile.TemporaryDirectory(
        prefix="sgraft_sketch_upsert_", ignore_cleanup_errors=True
    ) as tmp:
        _init_sketch_store(ev.filter(~_batch_day_pred()), tmp)
        upsert_sketch_rollup_store(batch, tmp)
        updays = batch.agg(
            F.countDistinct(F.expr("CAST(ts AS DATE)")).alias(
                "n_upserted_days"
            )
        )
        return _checked(
            serve_sketch_rollup_from_store(spark, tmp),
            _exact_users(ev),
            updays,
            "n_upserted_days",
        )


QUERIES["sketch_rollup_upsert"] = sketch_rollup_upsert

# upsert semantics: appended day cells + serve-time union must equal
# the direct full-corpus aggregate (the flag oracle is literal 1 per
# the self-checking-sketch rule; everything else exact)
ORACLES["sketch_rollup_upsert"] = _sketch_oracle(
    _EV_NOT_NULL,
    "up AS (SELECT COUNT(DISTINCT CAST(ts AS DATE))"
    f" AS n_upserted_days FROM events{_EV_NOT_NULL}"
    " AND EXTRACT(day FROM CAST(ts AS DATE)) % 7 = 3)",
    "up.n_upserted_days",
    src="events",
)


# --- deletion through the sketch store ---------------------------------------
#
# The third store's erasure leg: HLL sketches are NOT subtractable (a
# union-only summary cannot remove a member), so GDPR-class deletion of
# a user set necessarily RECOMPUTES — but only the affected day
# partitions (days where the erased users had events), from the base
# events of those days minus the erased users.  The affected-partition
# scoping is what keeps this tractable at 100 TB: the rescan touches
# exactly the erased users' activity days, never the whole fact; cells
# for every other day are byte-untouched.  delete-then-serve ≡
# rebuild-without-the-users holds bit-exactly because the rewritten
# cells ARE the rebuild's cells (same deterministic hll_sketch_agg over
# the identical surviving rows).

DEL_USER_MOD = 10
DEL_USER_RES = 3  # erase set: user_id % 10 == 3 (~10% of users)


def _del_users_pred():
    return F.col("user_id") % DEL_USER_MOD == DEL_USER_RES


def delete_users_from_sketch_store(
    spark: SparkSession, path: str, ev_base: DataFrame, del_pred
) -> list[str]:
    """Erase every user matching ``del_pred`` from the stored rollup:
    locate the affected days from the base events, recompute those
    days' cells over the surviving events only into one NEW immutable
    segment once, and publish a v+1 manifest that un-pins every prior
    entry of those days.  Old files untouched: a reader pinned at v
    keeps the complete pre-delete rollup, the erasure is one atomic
    cross-day cut at publish, and the erased cells become unreachable
    bytes that vacuum's segment GC reclaims.  Days emptied by the
    erasure have no survivor cells and drop out of the manifest.
    Returns the affected day list (bounded by the calendar).
    ``ev_base`` is the raw fact: union-only sketches cannot subtract,
    so the deletion re-derives from base data."""
    affected = sorted(
        str(r["day"])
        for r in ev_base.filter(del_pred)
        .select(F.expr("CAST(ts AS DATE)").alias("day"))
        .distinct()
        .collect()
    )
    if not affected:
        return []
    surv = ev_base.filter(
        F.expr("CAST(ts AS DATE)").cast("string").isin(affected)
        & ~del_pred
    )
    seg, survivor_days = _write_sketch_segment(path, _rollup_cells(surv))
    hit = set(affected)

    def stage(v: int):
        entries = store._manifest_entries(spark, path, v)
        return [e for e in entries if e[1] not in hit] + [
            (seg, d) for d in survivor_days
        ], None

    store._commit(spark, path, stage)
    return affected


def compact_sketch_store(spark: SparkSession, path: str) -> tuple[int, int]:
    """Compact the rollup: an upsert chain leaves partial-day cells
    spread across many segments (each batch's cells are a separate
    manifest entry for the same day); compaction unions them —
    ``hll_union_agg`` per (day, type), exact ``n_events`` sum — into
    ONE new segment and publishes a manifest pinning only it.  Serve
    results are unchanged by construction (HLL union associativity:
    merging at compact time ≡ merging at serve time), but the serve
    path now opens one file set per day instead of one per
    (day, batch).  Copy-on-write like every other mutation: a reader
    pinned at v keeps the pre-compact cells; vacuum reclaims them.
    Returns (entries before, entries after) — the manifest-size
    shrink, both metadata-bounded."""
    sizes: list[int] = []

    def stage(v: int):
        entries = store._manifest_entries(spark, path, v)
        cells = store._read_segments(
            spark, f"{path}/{_SK_ROOT}", entries, _SK_CELL_SCHEMA,
            pcol="day_part",
        )
        merged = (
            cells.groupBy("day", "event_type")
            .agg(
                F.expr("hll_union_agg(sk)").alias("sk"),
                F.sum("n_events").alias("n_events"),
            )
            .select("day", "event_type", "sk", "n_events")
            .withColumn("day_part", F.col("day").cast("string"))
        )
        seg, days = _write_sketch_segment(path, merged)
        sizes[:] = [len(entries), len(days)]
        return [(seg, d) for d in days], None

    store._commit(spark, path, stage)
    return sizes[0], sizes[1]


def vacuum_sketch_store(
    spark: SparkSession, path: str, keep_last: int = store.RETAIN_VERSIONS
) -> int:
    """Retention vacuum for the sketch store (see
    :func:`store._vacuum_versioned_store`)."""
    return store._vacuum_versioned_store(spark, path, _SK_ROOT, keep_last)


def sketch_rollup_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion through the sketch store, end to end: build the
    day-sorted rollup over the full fact, ERASE a user set
    (affected-day recompute + rewrite), and serve merged per-type
    estimates from the post-delete store, self-checked against the
    exact distinct over the SURVIVING events (the flag's oracle is
    literal 1 per the self-checking-sketch rule).  Output binds the
    erasure accounting (n_users_deleted, n_days_rewritten) into the
    checked rows — both closed-form restatable, so a green row proves
    the erasure verifiably reached the derived store."""
    ev = _events(spark, sf_dir)
    surv = ev.filter(~_del_users_pred())
    with tempfile.TemporaryDirectory(
        prefix="sgraft_sketch_delete_", ignore_cleanup_errors=True
    ) as tmp:
        # the exact self-check depends only on the base fact, so it
        # runs as a concurrent job alongside the store build and erasure

        def _build_and_erase() -> list:
            build_sketch_rollup_store(spark, sf_dir, tmp)
            return delete_users_from_sketch_store(
                spark, tmp, ev, _del_users_pred()
            )

        exact, affected = store._run_staged(
            lambda: _exact_users(surv).localCheckpoint(eager=True),
            _build_and_erase,
        )
        tele = spark.createDataFrame(
            [(len(affected),)], "n_days_rewritten bigint"
        ).crossJoin(
            ev.filter(_del_users_pred()).agg(
                F.countDistinct("user_id").alias("n_users_deleted")
            )
        )
        return _checked(
            serve_sketch_rollup_from_store(spark, tmp),
            exact,
            tele,
            "n_users_deleted",
            "n_days_rewritten",
        )


QUERIES["sketch_rollup_delete"] = sketch_rollup_delete

# delete semantics: serve-from-rewritten-store must equal the direct
# aggregate over the SURVIVING events (n_events per type decremented
# exactly; estimates in bounds vs surviving distincts — literal-1 flag
# per the self-checking-sketch rule); telemetry closed-form restated
ORACLES["sketch_rollup_delete"] = _sketch_oracle(
    f" WHERE user_id % {DEL_USER_MOD} != {DEL_USER_RES}",
    "tele AS (SELECT (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM base"
    f" WHERE user_id % {DEL_USER_MOD} = {DEL_USER_RES})"
    " AS n_days_rewritten,"
    " (SELECT COUNT(DISTINCT user_id) FROM base"
    f" WHERE user_id % {DEL_USER_MOD} = {DEL_USER_RES})"
    " AS n_users_deleted)",
    "tele.n_users_deleted, tele.n_days_rewritten",
)


# --- sketch-store compaction / retention / CRUD chain ------------------------
#
# The manifest-pinned sketch store has the same lifecycle surface as
# its three siblings, so the same
# lifecycle legs get certified: compaction (partial-day cells from an
# upsert chain merged to one cell per (day, type) — serve-invariant by
# union associativity), retention vacuum (keep-latest + segment GC),
# and the interleaved CRUD chain.

_SK_BATCH_MOD = 3  # compact fixture: user_id % 3 == 0 is the 2nd batch


def _sk_user_batch_pred():
    return F.col("user_id") % _SK_BATCH_MOD == 0


def sketch_rollup_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction through the sketch store: build from one user slice
    (v1), upsert the complementary slice (v2 — SAME days, so every day
    now has partial-day cells in two segments), COMPACT (v3 — one
    merged cell per (day, type), manifest entries halved), and serve
    from the compacted store, self-checked against the exact distinct
    over all events.  Binds the manifest-size shrink
    (n_entries_before, n_entries_after) into the checked rows — both
    closed-form restatable as day counts, so a green row proves the
    compaction merged exactly the overlapping-day entries and changed
    no served result (HLL union associativity)."""
    ev = _events(spark, sf_dir)
    with tempfile.TemporaryDirectory(
        prefix="sgraft_sketch_compact_", ignore_cleanup_errors=True
    ) as tmp:
        _init_sketch_store(ev.filter(~_sk_user_batch_pred()), tmp)
        upsert_sketch_rollup_store(ev.filter(_sk_user_batch_pred()), tmp)
        n_before, n_after = compact_sketch_store(spark, tmp)
        tele = spark.createDataFrame(
            [(n_before, n_after)],
            "n_entries_before bigint, n_entries_after bigint",
        )
        return _checked(
            serve_sketch_rollup_from_store(spark, tmp),
            _exact_users(ev),
            tele,
            "n_entries_before",
            "n_entries_after",
        )


QUERIES["sketch_rollup_compact"] = sketch_rollup_compact

# compaction must not change served results: per-type exact accounting
# over ALL events (flag literal 1); entries-before = the two slices'
# day counts summed (each slice's segment pins its own day cells),
# entries-after = the distinct days
ORACLES["sketch_rollup_compact"] = _sketch_oracle(
    "",
    "tele AS (SELECT"
    " (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM base"
    f" WHERE user_id % {_SK_BATCH_MOD} != 0)"
    " + (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM base"
    f" WHERE user_id % {_SK_BATCH_MOD} = 0) AS n_entries_before,"
    " (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM base)"
    " AS n_entries_after)",
    "tele.n_entries_before, tele.n_entries_after",
)


def sketch_store_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version retention through the sketch store: build on the
    non-batch days (v1), upsert the batch days (v2), ERASE a user set
    (v3 — the three-version chain a few maintenance cycles leave
    behind), VACUUM to the latest version only, and serve from the
    survivor.  The oracle restates the survivors directly — a green
    row proves serve-from-latest is unchanged by the vacuum — and
    n_versions_purged (always 2 for this chain) binds the retention
    arithmetic in; the file-level claims (old version dirs gone,
    unreferenced segments GC'd, pinned files byte-untouched) are
    locked by tests/test_sketch_upsert.py."""
    ev = _events(spark, sf_dir)
    with tempfile.TemporaryDirectory(
        prefix="sgraft_sketch_vacuum_", ignore_cleanup_errors=True
    ) as tmp:
        _init_sketch_store(ev.filter(~_batch_day_pred()), tmp)
        upsert_sketch_rollup_store(ev.filter(_batch_day_pred()), tmp)
        delete_users_from_sketch_store(spark, tmp, ev, _del_users_pred())
        n_before = len(store._published_versions(spark, tmp))
        vacuum_sketch_store(spark, tmp, keep_last=1)
        n_purged = n_before - len(store._published_versions(spark, tmp))
        tele = spark.createDataFrame(
            [(n_purged,)], "n_versions_purged bigint"
        )
        return _checked(
            serve_sketch_rollup_from_store(spark, tmp),
            _exact_users(ev.filter(~_del_users_pred())),
            tele,
            "n_versions_purged",
        )


QUERIES["sketch_store_vacuum"] = sketch_store_vacuum

# vacuum must keep exactly the post-delete state: per-type survivor
# accounting (flag literal 1), 2 purged versions for the 3-version
# chain
ORACLES["sketch_store_vacuum"] = _sketch_oracle(
    f" WHERE user_id % {DEL_USER_MOD} != {DEL_USER_RES}",
    cols="CAST(2 AS BIGINT) AS n_versions_purged",
)


def sketch_crud_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTERLEAVED lifecycle certification for the sketch store —
    build (v1) → upsert the batch days (v2) → erase a user set (v3) →
    compact (v4) → vacuum to latest — with serve-from-store at the
    end, self-checked against the exact distinct over the SURVIVING
    events.  One green row proves the four mutation classes compose:
    the upserted days survive the erasure of the deleted users, the
    compaction changes no served result, and the vacuum keeps exactly
    the final version.  Binds n_upserted_days, n_users_deleted,
    n_entries_after (the compacted manifest size = distinct survivor
    days), and n_versions_purged (3) into the checked rows — all
    closed-form restatable."""
    ev = _events(spark, sf_dir)
    batch = ev.filter(_batch_day_pred())
    surv = ev.filter(~_del_users_pred())
    with tempfile.TemporaryDirectory(
        prefix="sgraft_sketch_crud_", ignore_cleanup_errors=True
    ) as tmp:

        def _chain() -> tuple[int, int]:
            _init_sketch_store(ev.filter(~_batch_day_pred()), tmp)
            upsert_sketch_rollup_store(batch, tmp)
            delete_users_from_sketch_store(
                spark, tmp, ev, _del_users_pred()
            )
            _, n_after = compact_sketch_store(spark, tmp)
            n_before = len(store._published_versions(spark, tmp))
            vacuum_sketch_store(spark, tmp, keep_last=1)
            n_kept = len(store._published_versions(spark, tmp))
            return n_after, n_before - n_kept

        # the exact self-check depends only on the base fact, so it
        # runs as a concurrent job alongside the mutation chain
        exact, (n_after, n_purged) = store._run_staged(
            lambda: _exact_users(surv).localCheckpoint(eager=True),
            _chain,
        )
        tele = (
            spark.createDataFrame(
                [(n_after, n_purged)],
                "n_entries_after bigint, n_versions_purged bigint",
            )
            .crossJoin(
                batch.agg(
                    F.countDistinct(F.expr("CAST(ts AS DATE)")).alias(
                        "n_upserted_days"
                    )
                )
            )
            .crossJoin(
                ev.filter(_del_users_pred()).agg(
                    F.countDistinct("user_id").alias("n_users_deleted")
                )
            )
        )
        return _checked(
            serve_sketch_rollup_from_store(spark, tmp),
            exact,
            tele,
            "n_upserted_days",
            "n_users_deleted",
            "n_entries_after",
            "n_versions_purged",
        )


QUERIES["sketch_crud_chain"] = sketch_crud_chain

# interleaved chain: per-type survivor accounting (flag literal 1);
# upserted days / deleted users restated from the raw fact; compacted
# manifest size = distinct survivor days; 3 purged versions for the
# 4-version chain
ORACLES["sketch_crud_chain"] = _sketch_oracle(
    f" WHERE user_id % {DEL_USER_MOD} != {DEL_USER_RES}",
    "tele AS (SELECT"
    " (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM base"
    " WHERE EXTRACT(day FROM CAST(ts AS DATE)) % 7 = 3)"
    " AS n_upserted_days,"
    " (SELECT COUNT(DISTINCT user_id) FROM base"
    f" WHERE user_id % {DEL_USER_MOD} = {DEL_USER_RES})"
    " AS n_users_deleted,"
    " (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM base"
    f" WHERE user_id % {DEL_USER_MOD} != {DEL_USER_RES})"
    " AS n_entries_after,"
    " CAST(3 AS BIGINT) AS n_versions_purged)",
    "tele.n_upserted_days, tele.n_users_deleted,"
    " tele.n_entries_after, tele.n_versions_purged",
)


# --- streaming sketch-store ingestion ----------------------------------------
#
# Composition is free by algebra here: serve-time hll_union_agg is
# associative and commutative over cells, so any batch split of the
# fact, including splits that land partial days in different
# micro-batches, composes to the same served estimates.


def _sketch_stream(spark: SparkSession, sf_dir: str) -> tuple:
    """(feed, init, upsert) of the sketch ingest stream."""
    return _events(spark, sf_dir), _init_sketch_store, upsert_sketch_rollup_store


def sketch_stream_upsert_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingestion into the sketch store: the fact feeds
    :func:`store.stream_into_store`, each micro-batch appending its
    (day, type) HLL cells.  Partial-day cells from different batches
    coexist and merge at serve time, so the N-batch composition equals
    the single-pass build with no cross-batch coordination.  Merged
    per-type estimates are self-checked against the exact distinct over
    all events; n_days_stored (distinct days the final manifest pins)
    binds the store's layout into the checked rows."""
    ev, init, upsert = _sketch_stream(spark, sf_dir)
    with tempfile.TemporaryDirectory(
        prefix="sgraft_sketch_stream_", ignore_cleanup_errors=True
    ) as tmp:
        path = store.stream_into_store(spark, ev, tmp, init, upsert)
        # entries are (seg, day) pairs; partial-day cells from
        # different batches pin the same day
        n_days = len(
            {
                d
                for _, d in store._manifest_entries(
                    spark, path, store._latest_version(spark, path)
                )
            }
        )
        nd = spark.createDataFrame(
            [(n_days,)], "n_days_stored bigint"
        )
        return _checked(
            serve_sketch_rollup_from_store(spark, path),
            _exact_users(ev),
            nd,
            "n_days_stored",
        )


QUERIES["sketch_stream_upsert_store"] = sketch_stream_upsert_store

# stream-composed store semantics: per-type exact accounting over all
# events (the fact reached the store losslessly through the batch
# chain), estimates in bounds (literal-1 flag), and the day-partition
# count restated as the distinct event days
ORACLES["sketch_stream_upsert_store"] = _sketch_oracle(
    "",
    "nd AS (SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS n_days_stored"
    " FROM base)",
    "nd.n_days_stored",
)
