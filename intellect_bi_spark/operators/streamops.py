"""Batch twins of the streaming operators (SURVEY §2.13), oracle-backed.

``window``/``session_window`` are batch-and-streaming operators in Spark;
registering the batch side gives the driver's DuckDB gate full value-level
coverage of the streaming semantics (tumbling windows, gap-based
sessionization), while tests/test_streaming.py proves the streaming runs
produce the SAME rows via availableNow.

DuckDB has no session_window; the oracle derives sessions structurally —
``lag`` gap detection → cumulative session counter → group — which is the
textbook SQL equivalent of gap-based session merge.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum_sql
from ..functions.text import P, md5_mod_hash_duck
from ..streaming.events import (
    ATTRIBUTION_WINDOW,
    N_TIERS,
    STREAK_TYPE,
    click_purchase_pairs,
    click_purchase_pairs_outer,
    dedup_replayed_events,
    events_batch,
    session_agg,
    sliding_daily_agg,
    stream_daily_store,
    tier_daily_agg,
    tumbling_daily_agg,
    user_click_streaks_batch,
    user_tier_dim,
)

SESSION_GAP_MIN = 30


def events_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_daily_agg(events_batch(spark, sf_dir))


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(events_batch(spark, sf_dir))


def events_sliding_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_daily_agg(events_batch(spark, sf_dir))


def events_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_replayed_events(events_batch(spark, sf_dir))


def click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/events.py:click_purchase_pairs): per purchase day, how
    many (purchase, click) attribution pairs landed, how many distinct
    purchases had at least one attributed click, and an exact
    pair-binding checksum that only matches if every purchase met
    exactly its own user's in-window clicks. The streaming run of the
    SAME operator is proven row-identical in tests/test_streaming.py."""
    pairs = click_purchase_pairs(events_batch(spark, sf_dir))
    return (
        pairs.groupBy(
            F.col("purchase_ts").cast("date").alias("purchase_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.sum(
                F.expr(
                    f"((purchase_id % {P}) * (click_id % {P})) % {P}"
                )
            ).alias("pair_binding"),
        )
        .orderBy("purchase_day")
    )


def events_tier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join
    (streaming/events.py:tier_daily_agg): per (day, tier) event counts
    and exact value sums after joining the deterministic user→tier
    dimension. The streaming run of the SAME operator (static side
    broadcast into each micro-batch) is proven row-identical in
    tests/test_streaming.py."""
    return tier_daily_agg(
        events_batch(spark, sf_dir), user_tier_dim(spark, sf_dir)
    )


def events_stream_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end certification of the ``foreachBatch`` serving store
    (streaming/events.py:stream_daily_store): run the
    REAL availableNow stream (file source → watermark → tumbling agg →
    per-micro-batch dynamic-partition merge) into a fresh temp store, read
    the store's parquet back, and return its contents. The oracle is the
    plain batch tumbling aggregate — the store a stream maintains must
    equal the table a batch job would have built, including the ``day``
    directory-partition column the merge derives.

    The re-read frame is localCheckpointed (bounded: the daily aggregate)
    so the temp store and checkpoint can be deleted before returning."""
    with tempfile.TemporaryDirectory(
        prefix="sgraft_stream_store_", ignore_cleanup_errors=True
    ) as tmp:
        q = None
        try:
            q = stream_daily_store(
                spark, sf_dir, out_path=f"{tmp}/store",
                checkpoint=f"{tmp}/ckpt",
            )
            q.awaitTermination(300)
            if q.isActive:
                # raise explicitly, never assert (stripped under python
                # -O — registry.py rule): a timed-out stream must not be
                # read as a complete store
                raise TimeoutError(
                    "stream_daily_store did not drain in 300 s"
                )
            return (
                spark.read.parquet(f"{tmp}/store")
                .select("day_start", "event_type", "n_events",
                        "total_value", F.col("day").cast("date").alias("day"))
                .localCheckpoint(eager=True)
            )
        finally:
            # stop a still-active query BEFORE its checkpoint/output is
            # deleted, so no zombie micro-batches keep failing in the
            # shared session
            if q is not None and q.isActive:
                try:
                    q.stop()
                except Exception:
                    pass


def user_click_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the ORDER-DEPENDENT custom stateful operator
    (streaming/events.py:user_click_streaks_stream): per user, the
    longest run of consecutive '{STREAK_TYPE}' events in (ts, event_id)
    order, total clicks, and maximal-run count. The streaming
    ``applyInPandasWithState`` run of the SAME semantics — including a
    streak chained across a micro-batch boundary — is proven
    row-identical in tests/test_streaming.py."""
    return user_click_streaks_batch(events_batch(spark, sf_dir))


def purchase_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT OUTER stream-stream interval join
    (streaming/events.py:click_purchase_pairs_outer): per purchase day —
    total purchases, purchases with ≥1 attributed click, ORGANIC
    purchases (no in-window click; exactly the rows the outer join emits
    with NULL click columns), attributed pair count, and an organic-id
    binding so a single mis-joined purchase flips the hash.  The
    streaming run of the SAME operator is proven identical on the
    watermark-closed region in tests/test_streaming.py."""
    pairs = click_purchase_pairs_outer(events_batch(spark, sf_dir))
    has_click = F.col("click_id").isNotNull()
    return (
        pairs.groupBy(
            F.col("purchase_ts").cast("date").alias("purchase_day")
        )
        .agg(
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.countDistinct(
                F.when(has_click, F.col("purchase_id"))
            ).alias("n_attributed"),
            F.sum((~has_click).cast("long")).alias("n_organic"),
            F.sum(has_click.cast("long")).alias("n_pairs"),
            F.sum(
                F.when(~has_click, F.col("purchase_id") % P).otherwise(0)
            ).alias("organic_binding"),
        )
        .orderBy("purchase_day")
    )


QUERIES = {
    "user_click_streaks": user_click_streaks,
    "purchase_attribution_outer": purchase_attribution_outer,
    "events_tumbling_daily": events_tumbling_daily,
    "events_sessionize": events_sessionize,
    "events_sliding_daily": events_sliding_daily,
    "events_dedup_replay": events_dedup_replay,
    "stream_daily_store": events_stream_store,
    "click_purchase_attribution": click_purchase_attribution,
    "events_tier_daily": events_tier_daily,
}

ORACLES = {
    # the gaps-and-islands restatement: lag marks streak starts, the
    # running sum numbers the islands, one GROUP BY folds each island —
    # the independent SQL form of the stateful streak tracker's fold
    "user_click_streaks": (
        "WITH e AS (SELECT user_id, ts, event_id,"
        f" event_type = '{STREAK_TYPE}' AS is_click"
        " FROM events WHERE user_id IS NOT NULL),"
        " lagged AS (SELECT user_id, ts, event_id, is_click,"
        " CASE WHEN is_click AND NOT COALESCE(lag(is_click) OVER"
        " (PARTITION BY user_id ORDER BY ts, event_id), FALSE)"
        " THEN 1 ELSE 0 END AS new_streak FROM e),"
        " marked AS (SELECT user_id, is_click,"
        " SUM(new_streak) OVER (PARTITION BY user_id ORDER BY ts, event_id"
        " ROWS UNBOUNDED PRECEDING) AS grp FROM lagged),"
        " streaks AS (SELECT user_id, grp, COUNT(*) AS len"
        " FROM marked WHERE is_click GROUP BY user_id, grp),"
        " per_user AS (SELECT user_id, SUM(len) AS n_clicks,"
        " MAX(len) AS longest_streak, COUNT(*) AS n_streaks"
        " FROM streaks GROUP BY user_id)"
        " SELECT e.user_id,"
        " CAST(COALESCE(n_clicks, 0) AS BIGINT) AS n_clicks,"
        " CAST(COALESCE(longest_streak, 0) AS BIGINT) AS longest_streak,"
        " CAST(COALESCE(n_streaks, 0) AS BIGINT) AS n_streaks"
        " FROM (SELECT DISTINCT user_id FROM e) e"
        " LEFT JOIN per_user USING (user_id) ORDER BY user_id"
    ),
    # the interval self-join stated directly; Spark's plan is the
    # user-key equi-join with the interval as residual predicate (and the
    # state-expiring stream-stream join when run as a stream)
    "click_purchase_attribution": (
        "WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id"
        " FROM events WHERE event_type = 'click'),"
        " p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id"
        " FROM events WHERE event_type = 'purchase')"
        " SELECT CAST(purchase_ts AS DATE) AS purchase_day,"
        " COUNT(*) AS n_pairs,"
        " COUNT(DISTINCT purchase_id) AS n_purchases,"
        f" CAST(SUM(((purchase_id % {P}) * (click_id % {P})) % {P})"
        " AS BIGINT) AS pair_binding"
        " FROM p JOIN c ON c.user_id = p.user_id"
        # the window constant is interpolated from streaming/events.py so
        # operator and oracle can never silently desync
        f" AND c.click_ts >= p.purchase_ts - INTERVAL '{ATTRIBUTION_WINDOW}'"
        " AND c.click_ts <= p.purchase_ts"
        " GROUP BY 1 ORDER BY 1"
    ),
    "events_tumbling_daily": (
        f"SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,"
        f" event_type,"
        f" COUNT(*) AS n_events, {dsum_sql('value')} AS total_value"
        f" FROM events GROUP BY 1, 2"
    ),
    # dimension + join + aggregate restated; the tier bucket reuses the
    # shared md5_mod_hash device (single owner per engine)
    "events_tier_daily": (
        "WITH tiers AS (SELECT DISTINCT user_id,"
        " 'T' || CAST("
        + md5_mod_hash_duck("('tier:' || CAST(user_id AS VARCHAR))")
        + f" % {N_TIERS} AS VARCHAR) AS tier"
        " FROM events WHERE user_id IS NOT NULL)"
        " SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,"
        f" tier, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value"
        " FROM events JOIN tiers USING (user_id)"
        " GROUP BY 1, 2"
    ),
    "events_sessionize": (
        f"WITH marked AS (SELECT user_id, ts, value,"
        f" CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)"
        f" <= INTERVAL '{SESSION_GAP_MIN} minutes' THEN 0 ELSE 1 END"
        f" AS new_session FROM events),"
        f" numbered AS (SELECT *, SUM(new_session) OVER"
        f" (PARTITION BY user_id ORDER BY ts"
        f" ROWS UNBOUNDED PRECEDING) AS session_id FROM marked)"
        f" SELECT user_id, MIN(ts) AS session_start,"
        f" MAX(ts) + INTERVAL '{SESSION_GAP_MIN} minutes' AS session_end,"
        f" COUNT(*) AS n_events, {dsum_sql('value')} AS total_value"
        f" FROM numbered GROUP BY user_id, session_id"
    ),
    # sliding 1-day/12-h windows: each event lands in exactly two windows;
    # the 12-h grid start is midnight-or-noon of the event's day (Spark's
    # epoch-aligned window() with slide 12 h on whole-second data)
    "events_sliding_daily": (
        f"WITH g AS (SELECT event_type, value,"
        f" CAST(date_trunc('day', ts) AS TIMESTAMP)"
        f" + CASE WHEN EXTRACT(hour FROM ts) >= 12"
        f" THEN INTERVAL '12 hours' ELSE INTERVAL '0 hours' END AS s1"
        f" FROM events),"
        f" x AS (SELECT event_type, value,"
        f" unnest([s1 - INTERVAL '12 hours', s1]) AS window_start FROM g)"
        f" SELECT window_start, event_type, COUNT(*) AS n_events,"
        f" {dsum_sql('value')} AS total_value"
        f" FROM x GROUP BY window_start, event_type"
    ),
    # the stream-maintained store must equal the batch tumbling aggregate,
    # plus the day partition column the foreachBatch merge derives
    "stream_daily_store": (
        f"SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,"
        f" event_type,"
        f" COUNT(*) AS n_events, {dsum_sql('value')} AS total_value,"
        f" CAST(date_trunc('day', ts) AS DATE) AS day"
        f" FROM events GROUP BY 1, 2, 5"
    ),
    # replay-dedup collapses the in-plan duplication exactly, so the
    # deduplicated totals equal the totals over the original input
    "events_dedup_replay": (
        f"SELECT event_type, COUNT(*) AS n_events,"
        f" {dsum_sql('value')} AS total_value"
        f" FROM events GROUP BY event_type"
    ),
}

ORACLES["purchase_attribution_outer"] = (
    "WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id"
    " FROM events WHERE event_type = 'click'),"
    " p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id"
    " FROM events WHERE event_type = 'purchase'),"
    " j AS (SELECT p.purchase_ts, p.purchase_id, c.click_id"
    " FROM p LEFT JOIN c ON c.user_id = p.user_id"
    f" AND c.click_ts >= p.purchase_ts - INTERVAL '{ATTRIBUTION_WINDOW}'"
    " AND c.click_ts <= p.purchase_ts)"
    " SELECT CAST(purchase_ts AS DATE) AS purchase_day,"
    " COUNT(DISTINCT purchase_id) AS n_purchases,"
    " COUNT(DISTINCT CASE WHEN click_id IS NOT NULL THEN purchase_id END)"
    " AS n_attributed,"
    " CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_organic,"
    " CAST(SUM(CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END)"
    " AS BIGINT) AS n_pairs,"
    f" CAST(SUM(CASE WHEN click_id IS NULL THEN purchase_id % {P}"
    " ELSE 0 END) AS BIGINT) AS organic_binding"
    " FROM j GROUP BY 1 ORDER BY 1"
)
