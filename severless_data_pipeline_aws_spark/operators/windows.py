"""Window functions (SURVEY §2.5) + time-window aggregations (W6).

The reference's one implicitly-windowed computation is the generator's
per-device running drift (iot-data-stream.py:166,173) — a keyed
cumulative sum, expressed here as a frame-spec window. Ranking /
lag-lead / tumbling / sliding / session windows complete the family.

Time windows are verified in batch form (the driver oracle is batch
DuckDB); the same expressions run under Structured Streaming with a
watermark (streaming/windows.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register
from ._helpers import davg, ddbl, ddbl_sql


@register(
    "window_rank_topn_per_group",
    oracle="""
        WITH ranked AS (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        )
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM ranked WHERE rn <= 3
    """,
    doc="Top-N per group via row_number (the scalable top-k-per-key pattern).",
    tags=("window", "topk"),
)
def window_rank_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t.orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "window_rank_dense_ntile",
    oracle="""
        SELECT c_custkey, c_mktsegment, c_acctbal,
               rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk,
               dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS drnk,
               ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS quartile
        FROM customer
    """,
    doc="rank/dense_rank/ntile battery.",
    tags=("window", "rank"),
)
def window_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return t.customer.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "window_lag_lead",
    oracle="""
        SELECT user_id, event_id, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
               CAST(date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS BIGINT)
                 AS secs_since_prev
        FROM events WHERE user_id <= 10
    """,
    doc="lag/lead analytics + inter-arrival gap per key.",
    tags=("window", "lag"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return t.events.filter(F.col("user_id") <= 10).select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("secs_since_prev"),
    )


@register(
    "window_running_cumsum",
    oracle="""
        SELECT user_id, event_id, ts,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,8)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_value,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
        FROM events WHERE user_id <= 10
    """,
    doc="W4-in-batch: keyed running cumulative sum (generator drift replay).",
    tags=("window", "frame"),
)
def window_running_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    return t.events.filter(F.col("user_id") <= 10).select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).over(w).cast("double").alias("running_value"),
        F.count(F.lit(1)).over(w).alias("n_so_far"),
    )


@register(
    "window_sliding_frame_avg",
    oracle="""
        SELECT user_id, event_id, ts,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,8)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
               / COUNT(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg
        FROM events WHERE user_id <= 10
    """,
    doc="Moving average over a 3-row frame (decimal-sum/count for exactness).",
    tags=("window", "frame"),
)
def window_sliding_frame_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return t.events.filter(F.col("user_id") <= 10).select(
        "user_id",
        "event_id",
        "ts",
        (
            F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).over(w).cast("double")
            / F.count("value").over(w)
        ).alias("mov_avg"),
    )


@register(
    "window_percent_rank_cume",
    oracle="""
        SELECT c_custkey, c_mktsegment, c_acctbal,
               percent_rank() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal, c_custkey) AS pct_rank,
               cume_dist() OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal, c_custkey) AS cume,
               nth_value(c_custkey, 3) OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_poorest
        FROM customer
    """,
    doc=(
        "Distribution windows: percent_rank / cume_dist (exact int-ratio "
        "doubles) + nth_value with a full-partition frame."
    ),
    tags=("window", "rank"),
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return t.customer.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("c_custkey", 3).over(w_full).alias("third_poorest"),
    )


@register(
    "window_range_frame",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                   RANGE BETWEEN 5000.0 PRECEDING AND CURRENT ROW) AS n_within_5k_below,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) OVER (
                   PARTITION BY o_orderstatus ORDER BY o_totalprice
                   RANGE BETWEEN 5000.0 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS sum_within_5k_below
        FROM orders WHERE o_orderkey <= 2000
    """,
    doc=(
        "RANGE frame (value-based, not row-based): peers within 5k of the "
        "current price — completes the frame-spec family next to the "
        "rowsBetween queries. Value frames are order-of-peers insensitive, "
        "so exact-hash safe."
    ),
    tags=("window", "frame", "range"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-5000, W.currentRow)
    )
    t = Tables(spark, sf_dir)
    return t.orders.filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_within_5k_below"),
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(38,8))")).over(w).cast("double").alias(
            "sum_within_5k_below"
        ),
    )


@register(
    "window_first_last_value",
    oracle="""
        SELECT user_id, event_id, ts, event_type,
               first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_type,
               last_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
        FROM events WHERE user_id <= 10
    """,
    doc="first_value/last_value with explicit full-partition frame.",
    tags=("window",),
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return t.events.filter(F.col("user_id") <= 10).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
    )


@register(
    "tumbling_window_agg",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="W6: tumbling 1-hour window agg (batch-verified; streaming twin in streaming/windows.py).",
    tags=("window", "time"),
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@register(
    "sliding_window_agg",
    oracle="""
        WITH offsets AS (SELECT 0 AS off UNION ALL SELECT 30),
        slid AS (
            SELECT date_trunc('hour', ts - to_minutes(off)) + to_minutes(off) AS window_start,
                   value
            FROM events CROSS JOIN offsets
        )
        SELECT window_start, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS total_value
        FROM slid GROUP BY window_start
    """,
    doc="W6: sliding window (1h length, 30min slide) — each row lands in 2 windows.",
    tags=("window", "time"),
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@register(
    "session_window_agg",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                             OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events WHERE user_id <= 20
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, MIN(ts) AS session_start,
               MAX(ts) AS session_end, COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    """,
    doc=(
        "Sessionization (30-min gap): lag + cumsum flag — the batch twin of "
        "F.session_window. Both sides computed with the same algorithm so "
        "session ids align."
    ),
    tags=("window", "session"),
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("user_id") <= 20)
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w_order).isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_order))) > 1800),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(w_cum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "session_window_native",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                             OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events WHERE user_id <= 20
        ),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, sid
    """,
    doc=(
        "W6: Spark's NATIVE F.session_window (30-min gap) — oracle is the "
        "lag+cumsum sessionization with end = last_ts + gap, which is "
        "exactly session_window's window-end semantics. Complements "
        "session_window_agg (the manual twin) by verifying the built-in."
    ),
    tags=("window", "session"),
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.filter(F.col("user_id") <= 20)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "window_time_range_frame",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
            FROM events WHERE user_id <= 10
        )
        SELECT user_id, event_id, ts_sec,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) OVER w AS VARCHAR) AS DOUBLE)
                   AS sum_last_hour
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                     RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
    doc=(
        "Time-based RANGE frame: per user, the trailing 1-hour event "
        "count and (exact decimal) value sum at every event — the "
        "sliding aggregate row frames can't express when events are "
        "irregularly spaced. Ordered on floored epoch seconds so both "
        "engines frame identically (DuckDB's epoch() keeps fractions, "
        "Spark's unix_timestamp floors). One shuffle on user_id."
    ),
    tags=("window", "timeseries"),
)
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3599, W.currentRow)
    )
    return (
        t.events.filter(F.col("user_id") <= 10)
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").alias("ts_sec"),
            "value",
        )
        .select(
            "user_id",
            "event_id",
            "ts_sec",
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_last_hour"),
            F.sum(F.expr("CAST(value AS DECIMAL(38,8))"))
            .over(w)
            .cast("double")
            .alias("sum_last_hour"),
        )
    )


@register(
    "session_window_dynamic_gap",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, epoch_ms(ts) AS tms,
                   CASE WHEN event_type = 'click' THEN 900000 ELSE 1800000 END AS gap_ms,
                   value
            FROM events WHERE user_id <= 20
        ),
        chained AS (
            SELECT *, MAX(tms + gap_ms) OVER (
                       PARTITION BY user_id ORDER BY tms, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
            FROM ev
        ),
        flagged AS (
            SELECT *, CASE WHEN prev_end IS NULL OR tms >= prev_end THEN 1 ELSE 0 END AS ns
            FROM chained
        ),
        sess AS (
            SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY tms, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged
        )
        SELECT user_id,
               CAST(MIN(tms) AS BIGINT) AS session_start_ms,
               CAST(MAX(tms + gap_ms) AS BIGINT) AS session_end_ms,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                   AS total_value
        FROM sess
        GROUP BY user_id, sid
        ORDER BY user_id, session_start_ms
    """,
    doc=(
        "Native session_window with a DYNAMIC per-event gap (clicks "
        "time out after 15 min, everything else 30): each event extends "
        "its session by its own gap, sessions merge while intervals "
        "overlap. The oracle replays Spark's merge rule as a running "
        "max of (ts + gap) — an event starts a new session iff it "
        "begins at/after every previous event's deadline. Millisecond-"
        "epoch outputs keep both engines' interval arithmetic identical."
    ),
    tags=("window", "session", "timeseries"),
)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    gap = F.when(F.col("event_type") == "click", "15 minutes").otherwise("30 minutes")
    return (
        t.events.filter(F.col("user_id") <= 20)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start").cast("timestamp")).alias("session_start_ms"),
            F.unix_millis(F.col("sw.end").cast("timestamp")).alias("session_end_ms"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start_ms")
    )


@register(
    "window_share_of_total",
    oracle="""
        WITH c AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   event_type, COUNT(*) AS n_events
            FROM events GROUP BY day, event_type
        )
        SELECT day, event_type, n_events,
               CAST(n_events AS DOUBLE) /
                   CAST(SUM(n_events) OVER (PARTITION BY day) AS BIGINT)
                   AS share
        FROM c
    """,
    doc=(
        "Ratio-to-report: each (day, event_type) count as a share of "
        "its day's total via an unordered partition-total window — the "
        "frameless window shape (no sort, no running state; one "
        "exchange on day reused from the pre-agg under AQE). The "
        "division is a single op on exact integers, so the doubles "
        "hash-match across engines — contrast with summing doubles, "
        "which is partition-order-dependent and never hash-safe."
    ),
    tags=("window", "agg"),
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    c = (
        t.events.groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = W.partitionBy("day")
    return c.select(
        "day",
        "event_type",
        "n_events",
        (F.col("n_events").cast("double") / F.sum("n_events").over(w)).alias("share"),
    )


@register(
    "window_cumulative_distinct",
    oracle="""
        SELECT event_id, user_id, event_type,
               COUNT(DISTINCT event_type)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS n_types_seen
        FROM events
    """,
    doc=(
        "Running COUNT(DISTINCT) per key — Spark has no DISTINCT window "
        "aggregate, so it is rewritten as the standard two-window form: "
        "a first-occurrence flag (row_number over (user, type) == 1) "
        "summed cumulatively over the user's timeline. Both windows "
        "hash-partition on user_id only, so AQE reuses one exchange; "
        "state per row is O(1) vs the O(types) a collect_set rewrite "
        "would carry — the form that survives wide keys at 100 TB. The "
        "oracle runs DuckDB's native DISTINCT window aggregate, so the "
        "rewrite is verified against an independent implementation."
    ),
    tags=("window", "distinct"),
)
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        t.events.withColumn(
            "is_first", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
        )
        .withColumn("n_types_seen", F.sum("is_first").over(w_run))
        .select("event_id", "user_id", "event_type", "n_types_seen")
    )


@register(
    "window_streaks_gaps_islands",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events
        ),
        g AS (
            SELECT user_id, day,
                   day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                              AS INTEGER) AS anchor
            FROM days
        ),
        s AS (
            SELECT user_id, anchor, COUNT(*) AS len, MAX(day) AS streak_end
            FROM g GROUP BY user_id, anchor
        )
        SELECT user_id,
               COUNT(*) AS n_streaks,
               MAX(len) AS longest_streak,
               MAX(streak_end) AS last_active_day
        FROM s GROUP BY user_id
    """,
    doc=(
        "Gaps-and-islands: per-user runs of consecutive active days via "
        "the classic day - row_number() anchor (consecutive days share "
        "an anchor), then one aggregate per island and one per user. "
        "The distinct, both windows, and both aggregates all partition "
        "on user_id, so the whole plan is a single hash exchange — no "
        "self-join, no per-island shuffle; the session_window analog for "
        "calendar-grain data at any scale."
    ),
    tags=("window", "sessionize"),
)
def window_streaks_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    days = t.events.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    islands = (
        days.withColumn("rn", F.row_number().over(w))
        .withColumn("anchor", F.date_sub(F.col("day"), F.col("rn")))
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("len"), F.max("day").alias("streak_end"))
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.max("streak_end").alias("last_active_day"),
    )


@register(
    "window_median_sliding",
    oracle="""
        SELECT event_id, user_id,
               median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS median_7
        FROM events
    """,
    doc=(
        "Rolling exact median over a trailing 7-row frame — the robust "
        "smoother a dashboard uses where a moving average would chase "
        "outliers. Spark has no ordered-set window aggregate, so the "
        "frame is materialized with collect_list OVER the same frame, "
        "array_sort'ed, and the middle element(s) picked: O(frame log "
        "frame) per row with frame=7, state bounded by the frame — "
        "scale-safe for any corpus length since cost is rows x frame, "
        "never rows x history. Even-length frames interpolate as "
        "(lo + hi) / 2 in doubles, matching DuckDB's native windowed "
        "median bit-for-bit (selection + one IEEE add/divide, no "
        "accumulation-order dependence)."
    ),
    tags=("window", "median"),
)
def window_median_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    vals = F.array_sort(F.collect_list("value").over(w))
    n = F.size(vals)
    return t.events.select(
        "event_id",
        "user_id",
        F.when(
            n % 2 == 1,
            F.element_at(vals, ((n + F.lit(1)) / F.lit(2)).cast("int")),
        )
        .otherwise(
            (
                F.element_at(vals, (n / F.lit(2)).cast("int"))
                + F.element_at(vals, (n / F.lit(2)).cast("int") + 1)
            )
            / F.lit(2.0)
        )
        .alias("median_7"),
    )


_SESS_GAP_S = 600  # inactivity gap: 10 minutes
_SESS_CAP_S = 3600  # hard cap: no session longer than 1 hour


@register(
    "session_window_gap_and_cap",
    oracle=f"""
        WITH RECURSIVE ev AS (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        walk AS (
            SELECT user_id, rn, ts, ts AS s_start
            FROM ev WHERE rn = 1
            UNION ALL
            SELECT e.user_id, e.rn, e.ts,
                   CASE WHEN e.ts > w.ts + INTERVAL {_SESS_GAP_S} SECOND
                          OR e.ts > w.s_start + INTERVAL {_SESS_CAP_S} SECOND
                        THEN e.ts ELSE w.s_start END
            FROM ev e JOIN walk w
              ON e.user_id = w.user_id AND e.rn = w.rn + 1
        ),
        sess AS (
            SELECT user_id, s_start,
                   MAX(ts) AS session_end,
                   COUNT(*) AS n_events
            FROM walk GROUP BY user_id, s_start
        )
        SELECT user_id,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY s_start) - 1 AS INTEGER)
                 AS session_idx,
               s_start AS session_start,
               session_end,
               CAST(n_events AS BIGINT) AS n_events
        FROM sess
    """,
    doc=(
        "Sessionization with BOTH an inactivity gap (10 min) and a hard "
        "duration cap (1 h): an event opens a new session when it is "
        "more than the gap after the previous event OR more than the "
        "cap after the CURRENT session's start. The cap makes this a "
        "sequential recurrence — each decision depends on the session "
        "start chosen by earlier decisions — which no window function "
        "or session_window() can express (gap-only sessions are the "
        "running-max trick; gap+cap is not). Implemented as "
        "applyInPandas per user: sequential within a key, parallel "
        "across keys, O(events-per-user) memory — the same "
        "shape-contract as the streaming stateful operators. Output is "
        "one row per session (start/end/n_events), deterministic. "
        "Oracled since r3: a DuckDB RECURSIVE CTE walks the identical "
        "recurrence one event-rank per iteration (all comparisons are "
        "exact timestamp arithmetic — hash-safe); pytest additionally "
        "replays an exact brute-force Python twin and asserts the "
        "gap/cap invariants."
    ),
    tags=("window", "sessionize", "custom"),
)
def session_window_gap_and_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts", "event_id")

    schema = (
        "user_id bigint, session_idx int, session_start timestamp, "
        "session_end timestamp, n_events bigint"
    )

    def _sessionize(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # r11 (guide §4.2): the recurrence is inherently sequential, but
        # iterating pandas Timestamps built a Timestamp + timedelta
        # object pair per event (.total_seconds() each); the same exact
        # comparisons run on raw int64 epoch-nanos (timestamps carry
        # micro precision, so ns-integer vs ns-threshold compares are
        # bit-equivalent to the float total_seconds() > seconds form).
        import numpy as np

        ts_ns = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64")
        # r12 (advice): NaT becomes INT64_MIN here and would sort FIRST
        # (the pandas path sorted NaT last with always-False gap
        # compares) — events.ts is contractually non-null, so enforce
        # the contract rather than let the two code paths diverge.
        if len(ts_ns) and ts_ns.min() == -(2**63):
            raise ValueError("session_window_gap_and_cap: null ts in events")
        order = np.lexsort((pdf["event_id"].to_numpy(), ts_ns))
        gap_ns = _SESS_GAP_S * 1_000_000_000
        cap_ns = _SESS_CAP_S * 1_000_000_000
        out = []
        idx = -1
        start = end = 0
        n = 0
        for ts in ts_ns[order].tolist():
            if idx < 0 or ts - end > gap_ns or ts - start > cap_ns:
                if idx >= 0:
                    out.append((idx, start, end, n))
                idx += 1
                start, n = ts, 0
            end = ts
            n += 1
        if idx >= 0:
            out.append((idx, start, end, n))
        cols = np.array(out, dtype="int64").reshape(-1, 4)
        return pd.DataFrame(
            {
                "user_id": np.full(len(out), pdf["user_id"].iloc[0], dtype="int64"),
                "session_idx": cols[:, 0].astype("int32"),
                "session_start": cols[:, 1].astype("datetime64[ns]"),
                "session_end": cols[:, 2].astype("datetime64[ns]"),
                "n_events": cols[:, 3],
            }
        )

    return ev.groupBy("user_id").applyInPandas(_sessionize, schema=schema)


@register(
    "window_max_drawdown",
    oracle="""
        WITH eq AS (
            SELECT user_id, event_id, ts,
                   SUM(CAST(value AS DECIMAL(38,8)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS equity
            FROM events WHERE user_id <= 10
        )
        SELECT user_id, event_id,
               CAST(CAST(equity AS VARCHAR) AS DOUBLE) AS equity,
               CAST(CAST(MAX(equity) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) - equity
                         AS VARCHAR) AS DOUBLE) AS drawdown
        FROM eq
    """,
    doc=(
        "Running maximum drawdown: the cumulative series (decimal-exact "
        "running sum of value) against its running peak, per user — the "
        "risk-monitoring window every trading/SLO dashboard carries. "
        "Stacked windows share one (user_id, ts) sort: Catalyst plans a "
        "single exchange + sort feeding both frames. peak - equity "
        "happens in DECIMAL (exact), doubles appear only at output."
    ),
    tags=("window", "frame", "timeseries"),
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    equity = F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).over(w)
    return t.events.filter(F.col("user_id") <= 10).select(
        "user_id",
        "event_id",
        equity.cast("double").alias("equity"),
        (F.max(equity).over(w) - equity).cast("double").alias("drawdown"),
    )


@register(
    "window_nth_value_per_key",
    oracle="""
        WITH w AS (
            SELECT o_custkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS rn,
                   COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders,
                   nth_value(o_totalprice, 3) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                       AS third_price,
                   first_value(o_totalprice) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                       AS first_price
            FROM orders
        )
        SELECT o_custkey, CAST(n_orders AS BIGINT) AS n_orders,
               CAST(first_price AS DOUBLE) AS first_price,
               CAST(third_price AS DOUBLE) AS third_price
        FROM w WHERE rn = 1
    """,
    doc=(
        "nth_value over a full-partition frame: each customer's first "
        "and THIRD order amount in date order (third is NULL for "
        "customers with fewer than three orders — nth_value's framed "
        "NULL semantics, which lag/lead can't express without a "
        "self-join). One shuffle on custkey serves all three window "
        "functions plus the row_number used to keep one row per key."
    ),
    tags=("window",),
)
def window_nth_value_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    full = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    ordered = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t.orders.select(
            "o_custkey",
            F.row_number().over(ordered).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("o_custkey")).alias("n_orders"),
            F.nth_value("o_totalprice", 3).over(full).alias("third_price"),
            F.first("o_totalprice").over(full).alias("first_price"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("first_price").cast("double").alias("first_price"),
            F.col("third_price").cast("double").alias("third_price"),
        )
    )


_EWMA_ALPHA = 0.2


@register(
    "timeseries_ewma_smooth",
    # The sequential IEEE recurrence y_n = a*x_n + (1-a)*y_{n-1} IS
    # SQL-expressible after all: a recursive CTE replays it in the same
    # order with the same two roundings per step, and pandas
    # ewm(adjust=False) divides by (old_wt+new_wt) which is EXACTLY 1.0
    # for a=0.2 (0.8+0.2 rounds to 1.0), so the oracle bit-matches the
    # applyInPandas path — verified empirically over 500 random steps
    # before wiring, and at sf0.001/0.01/0.1 by the gate. The pytest
    # pandas-replay + partition-invariance checks remain.
    oracle="""
        WITH RECURSIVE base AS MATERIALIZED (
            SELECT user_id, event_id, ts, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE user_id <= 20
        ),
        r AS (
            SELECT user_id, event_id, ts, value, rn, value AS ewma
            FROM base WHERE rn = 1
            UNION ALL
            SELECT b.user_id, b.event_id, b.ts, b.value, b.rn,
                   0.2 * b.value + 0.8 * r.ewma
            FROM base b
            JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1
        )
        SELECT user_id, event_id, ts, value, ewma FROM r
    """,
    doc=(
        "Exponentially-weighted moving average per user stream (alpha "
        "= 0.2): the dashboard smoother the max-drawdown / moving-"
        "average family lacks. The recurrence's floating-point value "
        "depends on evaluation ORDER, so a window-function rewrite "
        "(sum of a^(n-k) x_k) would both overflow a^-k at stream "
        "length and round differently — instead it runs as "
        "applyInPandas per key: sequential within a user, parallel "
        "across users, O(1) state per row, the same shape-contract as "
        "the stateful streaming ops. pytest pins bit-equality against "
        "pandas ewm(adjust=False) and partition-count invariance."
    ),
    tags=("window", "timeseries", "custom"),
)
def timeseries_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("user_id") <= 20).select(
        "user_id", "ts", "event_id", "value"
    )

    schema = "user_id bigint, event_id bigint, ts timestamp, value double, ewma double"

    def _ewma(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        pdf["ewma"] = pdf["value"].ewm(alpha=_EWMA_ALPHA, adjust=False).mean()
        return pdf[["user_id", "event_id", "ts", "value", "ewma"]]

    return ev.groupBy("user_id").applyInPandas(_ewma, schema=schema)


@register(
    "window_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    """,
    doc=(
        "First-order behavior transition matrix: counts of consecutive "
        "(prev event → next event) pairs per user timeline — the "
        "sufficient statistic for a Markov model of user behavior "
        "(next-action prediction, bot detection via impossible "
        "transitions). lag() over the user sort gives every adjacent "
        "pair in ONE pass — the self-join formulation pairs each event "
        "with its successor explicitly and shuffles twice; this "
        "shuffles once on user_id, then the |types|² count table "
        "aggregates map-side."
    ),
    tags=("window", "agg", "markov"),
)
def window_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


_DEBOUNCE_HI = 90.0  # alert asserts above this value


@register(
    "window_alert_debounce",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   value > {_DEBOUNCE_HI} AS is_alert,
                   lag(value > {_DEBOUNCE_HI}) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS was_alert
            FROM events
        )
        SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS value,
               CASE WHEN is_alert THEN 'raised' ELSE 'cleared' END AS edge
        FROM flagged
        WHERE (was_alert IS NULL AND is_alert)
           OR (was_alert IS NOT NULL AND is_alert != was_alert)
    """,
    doc=(
        "Alert debouncing / edge detection: emit only the TRANSITIONS "
        "of a threshold predicate (raised on false→true, cleared on "
        "true→false, plus an initial raise) instead of re-alerting on "
        "every breaching row — what turns a 100 TB metric stream's "
        "millions of breaching rows into the handful of pages an "
        "on-call actually wants. One lag() over the per-key sort; the "
        "filter keeps state edges only. The streaming twin is "
        "flatMapGroupsWithState carrying was_alert — same per-key "
        "O(1) state, here expressed in batch."
    ),
    tags=("window", "anomaly", "dashboard"),
)
def window_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    is_alert = F.col("value") > _DEBOUNCE_HI
    flagged = t.events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        is_alert.alias("is_alert"),
        F.lag(is_alert).over(w).alias("was_alert"),
    )
    return flagged.filter(
        (F.col("was_alert").isNull() & F.col("is_alert"))
        | (F.col("was_alert").isNotNull() & (F.col("is_alert") != F.col("was_alert")))
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").cast("double").alias("value"),
        F.when(F.col("is_alert"), "raised").otherwise("cleared").alias("edge"),
    )


@register(
    "window_interval_merge_overlaps",
    oracle="""
        WITH iv AS (
            SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
            FROM events
        ),
        flagged AS (
            SELECT user_id, s, e,
                   CASE WHEN s > MAX(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_span
            FROM iv
        ),
        spans AS (
            SELECT user_id, s, e,
                   SUM(new_span) OVER (PARTITION BY user_id ORDER BY s, e
                                       ROWS UNBOUNDED PRECEDING) AS span_id
            FROM flagged
        )
        SELECT user_id, CAST(span_id AS BIGINT) AS span_id,
               MIN(s) AS span_start, MAX(e) AS span_end,
               CAST(COUNT(*) AS BIGINT) AS n_intervals
        FROM spans
        GROUP BY user_id, span_id
    """,
    doc=(
        "Interval union / overlap merging per key — the calendar-merge "
        "/ downtime-coalescing primitive (each event opens a 30-minute "
        "activity interval; overlapping intervals fuse into maximal "
        "spans). The trick that keeps it one pass: an interval starts a "
        "new span iff its start exceeds the running MAX of all earlier "
        "ends (not just the previous end — an early long interval can "
        "swallow later short ones, which is what breaks the naive lag() "
        "formulation); the flag's running sum then names the spans. "
        "Both windows and the final group-by share one (user_id) "
        "partitioning — a single shuffle end-to-end. Timestamps "
        "compare exactly, so the span boundaries are hash-exact. NULL "
        "first-row MAX handled identically on both engines (s > NULL "
        "is false -> first interval flags 0, spans number from the "
        "cumulative sum with the first span id 0)."
    ),
    tags=("window", "timeseries", "sessionization"),
)
def window_interval_merge_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    iv = t.events.select(
        "user_id",
        F.col("ts").alias("s"),
        F.expr("ts + INTERVAL 30 MINUTE").alias("e"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("user_id").orderBy("s", "e").rowsBetween(W.unboundedPreceding, 0)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0).alias("new_span"),
    )
    spans = flagged.select(
        "user_id", "s", "e", F.sum("new_span").over(w_run).alias("span_id")
    )
    return spans.groupBy("user_id", F.col("span_id").cast("bigint").alias("span_id")).agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
    )


@register(
    "window_concurrency_from_intervals",
    oracle="""
        WITH iv AS (
            SELECT user_id, ts AS s,
                   ts + INTERVAL 30 MINUTE AS e
            FROM events WHERE event_type IN ('view', 'click')
        ),
        bounds AS (
            SELECT s AS t, 1 AS delta, user_id FROM iv
            UNION ALL
            SELECT e AS t, -1 AS delta, user_id FROM iv
        ),
        running AS (
            SELECT t, delta,
                   SUM(delta) OVER (ORDER BY t, delta, user_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS concurrency
            FROM bounds
        )
        SELECT CAST(t AS DATE) AS day,
               CAST(MAX(concurrency) AS BIGINT) AS peak_concurrency
        FROM running
        GROUP BY CAST(t AS DATE)
    """,
    doc=(
        "Peak concurrency from intervals (the interval-stabbing "
        "classic): each view/click opens a 30-minute activity "
        "interval; +1/-1 boundary events sorted by time with a running "
        "sum give instantaneous concurrency, and the day-grain MAX is "
        "the capacity-planning output. Ends sort with delta=-1 BEFORE "
        "the +1 of an interval starting at the same instant (delta "
        "ASC), so touching intervals never double-count. The running "
        "sum is the two-pass bucket-offset prefix sum "
        "(operators/scalable.py, day buckets — natural, balanced, and "
        "monotone in the time order): per-day delta totals roll into "
        "carry-in offsets, each day accumulates in parallel — no "
        "single-partition window over the boundary stream."
    ),
    tags=("window", "timeseries", "interval"),
)
def window_concurrency_from_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_running_sum

    t = Tables(spark, sf_dir)
    iv = t.events.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("s"),
        F.expr("ts + INTERVAL 30 MINUTE").alias("e"),
    )
    bounds = (
        iv.select(F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id")
        .unionAll(iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"), "user_id"))
        .localCheckpoint(eager=False)  # reused by per-day totals + the data pass
    )
    running = bucketed_running_sum(
        bounds, F.to_date("t"), ["t", "delta", "user_id"], "delta", out="concurrency"
    )
    return (
        running.groupBy(F.col("t").cast("date").alias("day"))
        .agg(F.max("concurrency").cast("bigint").alias("peak_concurrency"))
    )


@register(
    "window_rolling_minmax_scaler",
    oracle="""
        WITH scaled AS (
            SELECT event_type, event_id, value,
                   MIN(value) OVER w AS w_min,
                   MAX(value) OVER w AS w_max,
                   COUNT(*) OVER w AS n_window
            FROM events
            WHERE value IS NOT NULL AND user_id <= 20
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, event_id, value, w_min, w_max,
               CASE WHEN w_max > w_min
                    THEN (value - w_min) / (w_max - w_min) END AS scaled_value
        FROM scaled
        WHERE n_window = 20
    """,
    doc=(
        "Rolling min-max feature scaling (the online normalizer for "
        "drift-prone sensor features): each value rescaled to [0, 1] "
        "against its trailing 20-observation window. MIN/MAX window "
        "aggregates are SELECTIONS, not sums — no accumulation-order "
        "float hazard — and the rescale is one shared per-row "
        "expression; degenerate (constant or partial) windows are "
        "excluded on integer counts / exact comparisons. One sort per "
        "type partition serves all three window aggregates."
    ),
    tags=("window", "ml", "timeseries"),
)
def window_rolling_minmax_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, W.currentRow)
    )
    scaled = t.events.filter(
        F.col("value").isNotNull() & (F.col("user_id") <= 20)
    ).select(
        "event_type",
        "event_id",
        "value",
        F.min("value").over(w).alias("w_min"),
        F.max("value").over(w).alias("w_max"),
        F.count(F.lit(1)).over(w).alias("n_window"),
    )
    return scaled.filter(F.col("n_window") == 20).select(
        "event_type",
        "event_id",
        "value",
        "w_min",
        "w_max",
        F.expr(
            "CASE WHEN w_max > w_min THEN (value - w_min) / (w_max - w_min) END"
        ).alias("scaled_value"),
    )


def _bollinger_final(dbl) -> str:
    """Shared Bollinger closed form over exact 7-day DECIMAL sums."""
    mean = f"({dbl('sx')} / {dbl('nw')})"
    sd = (
        f"sqrt(({dbl('nw')} * {dbl('sxx')} - {dbl('sx')} * {dbl('sx')})"
        f" / ({dbl('nw')} * ({dbl('nw')} - 1.0)))"
    )
    return f"""
        SELECT day, {dbl('x')} AS revenue,
               {mean} AS ma7,
               {mean} + 2.0 * {sd} AS upper_band,
               {mean} - 2.0 * {sd} AS lower_band,
               CAST({dbl('x')} > {mean} + 2.0 * {sd}
                    OR {dbl('x')} < {mean} - 2.0 * {sd} AS BOOLEAN) AS breach
        FROM {{src}}
        WHERE nw = 7
        ORDER BY day
    """


@register(
    "window_bollinger_bands",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x
            FROM orders GROUP BY 1
        ),
        bollinger_day_sums AS (
            SELECT day, x,
                   COUNT(*) OVER w AS nw,
                   SUM(x) OVER w AS sx,
                   SUM(CAST(x AS DECIMAL(19,4)) * x) OVER w AS sxx
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        {_bollinger_final(ddbl_sql).format(src='bollinger_day_sums')}
    """,
    doc=(
        "Bollinger bands on daily revenue: 7-day moving average with "
        "+/-2 sample-stdev envelopes and a breach flag — the classic "
        "volatility-aware alert band a metrics dashboard draws. Rolling "
        "mean and stdev come from exact DECIMAL window sums (sum and "
        "sum-of-squares over ROWS 6 PRECEDING; the 19,4 widening keeps "
        "the square exact on both engines' int128 paths), evaluated "
        "through the shared closed form sqrt((n*sxx - sx^2)/(n(n-1))). "
        "The only window runs over the calendar-bounded day table — "
        "the orders fact is reduced to day grain in one aggregate "
        "first, so no fact-grain global order exists at any scale."
    ),
    tags=("window", "timeseries", "quality"),
)
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))").alias(
            "x"
        )
    )
    w = W.orderBy("day").rowsBetween(-6, W.currentRow)
    sums = daily.select(
        "day",
        "x",
        F.count(F.lit(1)).over(w).alias("nw"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,4)) * x")).over(w).alias("sxx"),
    )
    return spark.sql(_bollinger_final(ddbl), src=sums)


_HW_M = 7  # season length (weekly)

#: the three recurrence expressions, templated so the repeated
#: sub-expressions (DuckDB can't reference sibling SELECT aliases)
#: round identically everywhere they appear. All smoothing constants
#: are DYADIC (0.5, 0.25, 0.75) — exactly representable doubles, so
#: both engines do the same IEEE ops in the same order.
_HW_Y = "CAST(b.y AS DOUBLE)"
_HW_LVL = f"0.5 * ({_HW_Y} - r.sl[1]) + 0.5 * (r.lvl + r.tr)"
_HW_TR = f"0.25 * (({_HW_LVL}) - r.lvl) + 0.75 * r.tr"
_HW_SNEW = f"0.25 * ({_HW_Y} - ({_HW_LVL})) + 0.75 * r.sl[1]"


@register(
    "timeseries_holt_winters_additive",
    oracle=f"""
        WITH RECURSIVE daily AS MATERIALIZED (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS y,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY CAST(ts AS DATE)) - 1 AS t
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        init AS (
            SELECT event_type, list(CAST(y AS DOUBLE) ORDER BY t) AS ys
            FROM daily WHERE t < {2 * _HW_M}
            GROUP BY event_type
            HAVING COUNT(*) >= {2 * _HW_M}
        ),
        sums AS (
            SELECT event_type,
                   list_reduce(ys[1:{_HW_M}], (x, y) -> x + y) AS s1,
                   list_reduce(ys[{_HW_M + 1}:{2 * _HW_M}],
                               (x, y) -> x + y) AS s2,
                   ys
            FROM init
        ),
        seed AS (
            SELECT event_type,
                   s1 / {float(_HW_M)} AS lvl,
                   (s2 - s1) / {float(_HW_M * _HW_M)} AS tr,
                   list_transform(ys[1:{_HW_M}],
                                  v -> v - s1 / {float(_HW_M)}) AS sl
            FROM sums
        ),
        r AS (
            SELECT event_type, {_HW_M - 1} AS t, lvl, tr, sl,
                   CAST(NULL AS DATE) AS d, CAST(NULL AS BIGINT) AS y,
                   CAST(NULL AS DOUBLE) AS seasonal,
                   CAST(NULL AS DOUBLE) AS fitted
            FROM seed
            UNION ALL
            SELECT b.event_type, b.t,
                   {_HW_LVL} AS lvl,
                   {_HW_TR} AS tr,
                   r.sl[2:{_HW_M}] || [{_HW_SNEW}] AS sl,
                   b.d, b.y,
                   {_HW_SNEW} AS seasonal,
                   r.lvl + r.tr + r.sl[1] AS fitted
            FROM daily b
            JOIN r ON b.event_type = r.event_type AND b.t = r.t + 1
        )
        SELECT event_type, d, y, lvl AS level, tr AS trend,
               seasonal, fitted
        FROM r WHERE y IS NOT NULL
    """,
    doc=(
        "Additive Holt-Winters (triple exponential smoothing, weekly "
        "season m=7, alpha=0.5 beta=0.25 gamma=0.25) over each event "
        "type's daily count series — level + trend + seasonal state "
        "with one-step-ahead fitted values, the batch companion of "
        "the streaming Holt forecaster. The recurrence is inherently "
        "sequential in t, so it runs as applyInPandas per event type: "
        "serial within a series, parallel across series, the same "
        "calendar-bounded contract as the EWMA smoother (a series is "
        "days long, never fact-grain). All smoothing constants are "
        "DYADIC doubles and every expression is parenthesized "
        "identically in the pandas loop and the oracle's recursive "
        "CTE (which carries the 7-slot seasonal state as a LIST "
        "column), so the two engines execute the same IEEE additions "
        "and multiplies in the same order — hash-exact, not "
        "approximately equal. Init: level = mean of week 1, trend = "
        "(sum week 2 - sum week 1)/m^2, seasonals = week-1 residuals; "
        "types with under 2m observed days emit nothing on both "
        "engines."
    ),
    tags=("timeseries", "window", "custom"),
)
def timeseries_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    daily = (
        t.events.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )

    schema = (
        "event_type string, d date, y bigint, level double,"
        " trend double, seasonal double, fitted double"
    )
    m = _HW_M

    def _hw(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d", kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        if n < 2 * m:
            return pd.DataFrame(
                columns=["event_type", "d", "y", "level", "trend", "seasonal", "fitted"]
            )
        y = [float(v) for v in pdf["y"]]
        s1 = 0.0
        for i in range(m):
            s1 = s1 + y[i]
        s2 = 0.0
        for i in range(m, 2 * m):
            s2 = s2 + y[i]
        lvl = s1 / float(m)
        tr = (s2 - s1) / float(m * m)
        season = [y[i] - s1 / float(m) for i in range(m)]
        out = []
        for tt in range(m, n):
            s0 = season[tt - m]
            fitted = lvl + tr + s0
            new_lvl = 0.5 * (y[tt] - s0) + 0.5 * (lvl + tr)
            new_tr = 0.25 * (new_lvl - lvl) + 0.75 * tr
            new_s = 0.25 * (y[tt] - new_lvl) + 0.75 * s0
            season.append(new_s)
            out.append(
                (
                    pdf["event_type"].iloc[tt],
                    pdf["d"].iloc[tt],
                    int(pdf["y"].iloc[tt]),
                    new_lvl,
                    new_tr,
                    new_s,
                    fitted,
                )
            )
            lvl, tr = new_lvl, new_tr
        return pd.DataFrame(
            out,
            columns=["event_type", "d", "y", "level", "trend", "seasonal", "fitted"],
        )

    return daily.groupBy("event_type").applyInPandas(_hw, schema=schema)


@register(
    "window_rsi_indicator",
    oracle="""
        WITH daily AS (
            SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x
            FROM orders GROUP BY 1, 2
        ),
        deltas AS (
            SELECT priority, day,
                   x - lag(x) OVER (PARTITION BY priority ORDER BY day) AS delta
            FROM daily
        ),
        gl AS (
            SELECT priority, day,
                   CASE WHEN delta > 0 THEN delta ELSE CAST(0 AS DECIMAL(19,4)) END AS gain,
                   CASE WHEN delta < 0 THEN -delta ELSE CAST(0 AS DECIMAL(19,4)) END AS loss
            FROM deltas WHERE delta IS NOT NULL
        ),
        rolled AS (
            SELECT priority, day,
                   COUNT(*) OVER w AS nw,
                   SUM(gain) OVER w AS sg,
                   SUM(loss) OVER w AS sl
            FROM gl
            WINDOW w AS (PARTITION BY priority ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT priority, day,
               CAST(CAST(sg AS VARCHAR) AS DOUBLE) AS sum_gain,
               CAST(CAST(sl AS VARCHAR) AS DOUBLE) AS sum_loss,
               CASE WHEN sg + sl = 0 THEN 50.0
                    ELSE (100.0 * CAST(CAST(sg AS VARCHAR) AS DOUBLE))
                         / CAST(CAST(sg + sl AS VARCHAR) AS DOUBLE) END AS rsi
        FROM rolled WHERE nw = 14
        ORDER BY priority, day
    """,
    doc=(
        "W20: 14-day RSI (relative strength index, Cutler's simple-mean "
        "form) on daily revenue per order priority — the momentum "
        "oscillator a metrics dashboard draws next to Bollinger bands "
        "(W17). Day deltas, gains, and losses are exact DECIMALs; the "
        "14-row rolling sums stay decimal until the final "
        "correctly-rounded DOUBLE cast, so RSI = 100*sg/(sg+sl) is the "
        "same IEEE division on both engines (flat windows define RSI "
        "50). The only windows run over the calendar-bounded per-"
        "priority day series — the orders fact is reduced to day grain "
        "in one aggregate first, so no fact-grain ordering exists at "
        "any scale and partitions are bounded by days-per-priority."
    ),
    tags=("window", "timeseries"),
)
def window_rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))").alias("x")
    )
    wl = W.partitionBy("priority").orderBy("day")
    deltas = daily.select(
        "priority", "day", (F.col("x") - F.lag("x").over(wl)).alias("delta")
    ).filter(F.col("delta").isNotNull())
    gl = deltas.select(
        "priority",
        "day",
        F.expr(
            "CASE WHEN delta > 0 THEN delta ELSE CAST(0 AS DECIMAL(19,4)) END"
        ).alias("gain"),
        F.expr(
            "CASE WHEN delta < 0 THEN -delta ELSE CAST(0 AS DECIMAL(19,4)) END"
        ).alias("loss"),
    )
    wr = W.partitionBy("priority").orderBy("day").rowsBetween(-13, W.currentRow)
    rolled = gl.select(
        "priority",
        "day",
        F.count(F.lit(1)).over(wr).alias("nw"),
        F.sum("gain").over(wr).alias("sg"),
        F.sum("loss").over(wr).alias("sl"),
    )
    return (
        rolled.filter(F.col("nw") == 14)
        .select(
            "priority",
            "day",
            F.expr("CAST(sg AS DOUBLE)").alias("sum_gain"),
            F.expr("CAST(sl AS DOUBLE)").alias("sum_loss"),
            F.expr(
                "CASE WHEN sg + sl = 0 THEN 50.0 "
                "ELSE (100.0 * CAST(sg AS DOUBLE)) / CAST(sg + sl AS DOUBLE) END"
            ).alias("rsi"),
        )
        .orderBy("priority", "day")
    )


#: MACD recurrence expressions, templated like Holt-Winters so every
#: repeated sub-expression rounds identically wherever it appears.
#: Constants are runtime divisions (2.0/13.0 etc.) — the SAME double on
#: both engines, and (1.0 - a) is constant-folded to the identical
#: value Python computes once in the pandas loop.
_MACD_E12 = "(2.0/13.0) * b.x + (1.0 - 2.0/13.0) * r.e12"
_MACD_E26 = "(2.0/27.0) * b.x + (1.0 - 2.0/27.0) * r.e26"
_MACD_LINE = f"({_MACD_E12}) - ({_MACD_E26})"
_MACD_SIG = f"0.2 * ({_MACD_LINE}) + 0.8 * r.sig"
_MACD_HIST = f"({_MACD_LINE}) - ({_MACD_SIG})"


@register(
    "timeseries_macd_crossover",
    oracle=f"""
        WITH RECURSIVE daily AS MATERIALIZED (
            SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                        AS VARCHAR) AS DOUBLE) AS x,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY CAST(o_orderdate AS DATE)) AS rn
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1996-01-01'
            GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
        ),
        r AS (
            SELECT o_orderpriority, day, rn, x,
                   x AS e12, x AS e26,
                   CAST(0.0 AS DOUBLE) AS macd_line,
                   CAST(0.0 AS DOUBLE) AS sig,
                   CAST(0.0 AS DOUBLE) AS hist,
                   FALSE AS crossover
            FROM daily WHERE rn = 1
            UNION ALL
            SELECT b.o_orderpriority, b.day, b.rn, b.x,
                   {_MACD_E12} AS e12,
                   {_MACD_E26} AS e26,
                   {_MACD_LINE} AS macd_line,
                   {_MACD_SIG} AS sig,
                   {_MACD_HIST} AS hist,
                   (({_MACD_HIST}) > 0.0) <> (r.hist > 0.0) AS crossover
            FROM daily b
            JOIN r ON b.o_orderpriority = r.o_orderpriority
                  AND b.rn = r.rn + 1
        )
        SELECT o_orderpriority, day, x AS revenue, macd_line,
               sig AS signal_line, hist AS histogram, crossover
        FROM r
    """,
    doc=(
        "MACD momentum indicator (12/26-day EMAs, 9-day signal, "
        "histogram, crossover flags) on each order priority's daily "
        "1995 revenue — the trend-following diagnostic a metrics "
        "dashboard runs beside RSI and Bollinger. The fact table "
        "reduces to day grain in ONE distributed exact-DECIMAL "
        "aggregate (the scale-bearing step); the three chained EMA "
        "recurrences are inherently order-sequential in t, so they run "
        "as applyInPandas over the <=365-row day series per priority — "
        "serial within a series, parallel across series, the EWMA/"
        "Holt-Winters contract. EMA constants are runtime divisions "
        "(2/13, 2/27, 1/5) evaluated identically on both engines, and "
        "every derived quantity (macd = e12-e26, signal, histogram, "
        "the sign-flip crossover) reuses the templated expressions "
        "(_MACD_*) so the pandas loop and the recursive-CTE oracle "
        "execute the same IEEE ops in the same order — hash-exact."
    ),
    tags=("window", "timeseries", "custom"),
)
def timeseries_macd_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    daily = (
        t.orders.filter(
            (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
        )
        .groupBy("o_orderpriority", F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
            ).alias("x")
        )
    )

    schema = (
        "o_orderpriority string, day date, revenue double, macd_line double,"
        " signal_line double, histogram double, crossover boolean"
    )
    a12, a26, a9 = 2.0 / 13.0, 2.0 / 27.0, 0.2
    b12, b26, b9 = 1.0 - a12, 1.0 - a26, 1.0 - a9

    def _macd(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day", kind="mergesort")
        out = []
        e12 = e26 = sig = hist = None
        for _, row in pdf.iterrows():
            x = row["x"]
            if e12 is None:
                e12, e26, macd, sig, hist, cross = x, x, 0.0, 0.0, 0.0, False
            else:
                e12 = a12 * x + b12 * e12
                e26 = a26 * x + b26 * e26
                macd = e12 - e26
                sig = a9 * macd + b9 * sig
                prev_hist = hist
                hist = macd - sig
                cross = (hist > 0.0) != (prev_hist > 0.0)
            out.append((row["o_orderpriority"], row["day"], x, macd, sig, hist, cross))
        return pd.DataFrame(
            out,
            columns=[
                "o_orderpriority", "day", "revenue", "macd_line",
                "signal_line", "histogram", "crossover",
            ],
        )

    return daily.groupBy("o_orderpriority").applyInPandas(_macd, schema=schema)


#: Croston recurrences — dyadic alpha=0.25 (exactly representable), so
#: both engines execute identical IEEE multiply-adds.
_CROSTON_Z = "0.25 * CAST(b.q AS DOUBLE) + 0.75 * r.z"
_CROSTON_P = "0.25 * CAST(b.gap AS DOUBLE) + 0.75 * r.p"


@register(
    "timeseries_croston_intermittent",
    oracle=f"""
        WITH RECURSIVE nz AS MATERIALIZED (
            SELECT user_id, day, q,
                   datediff('day', lag(day) OVER (PARTITION BY user_id
                                                  ORDER BY day), day) AS gap,
                   row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
            FROM (
                SELECT user_id, CAST(ts AS DATE) AS day,
                       CAST(COUNT(*) AS BIGINT) AS q
                FROM events
                WHERE event_type = 'purchase' AND user_id <= 20
                GROUP BY user_id, CAST(ts AS DATE)
            )
        ),
        r AS (
            SELECT user_id, day, rn, q,
                   CAST(q AS DOUBLE) AS z, CAST(1.0 AS DOUBLE) AS p
            FROM nz WHERE rn = 1
            UNION ALL
            SELECT b.user_id, b.day, b.rn, b.q,
                   {_CROSTON_Z} AS z,
                   {_CROSTON_P} AS p
            FROM nz b
            JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1
        )
        SELECT user_id, day, q AS demand, z AS size_smooth,
               p AS interval_smooth, z / p AS croston_forecast
        FROM r
    """,
    doc=(
        "Croston's method for intermittent demand per user (daily "
        "purchase counts, most days zero — the spare-parts/long-tail "
        "regime where plain EWMA systematically underforecasts): "
        "separate exponential smoothers on the nonzero demand SIZES "
        "(z) and the INTER-DEMAND intervals (p, seeded at 1), "
        "forecast = z/p demand per day. Only nonzero-demand days "
        "enter the recurrence — the series is |purchase days| long "
        "(<= 30 here), never fact- or calendar-grain, so the "
        "sequential part is metadata-sized while the day-grain "
        "reduction and the lag() gap computation stay distributed. "
        "Dyadic alpha = 0.25 and the templated recurrences "
        "(_CROSTON_Z/_CROSTON_P) make the pandas loop and the "
        "recursive-CTE oracle bit-identical; the final z/p is one "
        "shared IEEE division."
    ),
    tags=("window", "timeseries", "custom"),
)
def timeseries_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    nz = (
        t.events.filter((F.col("event_type") == "purchase") & (F.col("user_id") <= 20))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("q"))
    )

    schema = (
        "user_id bigint, day date, demand bigint, size_smooth double,"
        " interval_smooth double, croston_forecast double"
    )

    def _croston(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day", kind="mergesort")
        out = []
        z = p = prev_day = None
        for _, row in pdf.iterrows():
            q, day = row["q"], row["day"]
            if z is None:
                z, p = float(q), 1.0
            else:
                gap = float((day - prev_day).days)
                z = 0.25 * float(q) + 0.75 * z
                p = 0.25 * gap + 0.75 * p
            prev_day = day
            out.append((row["user_id"], day, q, z, p, z / p))
        return pd.DataFrame(
            out,
            columns=[
                "user_id", "day", "demand", "size_smooth",
                "interval_smooth", "croston_forecast",
            ],
        )

    return nz.groupBy("user_id").applyInPandas(_croston, schema=schema)


#: Kalman local-level recurrences (process noise Q=0.25, measurement
#: noise R=1.0 — dyadic). DuckDB can't reference sibling aliases, so
#: the gain/posterior template strings recompute sub-expressions —
#: recomputation of the same IEEE ops yields the same doubles.
_KAL_PP = "(r.p + 0.25)"
_KAL_K = f"({_KAL_PP} / ({_KAL_PP} + 1.0))"
_KAL_X = f"(r.x + {_KAL_K} * (b.z - r.x))"
_KAL_P = f"((1.0 - {_KAL_K}) * {_KAL_PP})"


@register(
    "timeseries_kalman_filter_1d",
    oracle=f"""
        WITH RECURSIVE base AS MATERIALIZED (
            SELECT user_id, event_id, ts, value AS z,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE user_id <= 20 AND value IS NOT NULL
        ),
        r AS (
            SELECT user_id, event_id, ts, rn, z,
                   z AS x, CAST(1.0 AS DOUBLE) AS p,
                   CAST(0.0 AS DOUBLE) AS gain
            FROM base WHERE rn = 1
            UNION ALL
            SELECT b.user_id, b.event_id, b.ts, b.rn, b.z,
                   {_KAL_X} AS x,
                   {_KAL_P} AS p,
                   {_KAL_K} AS gain
            FROM base b
            JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1
        )
        SELECT user_id, event_id, ts, z AS value, x AS x_filtered,
               p AS p_var, gain
        FROM r
    """,
    doc=(
        "1-D Kalman filter (local-level model, Q=0.25 process / R=1.0 "
        "measurement noise) over each user's event-value stream: the "
        "optimal recursive denoiser whose gain ADAPTS per step — early "
        "observations move the estimate a lot, later ones a little, "
        "converging to a steady-state smoother (what EWMA hard-codes). "
        "Predict/update recurrences (p+Q, K = pp/(pp+R), x += K*(z-x), "
        "p = (1-K)*pp) are order-sequential, so they run as "
        "applyInPandas per user — serial within a stream, parallel "
        "across streams, same contract and key bound as the EWMA "
        "smoother. Dyadic noise constants and the templated recurrence "
        "strings (_KAL_*) keep the pandas loop and the recursive-CTE "
        "oracle on identical IEEE op sequences — the filtered state, "
        "variance, and gain all hash-exact."
    ),
    tags=("window", "timeseries", "custom"),
)
def timeseries_kalman_filter_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    base = t.events.filter((F.col("user_id") <= 20) & F.col("value").isNotNull()).select(
        "user_id", "event_id", "ts", F.col("value").alias("z")
    )

    schema = (
        "user_id bigint, event_id bigint, ts timestamp, value double,"
        " x_filtered double, p_var double, gain double"
    )

    def _kalman(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        out = []
        x = p = None
        for _, row in pdf.iterrows():
            z = row["z"]
            if x is None:
                x, p, k = z, 1.0, 0.0
            else:
                pp = p + 0.25
                k = pp / (pp + 1.0)
                x = x + k * (z - x)
                p = (1.0 - k) * pp
            out.append((row["user_id"], row["event_id"], row["ts"], z, x, p, k))
        return pd.DataFrame(
            out,
            columns=["user_id", "event_id", "ts", "value", "x_filtered", "p_var", "gain"],
        )

    return base.groupBy("user_id").applyInPandas(_kalman, schema=schema)


@register(
    "window_anchored_vwap",
    oracle="""
        WITH daily AS (
            SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_quantity AS DECIMAL(18,0)))
                        AS DECIMAL(38,2)) AS pv,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,0)))
                        AS DECIMAL(38,0)) AS v
            FROM lineitem GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
        ),
        cum AS (
            SELECT l_returnflag, day,
                   SUM(pv) OVER (PARTITION BY l_returnflag ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS cpv,
                   SUM(v) OVER (PARTITION BY l_returnflag ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS cv
            FROM daily
        )
        SELECT l_returnflag, day,
               CAST(CAST(cpv AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(cv AS VARCHAR) AS DOUBLE) AS vwap
        FROM cum
    """,
    doc=(
        "Anchored VWAP per return flag: cumulative sum(price*qty) / "
        "cumulative sum(qty) from the series anchor onward — the "
        "volume-weighted benchmark against which execution quality is "
        "judged (and, in pipeline terms, the running cost-per-unit "
        "any spend dashboard needs). The fact table reduces to day "
        "grain in ONE exact-DECIMAL aggregate (price*qty products are "
        "exact at (18,2)x(18,0); running sums stay DECIMAL so no "
        "float accumulation order exists); the two cumulative windows "
        "run over the calendar-bounded per-flag day table, and the "
        "single division per output row is the only double op — "
        "VARCHAR-hopped on the oracle side per the DECIMAL->DOUBLE "
        "double-rounding rule. No fact-grain window at any scale."
    ),
    tags=("window", "timeseries", "agg"),
)
def window_anchored_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.lineitem.groupBy(
        "l_returnflag", F.col("l_shipdate").cast("date").alias("day")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
            " * CAST(l_quantity AS DECIMAL(18,0))) AS DECIMAL(38,2))"
        ).alias("pv"),
        F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS DECIMAL(38,0))").alias(
            "v"
        ),
    )
    w = (
        W.partitionBy("l_returnflag")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = daily.select(
        "l_returnflag",
        "day",
        F.sum("pv").over(w).alias("cpv"),
        F.sum("v").over(w).alias("cv"),
    )
    return cum.select(
        "l_returnflag",
        "day",
        F.expr("CAST(cpv AS DOUBLE) / CAST(cv AS DOUBLE)").alias("vwap"),
    )


_ATR_DAYS = 14


@register(
    "window_true_range_atr",
    oracle=f"""
        WITH pts AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(round(value * 10000) AS BIGINT) AS x,
                   row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE value IS NOT NULL
        ),
        bars AS (
            SELECT event_type, day,
                   CAST(MAX(x) AS BIGINT) AS h,
                   CAST(MIN(x) AS BIGINT) AS l,
                   CAST(MAX(CASE WHEN rn = 1 THEN x END) AS BIGINT) AS c
            FROM pts GROUP BY event_type, day
        ),
        tr AS (
            SELECT event_type, day, h, l, c,
                   GREATEST(h - l,
                            abs(h - lag(c) OVER w),
                            abs(l - lag(c) OVER w)) AS true_range
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        )
        SELECT event_type, day,
               CAST(h AS DOUBLE) / 10000.0 AS high,
               CAST(l AS DOUBLE) / 10000.0 AS low,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CAST(true_range AS DOUBLE) / 10000.0 AS true_range,
               CAST(SUM(true_range) OVER (PARTITION BY event_type ORDER BY day
                                          ROWS BETWEEN {_ATR_DAYS - 1} PRECEDING
                                          AND CURRENT ROW) AS DOUBLE)
                 / (CAST(COUNT(true_range) OVER (PARTITION BY event_type ORDER BY day
                                           ROWS BETWEEN {_ATR_DAYS - 1} PRECEDING
                                           AND CURRENT ROW) AS DOUBLE)
                    * 10000.0) AS atr
        FROM tr
        WHERE true_range IS NOT NULL
    """,
    doc=(
        "True range + {0}-day ATR per event type's daily bar series: "
        "TR = max(high-low, |high-prev_close|, |low-prev_close|) — the "
        "gap-aware volatility measure (a pure high-low range misses "
        "overnight jumps) — and ATR as its simple rolling mean, the "
        "denominator every volatility-normalized alert threshold "
        "wants. Bars reduce the fact table to day grain in one "
        "aggregate (close = arg_max by (ts, event_id) — deterministic, "
        "tie-free on the unique event key); TR and the rolling sum "
        "run over the calendar-bounded per-type day table. All "
        "quantities are 1e-4 fixed-point integers until the final "
        "shared divisions; the rolling mean divides an exact integer "
        "window sum by an exact window count, so partial windows at "
        "the series head are handled identically on both engines. "
        "First day drops (no prev close), per the classical "
        "definition.".format(_ATR_DAYS)
    ),
    tags=("window", "timeseries", "anomaly"),
)
def window_true_range_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    fixed = "CAST(round(value * 10000) AS BIGINT)"
    bars = (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr(f"CAST(MAX({fixed}) AS BIGINT)").alias("h"),
            F.expr(f"CAST(MIN({fixed}) AS BIGINT)").alias("l"),
            F.expr(
                f"CAST(max_by({fixed}, struct(ts, event_id)) AS BIGINT)"
            ).alias("c"),
        )
    )
    w = W.partitionBy("event_type").orderBy("day")
    tr = bars.select(
        "event_type",
        "day",
        "h",
        "l",
        "c",
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.lag("c").over(w)),
            F.abs(F.col("l") - F.lag("c").over(w)),
        ).alias("true_range"),
    ).filter(F.col("true_range").isNotNull())
    wa = w.rowsBetween(-(_ATR_DAYS - 1), W.currentRow)
    return tr.select(
        "event_type",
        "day",
        (F.col("h").cast("double") / 10000.0).alias("high"),
        (F.col("l").cast("double") / 10000.0).alias("low"),
        (F.col("c").cast("double") / 10000.0).alias("close"),
        (F.col("true_range").cast("double") / 10000.0).alias("true_range"),
        (
            F.sum("true_range").over(wa).cast("double")
            / (F.count("true_range").over(wa).cast("double") * F.lit(10000.0))
        ).alias("atr"),
    )


# ---------------------------------------------------------------------------
# Round-6 additions (SURVEY §2.16): the remaining classical technical-
# analysis window family — stochastic oscillator, Donchian channel
# breakouts, on-balance volume, Aroon — all on the same day-grain
# fixed-point bar construction as RSI/MACD/ATR (facts reduce to
# calendar-bounded per-type day bars in ONE aggregate; every window
# partitions by event_type; integers until one shared final division).
# ---------------------------------------------------------------------------

_BARS_SQL = """
        pts AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(round(value * 10000) AS BIGINT) AS x,
                   row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                      ORDER BY ts DESC, event_id DESC) AS rn,
                   row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                      ORDER BY ts ASC, event_id ASC) AS rn_o
            FROM events WHERE value IS NOT NULL
        ),
        bars AS (
            SELECT event_type, day,
                   CAST(MAX(CASE WHEN rn_o = 1 THEN x END) AS BIGINT) AS o,
                   CAST(MAX(x) AS BIGINT) AS h,
                   CAST(MIN(x) AS BIGINT) AS l,
                   CAST(MAX(CASE WHEN rn = 1 THEN x END) AS BIGINT) AS c,
                   CAST(COUNT(*) AS BIGINT) AS vol
            FROM pts GROUP BY event_type, day
        )
"""


def _bars(t: Tables) -> DataFrame:
    """Daily (h, l, c, vol) bars per event type, 1e-4 fixed-point — the
    shared reduction under the r6 technical-analysis windows (same
    construction as window_true_range_atr's; close = max_by on the
    unique (ts, event_id) key, so it is deterministic and tie-free)."""
    fixed = "CAST(round(value * 10000) AS BIGINT)"
    return (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr(f"CAST(min_by({fixed}, struct(ts, event_id)) AS BIGINT)").alias("o"),
            F.expr(f"CAST(MAX({fixed}) AS BIGINT)").alias("h"),
            F.expr(f"CAST(MIN({fixed}) AS BIGINT)").alias("l"),
            F.expr(f"CAST(max_by({fixed}, struct(ts, event_id)) AS BIGINT)").alias("c"),
            F.count(F.lit(1)).cast("bigint").alias("vol"),
        )
    )


@register(
    "window_stochastic_oscillator",
    oracle=f"""
        WITH {_BARS_SQL},
        win AS (
            SELECT event_type, day, c,
                   MIN(l) OVER w AS l14,
                   MAX(h) OVER w AS h14,
                   COUNT(*) OVER w AS nw
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CASE WHEN h14 = l14 THEN 50.0
                    ELSE 100.0 * CAST(c - l14 AS DOUBLE)
                         / CAST(h14 - l14 AS DOUBLE) END AS pct_k,
               CASE WHEN h14 = l14 THEN 50.0
                    ELSE 100.0 * CAST(c - l14 AS DOUBLE)
                         / CAST(h14 - l14 AS DOUBLE) END > 80.0 AS overbought,
               CASE WHEN h14 = l14 THEN 50.0
                    ELSE 100.0 * CAST(c - l14 AS DOUBLE)
                         / CAST(h14 - l14 AS DOUBLE) END < 20.0 AS oversold
        FROM win WHERE nw = 14
        ORDER BY event_type, day
    """,
    doc=(
        "W26: 14-day stochastic oscillator %K per event type's daily "
        "bars: 100 * (close - L14) / (H14 - L14) — where does today "
        "close inside the recent range (the mean-reversion companion "
        "to RSI's momentum). Bars are 1e-4 fixed-point integers; %K is "
        "one shared division of exact integer differences (flat "
        "windows define %K = 50); overbought/oversold verdicts at the "
        "classical 80/20 bands. Only full 14-row windows emit (the RSI "
        "contract). Calendar-bounded per-type day table — no "
        "fact-grain window at any scale."
    ),
    tags=("window", "timeseries"),
)
def window_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, W.currentRow)
    )
    win = _bars(t).select(
        "event_type",
        "day",
        "c",
        F.min("l").over(w).alias("l14"),
        F.max("h").over(w).alias("h14"),
        F.count(F.lit(1)).over(w).alias("nw"),
    )
    pct_k = (
        "CASE WHEN h14 = l14 THEN 50.0"
        " ELSE 100.0 * CAST(c - l14 AS DOUBLE) / CAST(h14 - l14 AS DOUBLE) END"
    )
    return (
        win.filter(F.col("nw") == 14)
        .select(
            "event_type",
            "day",
            F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
            F.expr(pct_k).alias("pct_k"),
            F.expr(f"{pct_k} > 80.0").alias("overbought"),
            F.expr(f"{pct_k} < 20.0").alias("oversold"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_donchian_breakout",
    oracle=f"""
        WITH {_BARS_SQL},
        win AS (
            SELECT event_type, day, c,
                   MAX(h) OVER w AS ch_hi,
                   MIN(l) OVER w AS ch_lo,
                   COUNT(*) OVER w AS nw
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CAST(ch_hi AS DOUBLE) / 10000.0 AS channel_high,
               CAST(ch_lo AS DOUBLE) / 10000.0 AS channel_low,
               c > ch_hi AS breakout_up,
               c < ch_lo AS breakout_down
        FROM win WHERE nw = 20
        ORDER BY event_type, day
    """,
    doc=(
        "W27: 20-day Donchian channel breakouts per event type: the "
        "channel is the prior-20-day high/low EXCLUDING today (ROWS "
        "20 PRECEDING .. 1 PRECEDING — including today would make a "
        "breakout definitionally impossible), and today breaks out "
        "when its close exceeds either band — the classic turtle "
        "entry signal and the simplest regime-change detector. Pure "
        "integer comparisons on the fixed-point bars; only full "
        "20-row channels emit. Calendar-bounded per-type day table."
    ),
    tags=("window", "timeseries", "anomaly"),
)
def window_donchian_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-20, -1)
    win = _bars(t).select(
        "event_type",
        "day",
        "c",
        F.max("h").over(w).alias("ch_hi"),
        F.min("l").over(w).alias("ch_lo"),
        F.count(F.lit(1)).over(w).alias("nw"),
    )
    return (
        win.filter(F.col("nw") == 20)
        .select(
            "event_type",
            "day",
            F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
            F.expr("CAST(ch_hi AS DOUBLE) / 10000.0").alias("channel_high"),
            F.expr("CAST(ch_lo AS DOUBLE) / 10000.0").alias("channel_low"),
            (F.col("c") > F.col("ch_hi")).alias("breakout_up"),
            (F.col("c") < F.col("ch_lo")).alias("breakout_down"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_obv_cumulative",
    oracle=f"""
        WITH {_BARS_SQL},
        d AS (
            SELECT event_type, day, vol,
                   CASE WHEN c > lag(c) OVER w THEN vol
                        WHEN c < lag(c) OVER w THEN -vol
                        ELSE 0 END AS delta
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        )
        SELECT event_type, day, vol AS volume,
               CAST(SUM(delta) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS obv
        FROM d
        ORDER BY event_type, day
    """,
    doc=(
        "W28: on-balance volume per event type — the cumulative sum of "
        "daily volume signed by the close-to-close direction (volume "
        "flows 'into' rising days, 'out of' falling days; divergence "
        "between OBV and price is the classical accumulation signal). "
        "Volume is an exact row count, the sign a pure integer "
        "comparison on fixed-point closes, OBV an exact BIGINT "
        "cumulative sum; day 1 contributes 0 (no prior close). "
        "Calendar-bounded per-type day table."
    ),
    tags=("window", "timeseries"),
)
def window_obv_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    d = _bars(t).select(
        "event_type",
        "day",
        "vol",
        F.when(F.col("c") > F.lag("c").over(wl), F.col("vol"))
        .when(F.col("c") < F.lag("c").over(wl), -F.col("vol"))
        .otherwise(F.lit(0))
        .alias("delta"),
    )
    wc = wl.rowsBetween(W.unboundedPreceding, W.currentRow)
    return d.select(
        "event_type",
        "day",
        F.col("vol").alias("volume"),
        F.sum("delta").over(wc).cast("bigint").alias("obv"),
    ).orderBy("event_type", "day")


_AROON_N = 13  # lookback days; periods-since in [0, 13]


@register(
    "window_aroon_indicator",
    oracle=f"""
        WITH {_BARS_SQL},
        db AS (
            SELECT event_type, day,
                   CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) AS d,
                   h, l, c
            FROM bars
        ),
        win AS (
            SELECT event_type, day, d, c,
                   MAX(h) OVER w AS hmax,
                   MIN(l) OVER w AS lmin,
                   COUNT(*) OVER w AS nw
            FROM db
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         RANGE BETWEEN {_AROON_N} PRECEDING AND CURRENT ROW)
        ),
        full_win AS (SELECT * FROM win WHERE nw = {_AROON_N + 1}),
        arg AS (
            SELECT b.event_type, b.day, b.d, b.c, b.hmax, b.lmin,
                   MAX(CASE WHEN a.h = b.hmax THEN a.d END) AS d_high,
                   MAX(CASE WHEN a.l = b.lmin THEN a.d END) AS d_low
            FROM full_win b
            JOIN db a ON a.event_type = b.event_type
                     AND a.d BETWEEN b.d - {_AROON_N} AND b.d
            GROUP BY b.event_type, b.day, b.d, b.c, b.hmax, b.lmin
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CAST(d - d_high AS BIGINT) AS days_since_high,
               CAST(d - d_low AS BIGINT) AS days_since_low,
               100.0 * CAST({_AROON_N} - (d - d_high) AS DOUBLE)
                   / {_AROON_N}.0 AS aroon_up,
               100.0 * CAST({_AROON_N} - (d - d_low) AS DOUBLE)
                   / {_AROON_N}.0 AS aroon_down
        FROM arg
        ORDER BY event_type, day
    """,
    doc=(
        "W29: {0}-day Aroon indicator per event type: aroon_up = 100 * "
        "(N - days since the N-day high) / N (and _down for the low) — "
        "trend-freshness from the POSITION of the extreme, not its "
        "size, so it is immune to the magnitude outliers that move "
        "every price-delta oscillator. The RANGE window (calendar "
        "days over the integer day number) defines the lookback; the "
        "arg-extreme day comes from an interval self-join of the "
        "calendar-bounded per-type day table (latest tied day wins — "
        "deterministic MAX), never a fact-grain pass. Ratios are one "
        "shared division of exact integer day gaps.".format(_AROON_N)
    ),
    tags=("window", "timeseries"),
)
def window_aroon_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    db = _bars(t).select(
        "event_type",
        "day",
        F.expr("CAST(datediff(day, DATE '1970-01-01') AS BIGINT)").alias("d"),
        "h",
        "l",
        "c",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rangeBetween(-_AROON_N, W.currentRow)
    )
    win = db.select(
        "event_type",
        "day",
        "d",
        "c",
        F.max("h").over(w).alias("hmax"),
        F.min("l").over(w).alias("lmin"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).filter(F.col("nw") == _AROON_N + 1)
    a = db.select(
        F.col("event_type"),
        F.col("d").alias("ad"),
        F.col("h").alias("ah"),
        F.col("l").alias("al"),
    )
    arg = (
        win.join(a, "event_type")
        .filter(
            (F.col("ad") >= F.col("d") - _AROON_N) & (F.col("ad") <= F.col("d"))
        )
        .groupBy("event_type", "day", "d", "c", "hmax", "lmin")
        .agg(
            F.max(F.when(F.col("ah") == F.col("hmax"), F.col("ad"))).alias("d_high"),
            F.max(F.when(F.col("al") == F.col("lmin"), F.col("ad"))).alias("d_low"),
        )
    )
    return arg.select(
        "event_type",
        "day",
        F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
        F.expr("CAST(d - d_high AS BIGINT)").alias("days_since_high"),
        F.expr("CAST(d - d_low AS BIGINT)").alias("days_since_low"),
        F.expr(
            f"100.0 * CAST({_AROON_N} - (d - d_high) AS DOUBLE) / {_AROON_N}.0"
        ).alias("aroon_up"),
        F.expr(
            f"100.0 * CAST({_AROON_N} - (d - d_low) AS DOUBLE) / {_AROON_N}.0"
        ).alias("aroon_down"),
    ).orderBy("event_type", "day")


@register(
    "window_pivot_points",
    oracle=f"""
        WITH {_BARS_SQL},
        prev AS (
            SELECT event_type, day,
                   lag(h) OVER w AS ph, lag(l) OVER w AS pl, lag(c) OVER w AS pc
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        )
        SELECT event_type, day,
               CAST(ph + pl + pc AS DOUBLE) / 30000.0 AS pivot,
               CAST(2 * (ph + pl + pc) - 3 * ph AS DOUBLE) / 30000.0 AS s1,
               CAST(2 * (ph + pl + pc) - 3 * pl AS DOUBLE) / 30000.0 AS r1,
               CAST((ph + pl + pc) + 3 * (ph - pl) AS DOUBLE) / 30000.0 AS r2,
               CAST((ph + pl + pc) - 3 * (ph - pl) AS DOUBLE) / 30000.0 AS s2
        FROM prev
        WHERE ph IS NOT NULL
        ORDER BY event_type, day
    """,
    doc=(
        "W30: classical floor-trader pivot points per event type from "
        "the PRIOR day's bar: P = (H+L+C)/3, R1 = 2P-L, S1 = 2P-H, "
        "R2 = P+(H-L), S2 = P-(H-L) — the support/resistance grid "
        "drawn before each session, and the last member of the r6 "
        "technical-analysis window family (stochastic, Donchian, OBV, "
        "Aroon). All five levels are kept as exact integer "
        "combinations of the 1e-4 fixed-point bar values (P scaled x3 "
        "so the thirds never divide early: 2P-L = (2(H+L+C) - 3L)/3), "
        "each emitted by ONE shared division by 30000 — hash-exact "
        "with zero rounding drift. First day drops (no prior bar)."
    ),
    tags=("window", "timeseries"),
)
def window_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    prev = _bars(t).select(
        "event_type",
        "day",
        F.lag("h").over(wl).alias("ph"),
        F.lag("l").over(wl).alias("pl"),
        F.lag("c").over(wl).alias("pc"),
    ).filter(F.col("ph").isNotNull())
    return prev.select(
        "event_type",
        "day",
        F.expr("CAST(ph + pl + pc AS DOUBLE) / 30000.0").alias("pivot"),
        F.expr("CAST(2 * (ph + pl + pc) - 3 * ph AS DOUBLE) / 30000.0").alias("s1"),
        F.expr("CAST(2 * (ph + pl + pc) - 3 * pl AS DOUBLE) / 30000.0").alias("r1"),
        F.expr("CAST((ph + pl + pc) + 3 * (ph - pl) AS DOUBLE) / 30000.0").alias("r2"),
        F.expr("CAST((ph + pl + pc) - 3 * (ph - pl) AS DOUBLE) / 30000.0").alias("s2"),
    ).orderBy("event_type", "day")


@register(
    "window_month_over_month_revenue",
    oracle="""
        WITH monthly AS (
            SELECT o_orderpriority AS priority,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders
            GROUP BY o_orderpriority, date_trunc('month', o_orderdate)
        ),
        lagged AS (
            SELECT priority, month, cents,
                   lag(cents) OVER (PARTITION BY priority ORDER BY month)
                       AS prev_cents
            FROM monthly
        )
        SELECT priority, month,
               CAST(cents AS DOUBLE) / 100.0 AS revenue,
               CASE WHEN prev_cents IS NULL THEN NULL
                    ELSE 100.0 * CAST(cents - prev_cents AS DOUBLE)
                         / CAST(prev_cents AS DOUBLE) END AS mom_pct
        FROM lagged
        ORDER BY priority, month
    """,
    doc=(
        "W31: month-over-month revenue growth per order priority — the "
        "single most common dashboard window (period grain + lag + "
        "percent change). Revenue aggregates to exact integer cents at "
        "month grain in one map-side-combined pass (never a running "
        "sum of doubles); the growth rate is one shared division of "
        "exact integer differences, first month NULL. The lag window "
        "runs over the calendar-bounded per-priority month table."
    ),
    tags=("window", "timeseries", "agg"),
)
def window_month_over_month_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    monthly = t.orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
    ).agg(
        F.expr("CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "cents"
        )
    )
    wl = W.partitionBy("priority").orderBy("month")
    lagged = monthly.select(
        "priority", "month", "cents", F.lag("cents").over(wl).alias("prev_cents")
    )
    return lagged.select(
        "priority",
        "month",
        F.expr("CAST(cents AS DOUBLE) / 100.0").alias("revenue"),
        F.expr(
            "CASE WHEN prev_cents IS NULL THEN NULL"
            " ELSE 100.0 * CAST(cents - prev_cents AS DOUBLE)"
            " / CAST(prev_cents AS DOUBLE) END"
        ).alias("mom_pct"),
    ).orderBy("priority", "month")


_CCI_N = 13  # RANGE lookback days; 14 calendar days per window


@register(
    "window_cci_commodity_channel",
    oracle=f"""
        WITH {_BARS_SQL},
        db AS (
            SELECT event_type, day,
                   CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) AS d,
                   h + l + c AS tp3
            FROM bars
        ),
        win AS (
            SELECT event_type, day, d, tp3,
                   CAST(SUM(tp3) OVER w AS BIGINT) AS s3,
                   COUNT(*) OVER w AS nw
            FROM db
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         RANGE BETWEEN {_CCI_N} PRECEDING AND CURRENT ROW)
        ),
        full_win AS (SELECT * FROM win WHERE nw = {_CCI_N + 1}),
        md AS (
            SELECT b.event_type, b.day, b.tp3, b.s3,
                   CAST(SUM(abs({_CCI_N + 1} * a.tp3 - b.s3)) AS BIGINT)
                       AS abs_dev_sum
            FROM full_win b
            JOIN db a ON a.event_type = b.event_type
                     AND a.d BETWEEN b.d - {_CCI_N} AND b.d
            GROUP BY b.event_type, b.day, b.tp3, b.s3
        )
        SELECT event_type, day,
               CAST(tp3 AS DOUBLE) / 30000.0 AS typical_price,
               CASE WHEN abs_dev_sum = 0 THEN NULL
                    ELSE {_CCI_N + 1}.0
                         * CAST({_CCI_N + 1} * tp3 - s3 AS DOUBLE)
                         / (0.015 * CAST(abs_dev_sum AS DOUBLE)) END AS cci
        FROM md
        ORDER BY event_type, day
    """,
    doc=(
        "W32: {0}-day Commodity Channel Index per event type: CCI = "
        "(TP - SMA(TP)) / (0.015 * mean deviation) on the typical "
        "price (H+L+C)/3. The mean deviation is the classic exactness "
        "trap — it subtracts a computed mean inside a second "
        "aggregation — solved here by multiplying through: with S = "
        "window sum of x3-scaled typical prices, dev_i = N*tp3_i - S "
        "is an exact BIGINT, so CCI = N*(N*tp3 - S)/(0.015 * "
        "sum|N*tp3_i - S|) has ONE shared float expression and zero "
        "accumulation drift (every fixed-point scale cancels). The "
        "per-row deviation sum needs the CURRENT row's S applied "
        "across its window, which no single window pass expresses — "
        "it comes from the same calendar-bounded day-table interval "
        "self-join as Aroon's arg-extreme. Flat windows yield NULL."
        .format(_CCI_N + 1)
    ),
    tags=("window", "timeseries", "anomaly"),
)
def window_cci_commodity_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    db = _bars(t).select(
        "event_type",
        "day",
        F.expr("CAST(datediff(day, DATE '1970-01-01') AS BIGINT)").alias("d"),
        F.expr("h + l + c").alias("tp3"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rangeBetween(-_CCI_N, W.currentRow)
    )
    win = db.select(
        "event_type",
        "day",
        "d",
        "tp3",
        F.sum("tp3").over(w).cast("bigint").alias("s3"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).filter(F.col("nw") == _CCI_N + 1)
    a = db.select(
        F.col("event_type"),
        F.col("d").alias("ad"),
        F.col("tp3").alias("atp3"),
    )
    n1 = _CCI_N + 1
    md = (
        win.join(a, "event_type")
        .filter((F.col("ad") >= F.col("d") - _CCI_N) & (F.col("ad") <= F.col("d")))
        .groupBy("event_type", "day", "tp3", "s3")
        .agg(
            F.sum(F.abs(F.lit(n1) * F.col("atp3") - F.col("s3")))
            .cast("bigint")
            .alias("abs_dev_sum")
        )
    )
    return md.select(
        "event_type",
        "day",
        F.expr("CAST(tp3 AS DOUBLE) / 30000.0").alias("typical_price"),
        F.expr(
            f"CASE WHEN abs_dev_sum = 0 THEN NULL"
            f" ELSE {n1}.0 * CAST({n1} * tp3 - s3 AS DOUBLE)"
            f" / (0.015 * CAST(abs_dev_sum AS DOUBLE)) END"
        ).alias("cci"),
    ).orderBy("event_type", "day")


@register(
    "window_chande_momentum",
    oracle="""
        WITH daily AS (
            SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS x
            FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
        ),
        deltas AS (
            SELECT priority, day,
                   x - lag(x) OVER (PARTITION BY priority ORDER BY day) AS d
            FROM daily
        ),
        gl AS (
            SELECT priority, day,
                   CASE WHEN d > 0 THEN d ELSE 0 END AS gain,
                   CASE WHEN d < 0 THEN -d ELSE 0 END AS loss
            FROM deltas WHERE d IS NOT NULL
        ),
        rolled AS (
            SELECT priority, day,
                   COUNT(*) OVER w AS nw,
                   CAST(SUM(gain) OVER w AS BIGINT) AS sg,
                   CAST(SUM(loss) OVER w AS BIGINT) AS sl
            FROM gl
            WINDOW w AS (PARTITION BY priority ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT priority, day,
               CASE WHEN sg + sl = 0 THEN 0.0
                    ELSE 100.0 * CAST(sg - sl AS DOUBLE)
                         / CAST(sg + sl AS DOUBLE) END AS cmo
        FROM rolled WHERE nw = 14
        ORDER BY priority, day
    """,
    doc=(
        "W33: 14-day Chande Momentum Oscillator on daily revenue per "
        "priority: CMO = 100 * (sum gains - sum losses) / (sum gains + "
        "sum losses) — unlike RSI's 0..100 ratio-of-ratios this is a "
        "SIGNED -100..+100 net-momentum measure whose symmetric zero "
        "line makes divergence reading direct (completes the momentum "
        "pair with window_rsi_indicator, which shares the same "
        "gain/loss reduction). Deltas and rolling sums are exact "
        "integer cents end-to-end; one shared final division (flat "
        "windows define CMO = 0). Calendar-bounded per-priority day "
        "table."
    ),
    tags=("window", "timeseries"),
)
def window_chande_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.expr("CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "x"
        )
    )
    wl = W.partitionBy("priority").orderBy("day")
    gl = (
        daily.select(
            "priority", "day", (F.col("x") - F.lag("x").over(wl)).alias("d")
        )
        .filter(F.col("d").isNotNull())
        .select(
            "priority",
            "day",
            F.when(F.col("d") > 0, F.col("d")).otherwise(F.lit(0)).alias("gain"),
            F.when(F.col("d") < 0, -F.col("d")).otherwise(F.lit(0)).alias("loss"),
        )
    )
    wa = wl.rowsBetween(-13, W.currentRow)
    rolled = gl.select(
        "priority",
        "day",
        F.count(F.lit(1)).over(wa).alias("nw"),
        F.sum("gain").over(wa).cast("bigint").alias("sg"),
        F.sum("loss").over(wa).cast("bigint").alias("sl"),
    )
    return (
        rolled.filter(F.col("nw") == 14)
        .select(
            "priority",
            "day",
            F.expr(
                "CASE WHEN sg + sl = 0 THEN 0.0"
                " ELSE 100.0 * CAST(sg - sl AS DOUBLE)"
                " / CAST(sg + sl AS DOUBLE) END"
            ).alias("cmo"),
        )
        .orderBy("priority", "day")
    )


# ---------------------------------------------------------------------------
# Round-7 additions (SURVEY §2.17): five more classical TA windows on the
# shared day-bar reduction — Williams %R, Money Flow Index, the Vortex
# indicator, the Force index, and a Keltner channel (SMA variant). Same
# posture as the r6 family: facts reduce once to calendar-bounded
# per-type fixed-point day bars, every window partitions by event_type,
# integer sums until one shared final division.
# ---------------------------------------------------------------------------


@register(
    "window_williams_pct_r",
    oracle=f"""
        WITH {_BARS_SQL},
        win AS (
            SELECT event_type, day, c,
                   MIN(l) OVER w AS l14,
                   MAX(h) OVER w AS h14,
                   COUNT(*) OVER w AS nw
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CASE WHEN h14 = l14 THEN -50.0
                    ELSE -100.0 * CAST(h14 - c AS DOUBLE)
                         / CAST(h14 - l14 AS DOUBLE) END AS pct_r,
               CASE WHEN h14 = l14 THEN -50.0
                    ELSE -100.0 * CAST(h14 - c AS DOUBLE)
                         / CAST(h14 - l14 AS DOUBLE) END > -20.0 AS overbought,
               CASE WHEN h14 = l14 THEN -50.0
                    ELSE -100.0 * CAST(h14 - c AS DOUBLE)
                         / CAST(h14 - l14 AS DOUBLE) END < -80.0 AS oversold
        FROM win WHERE nw = 14
        ORDER BY event_type, day
    """,
    doc=(
        "W34: 14-day Williams %R per event type's daily bars: "
        "-100 * (H14 - close) / (H14 - L14) — the inverted twin of the "
        "stochastic %K (it measures distance from the HIGH instead of "
        "the low, on the -100..0 scale with -20/-80 bands). One shared "
        "division of exact fixed-point integer differences; flat "
        "windows pin %R = -50; only full 14-row windows emit. "
        "Calendar-bounded per-type day table — no fact-grain window."
    ),
    tags=("window", "timeseries"),
)
def window_williams_pct_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-13, W.currentRow)
    win = _bars(t).select(
        "event_type",
        "day",
        "c",
        F.min("l").over(w).alias("l14"),
        F.max("h").over(w).alias("h14"),
        F.count(F.lit(1)).over(w).alias("nw"),
    )
    pct_r = (
        "CASE WHEN h14 = l14 THEN -50.0"
        " ELSE -100.0 * CAST(h14 - c AS DOUBLE) / CAST(h14 - l14 AS DOUBLE) END"
    )
    return (
        win.filter(F.col("nw") == 14)
        .select(
            "event_type",
            "day",
            F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
            F.expr(pct_r).alias("pct_r"),
            F.expr(f"{pct_r} > -20.0").alias("overbought"),
            F.expr(f"{pct_r} < -80.0").alias("oversold"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_money_flow_index",
    oracle=f"""
        WITH {_BARS_SQL},
        tp AS (
            SELECT event_type, day,
                   h + l + c AS tp3,
                   (h + l + c) * vol AS flow3,
                   lag(h + l + c) OVER (PARTITION BY event_type ORDER BY day)
                     AS tp3_prev
            FROM bars
        ),
        fl AS (
            SELECT event_type, day,
                   CASE WHEN tp3 > tp3_prev THEN flow3 ELSE 0 END AS pos,
                   CASE WHEN tp3 < tp3_prev THEN flow3 ELSE 0 END AS neg
            FROM tp WHERE tp3_prev IS NOT NULL
        ),
        win AS (
            SELECT event_type, day,
                   CAST(SUM(pos) OVER w AS BIGINT) AS sp,
                   CAST(SUM(neg) OVER w AS BIGINT) AS sn,
                   COUNT(*) OVER w AS nw
            FROM fl
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day, sp AS pos_flow3, sn AS neg_flow3,
               CASE WHEN sp + sn = 0 THEN 50.0
                    ELSE 100.0 * CAST(sp AS DOUBLE)
                         / CAST(sp + sn AS DOUBLE) END AS mfi
        FROM win WHERE nw = 14
        ORDER BY event_type, day
    """,
    doc=(
        "W35: 14-day Money Flow Index per event type — the volume-"
        "weighted RSI: raw money flow = typical price x volume, split "
        "into up/down days by the typical-price direction, MFI = "
        "100 * pos / (pos + neg). The x3-scaled typical price (h+l+c) "
        "keeps every flow an exact BIGINT (the pivot-point trick), so "
        "both 14-day flow sums are exact integers and the index is one "
        "shared division (flat flow pins MFI = 50). Unchanged-tp days "
        "contribute to neither side, per the classical definition; the "
        "first day of each series (no direction) drops. Calendar-"
        "bounded per-type day table."
    ),
    tags=("window", "timeseries"),
)
def window_money_flow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    tp = _bars(t).select(
        "event_type",
        "day",
        (F.col("h") + F.col("l") + F.col("c")).alias("tp3"),
        ((F.col("h") + F.col("l") + F.col("c")) * F.col("vol")).alias("flow3"),
        F.lag(F.col("h") + F.col("l") + F.col("c")).over(wl).alias("tp3_prev"),
    )
    fl = tp.filter(F.col("tp3_prev").isNotNull()).select(
        "event_type",
        "day",
        F.when(F.col("tp3") > F.col("tp3_prev"), F.col("flow3"))
        .otherwise(F.lit(0))
        .alias("pos"),
        F.when(F.col("tp3") < F.col("tp3_prev"), F.col("flow3"))
        .otherwise(F.lit(0))
        .alias("neg"),
    )
    wa = wl.rowsBetween(-13, W.currentRow)
    win = fl.select(
        "event_type",
        "day",
        F.sum("pos").over(wa).cast("bigint").alias("sp"),
        F.sum("neg").over(wa).cast("bigint").alias("sn"),
        F.count(F.lit(1)).over(wa).alias("nw"),
    )
    return (
        win.filter(F.col("nw") == 14)
        .select(
            "event_type",
            "day",
            F.col("sp").alias("pos_flow3"),
            F.col("sn").alias("neg_flow3"),
            F.expr(
                "CASE WHEN sp + sn = 0 THEN 50.0"
                " ELSE 100.0 * CAST(sp AS DOUBLE) / CAST(sp + sn AS DOUBLE) END"
            ).alias("mfi"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_vortex_indicator",
    oracle=f"""
        WITH {_BARS_SQL},
        lagged AS (
            SELECT event_type, day, h, l,
                   lag(h) OVER w AS h_prev,
                   lag(l) OVER w AS l_prev,
                   lag(c) OVER w AS c_prev
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ),
        vm AS (
            SELECT event_type, day,
                   abs(h - l_prev) AS vmp,
                   abs(l - h_prev) AS vmn,
                   greatest(h - l, abs(h - c_prev), abs(l - c_prev)) AS tr
            FROM lagged WHERE c_prev IS NOT NULL
        ),
        win AS (
            SELECT event_type, day,
                   CAST(SUM(vmp) OVER w AS BIGINT) AS svp,
                   CAST(SUM(vmn) OVER w AS BIGINT) AS svn,
                   CAST(SUM(tr) OVER w AS BIGINT) AS str14,
                   COUNT(*) OVER w AS nw
            FROM vm
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CASE WHEN str14 = 0 THEN NULL
                    ELSE CAST(svp AS DOUBLE) / CAST(str14 AS DOUBLE) END
                 AS vi_plus,
               CASE WHEN str14 = 0 THEN NULL
                    ELSE CAST(svn AS DOUBLE) / CAST(str14 AS DOUBLE) END
                 AS vi_minus,
               svp > svn AS uptrend
        FROM win WHERE nw = 14
        ORDER BY event_type, day
    """,
    doc=(
        "W36: 14-day Vortex indicator per event type — VI+ = "
        "sum|high - low_prev| / sum(TR), VI- = sum|low - high_prev| / "
        "sum(TR): the trend-direction oscillator built from the same "
        "true-range denominator as ATR. Both vortex movements and the "
        "true range are exact fixed-point integer differences, so each "
        "14-day sum is an exact BIGINT and VI+/VI- are two shared "
        "divisions (degenerate all-flat windows emit NULL); the "
        "uptrend verdict (VI+ > VI-) compares the integer numerators "
        "directly. First day of each series drops (no prior bar). "
        "Calendar-bounded per-type day table."
    ),
    tags=("window", "timeseries"),
)
def window_vortex_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    lagged = _bars(t).select(
        "event_type",
        "day",
        "h",
        "l",
        F.lag("h").over(wl).alias("h_prev"),
        F.lag("l").over(wl).alias("l_prev"),
        F.lag("c").over(wl).alias("c_prev"),
    )
    vm = lagged.filter(F.col("c_prev").isNotNull()).select(
        "event_type",
        "day",
        F.abs(F.col("h") - F.col("l_prev")).alias("vmp"),
        F.abs(F.col("l") - F.col("h_prev")).alias("vmn"),
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.col("c_prev")),
            F.abs(F.col("l") - F.col("c_prev")),
        ).alias("tr"),
    )
    wa = wl.rowsBetween(-13, W.currentRow)
    win = vm.select(
        "event_type",
        "day",
        F.sum("vmp").over(wa).cast("bigint").alias("svp"),
        F.sum("vmn").over(wa).cast("bigint").alias("svn"),
        F.sum("tr").over(wa).cast("bigint").alias("str14"),
        F.count(F.lit(1)).over(wa).alias("nw"),
    )
    return (
        win.filter(F.col("nw") == 14)
        .select(
            "event_type",
            "day",
            F.expr(
                "CASE WHEN str14 = 0 THEN NULL"
                " ELSE CAST(svp AS DOUBLE) / CAST(str14 AS DOUBLE) END"
            ).alias("vi_plus"),
            F.expr(
                "CASE WHEN str14 = 0 THEN NULL"
                " ELSE CAST(svn AS DOUBLE) / CAST(str14 AS DOUBLE) END"
            ).alias("vi_minus"),
            (F.col("svp") > F.col("svn")).alias("uptrend"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_force_index_sma",
    oracle=f"""
        WITH {_BARS_SQL},
        lagged AS (
            SELECT event_type, day, c, vol,
                   lag(c) OVER (PARTITION BY event_type ORDER BY day) AS c_prev
            FROM bars
        ),
        fi AS (
            SELECT event_type, day, (c - c_prev) * vol AS f
            FROM lagged WHERE c_prev IS NOT NULL
        ),
        win AS (
            SELECT event_type, day, f,
                   CAST(SUM(f) OVER w AS BIGINT) AS sf,
                   COUNT(*) OVER w AS nw
            FROM fi
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CAST(f AS DOUBLE) / 10000.0 AS force_index,
               CAST(sf AS DOUBLE) / 130000.0 AS force_sma13,
               sf > 0 AS buying_pressure
        FROM win WHERE nw = 13
        ORDER BY event_type, day
    """,
    doc=(
        "W37: Force index with a 13-day SMA per event type — "
        "(close - close_prev) x volume, Elder's price-move-weighted-"
        "by-participation signal. The raw force is an exact BIGINT "
        "(fixed-point close delta x integer volume), the 13-day sum "
        "stays integer, and both emitted doubles are single shared "
        "divisions by constant scale factors (10000, 13 x 10000); the "
        "buying-pressure verdict compares the integer sum to zero. "
        "First day of each series drops; only full 13-row windows "
        "emit. Calendar-bounded per-type day table."
    ),
    tags=("window", "timeseries"),
)
def window_force_index_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    lagged = _bars(t).select(
        "event_type", "day", "c", "vol", F.lag("c").over(wl).alias("c_prev")
    )
    fi = lagged.filter(F.col("c_prev").isNotNull()).select(
        "event_type",
        "day",
        ((F.col("c") - F.col("c_prev")) * F.col("vol")).alias("f"),
    )
    wa = wl.rowsBetween(-12, W.currentRow)
    win = fi.select(
        "event_type",
        "day",
        "f",
        F.sum("f").over(wa).cast("bigint").alias("sf"),
        F.count(F.lit(1)).over(wa).alias("nw"),
    )
    return (
        win.filter(F.col("nw") == 13)
        .select(
            "event_type",
            "day",
            F.expr("CAST(f AS DOUBLE) / 10000.0").alias("force_index"),
            F.expr("CAST(sf AS DOUBLE) / 130000.0").alias("force_sma13"),
            (F.col("sf") > 0).alias("buying_pressure"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_keltner_channel_sma",
    oracle=f"""
        WITH {_BARS_SQL},
        lagged AS (
            SELECT event_type, day, h, l, c,
                   lag(c) OVER (PARTITION BY event_type ORDER BY day) AS c_prev
            FROM bars
        ),
        rows_ AS (
            SELECT event_type, day, c,
                   h + l + c AS tp3,
                   greatest(h - l, abs(h - c_prev), abs(l - c_prev)) AS tr
            FROM lagged WHERE c_prev IS NOT NULL
        ),
        win AS (
            SELECT event_type, day, c,
                   CAST(SUM(tp3) OVER w AS BIGINT) AS stp3,
                   CAST(SUM(tr) OVER w AS BIGINT) AS str10,
                   COUNT(*) OVER w AS nw
            FROM rows_
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        ),
        bands AS (
            SELECT event_type, day, c,
                   CAST(stp3 AS DOUBLE) / 300000.0 AS midline,
                   2.0 * CAST(str10 AS DOUBLE) / 100000.0 AS band_width
            FROM win WHERE nw = 10
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               midline,
               midline + band_width AS upper_band,
               midline - band_width AS lower_band,
               CAST(c AS DOUBLE) / 10000.0 > midline + band_width
                 AS above_upper,
               CAST(c AS DOUBLE) / 10000.0 < midline - band_width
                 AS below_lower
        FROM bands
        ORDER BY event_type, day
    """,
    doc=(
        "W38: 10-day Keltner channel (SMA variant) per event type — "
        "midline = SMA(typical price), bands at ±2 x SMA(true range): "
        "the volatility envelope whose width tracks ATR instead of "
        "standard deviation (the Bollinger sibling already in the "
        "battery). The x3-scaled typical price and the true range are "
        "exact integers, each 10-day sum an exact BIGINT; midline and "
        "band width are single divisions by constant scales (3x10x1e4, "
        "10x1e4), and upper/lower compose those two shared doubles "
        "identically on both engines. First day drops (TR needs the "
        "prior close); only full 10-row windows emit."
    ),
    tags=("window", "timeseries"),
)
def window_keltner_channel_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    lagged = _bars(t).select(
        "event_type", "day", "h", "l", "c", F.lag("c").over(wl).alias("c_prev")
    )
    rows_ = lagged.filter(F.col("c_prev").isNotNull()).select(
        "event_type",
        "day",
        "c",
        (F.col("h") + F.col("l") + F.col("c")).alias("tp3"),
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.col("c_prev")),
            F.abs(F.col("l") - F.col("c_prev")),
        ).alias("tr"),
    )
    wa = wl.rowsBetween(-9, W.currentRow)
    win = rows_.select(
        "event_type",
        "day",
        "c",
        F.sum("tp3").over(wa).cast("bigint").alias("stp3"),
        F.sum("tr").over(wa).cast("bigint").alias("str10"),
        F.count(F.lit(1)).over(wa).alias("nw"),
    )
    bands = win.filter(F.col("nw") == 10).select(
        "event_type",
        "day",
        "c",
        F.expr("CAST(stp3 AS DOUBLE) / 300000.0").alias("midline"),
        F.expr("2.0 * CAST(str10 AS DOUBLE) / 100000.0").alias("band_width"),
    )
    return bands.select(
        "event_type",
        "day",
        F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
        "midline",
        (F.col("midline") + F.col("band_width")).alias("upper_band"),
        (F.col("midline") - F.col("band_width")).alias("lower_band"),
        (F.expr("CAST(c AS DOUBLE) / 10000.0") > F.col("midline") + F.col("band_width")).alias(
            "above_upper"
        ),
        (F.expr("CAST(c AS DOUBLE) / 10000.0") < F.col("midline") - F.col("band_width")).alias(
            "below_lower"
        ),
    ).orderBy("event_type", "day")


@register(
    "window_rolling_sharpe_ratio",
    oracle=f"""
        WITH {_BARS_SQL},
        lagged AS (
            SELECT event_type, day, c,
                   lag(c) OVER (PARTITION BY event_type ORDER BY day) AS c_prev
            FROM bars
        ),
        rets AS (
            SELECT event_type, day, c - c_prev AS r
            FROM lagged WHERE c_prev IS NOT NULL
        ),
        win AS (
            SELECT event_type, day,
                   CAST(SUM(r) OVER w AS BIGINT) AS s,
                   CAST(SUM(r * r) OVER w AS BIGINT) AS q,
                   COUNT(*) OVER w AS nw
            FROM rets
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CAST(s AS DOUBLE) / 140000.0 AS mean_return,
               CASE WHEN 14 * q - s * s <= 0 THEN NULL
                    ELSE CAST(s AS DOUBLE)
                         / sqrt(CAST(14 * q - s * s AS DOUBLE) / 14.0) END
                 AS sharpe_like
        FROM win WHERE nw = 14
        ORDER BY event_type, day
    """,
    doc=(
        "W39: 14-day rolling Sharpe-like ratio per event type — mean "
        "daily close change over its same-window standard deviation "
        "(zero risk-free rate), the risk-adjusted-trend window that "
        "complements the raw trend tier. Daily returns are exact "
        "fixed-point integers, so the window mean and variance come "
        "from two exact BIGINT power sums (S, Q) and the ratio "
        "S / sqrt((n*Q - S^2)/n) is one shared IEEE expression "
        "(constant-variance windows emit NULL). Only full 14-row "
        "windows emit; first day of each series drops. Calendar-"
        "bounded per-type day table."
    ),
    tags=("window", "timeseries"),
)
def window_rolling_sharpe_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    lagged = _bars(t).select(
        "event_type", "day", "c", F.lag("c").over(wl).alias("c_prev")
    )
    rets = lagged.filter(F.col("c_prev").isNotNull()).select(
        "event_type", "day", (F.col("c") - F.col("c_prev")).alias("r")
    )
    wa = wl.rowsBetween(-13, W.currentRow)
    win = rets.select(
        "event_type",
        "day",
        F.sum("r").over(wa).cast("bigint").alias("s"),
        F.sum(F.col("r") * F.col("r")).over(wa).cast("bigint").alias("q"),
        F.count(F.lit(1)).over(wa).alias("nw"),
    )
    return (
        win.filter(F.col("nw") == 14)
        .select(
            "event_type",
            "day",
            F.expr("CAST(s AS DOUBLE) / 140000.0").alias("mean_return"),
            F.expr(
                "CASE WHEN 14 * q - s * s <= 0 THEN NULL"
                " ELSE CAST(s AS DOUBLE)"
                " / sqrt(CAST(14 * q - s * s AS DOUBLE) / 14.0) END"
            ).alias("sharpe_like"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_drawdown_from_peak",
    oracle=f"""
        WITH {_BARS_SQL},
        run AS (
            SELECT event_type, day, c,
                   MAX(c) OVER (PARTITION BY event_type ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS peak
            FROM bars
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CAST(peak AS DOUBLE) / 10000.0 AS running_peak,
               CAST(peak - c AS BIGINT) AS drawdown_fp,
               CASE WHEN peak = 0 THEN NULL
                    ELSE CAST(peak - c AS DOUBLE) / CAST(peak AS DOUBLE) END
                 AS drawdown_pct,
               c < peak AS underwater
        FROM run
        ORDER BY event_type, day
    """,
    doc=(
        "W40: drawdown from the running peak per event type — how far "
        "below its historical maximum each day closes, the risk metric "
        "every monitoring dashboard derives from a cumulative series "
        "(and the building block of max-drawdown/recovery-time "
        "reports). The running peak is a cumulative MAX — a SELECTION, "
        "not an accumulation, so it is exact on the fixed-point "
        "integers at any length (the same property that made the "
        "streaming extrema op oracle-able without recursion); the "
        "integer gap and one shared division emit alongside the "
        "underwater flag. One day-grain window per type."
    ),
    tags=("window", "timeseries", "anomaly"),
)
def window_drawdown_from_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wc = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = _bars(t).select(
        "event_type", "day", "c", F.max("c").over(wc).alias("peak")
    )
    return run.select(
        "event_type",
        "day",
        F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
        F.expr("CAST(peak AS DOUBLE) / 10000.0").alias("running_peak"),
        (F.col("peak") - F.col("c")).cast("bigint").alias("drawdown_fp"),
        F.expr(
            "CASE WHEN peak = 0 THEN NULL"
            " ELSE CAST(peak - c AS DOUBLE) / CAST(peak AS DOUBLE) END"
        ).alias("drawdown_pct"),
        (F.col("c") < F.col("peak")).alias("underwater"),
    ).orderBy("event_type", "day")


@register(
    "window_directional_movement_dx",
    oracle=f"""
        WITH {_BARS_SQL},
        lagged AS (
            SELECT event_type, day, h, l,
                   lag(h) OVER w AS h_prev,
                   lag(l) OVER w AS l_prev,
                   lag(c) OVER w AS c_prev
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ),
        dm AS (
            SELECT event_type, day,
                   CASE WHEN h - h_prev > l_prev - l AND h - h_prev > 0
                        THEN h - h_prev ELSE 0 END AS pdm,
                   CASE WHEN l_prev - l > h - h_prev AND l_prev - l > 0
                        THEN l_prev - l ELSE 0 END AS ndm,
                   greatest(h - l, abs(h - c_prev), abs(l - c_prev)) AS tr
            FROM lagged WHERE c_prev IS NOT NULL
        ),
        win AS (
            SELECT event_type, day,
                   CAST(SUM(pdm) OVER w AS BIGINT) AS spdm,
                   CAST(SUM(ndm) OVER w AS BIGINT) AS sndm,
                   CAST(SUM(tr) OVER w AS BIGINT) AS str14,
                   COUNT(*) OVER w AS nw
            FROM dm
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CASE WHEN str14 = 0 THEN NULL
                    ELSE 100.0 * CAST(spdm AS DOUBLE) / CAST(str14 AS DOUBLE)
               END AS di_plus,
               CASE WHEN str14 = 0 THEN NULL
                    ELSE 100.0 * CAST(sndm AS DOUBLE) / CAST(str14 AS DOUBLE)
               END AS di_minus,
               CASE WHEN spdm + sndm = 0 THEN 0.0
                    ELSE 100.0 * CAST(abs(spdm - sndm) AS DOUBLE)
                         / CAST(spdm + sndm AS DOUBLE) END AS dx,
               spdm > sndm AS bullish
        FROM win WHERE nw = 14
        ORDER BY event_type, day
    """,
    doc=(
        "W41: 14-day directional movement (+DI / -DI / DX, the SMA "
        "variant of Wilder's system) per event type — how much of the "
        "true range is DIRECTED movement, the trend-strength reading "
        "under ADX (the recursive Wilder smoothing of DX belongs to "
        "the applyInPandas recurrence tier like Holt/Kalman; DX "
        "itself is window-exact). Directional movements and true "
        "range are exact fixed-point integer selections, the 14-day "
        "sums exact BIGINTs; the DIs and DX are shared divisions "
        "(DX = 100|+DM14 - -DM14|/(+DM14 + -DM14) cancels the TR "
        "denominator, so it is one division of integer sums); the "
        "bullish verdict compares integer numerators. Calendar-"
        "bounded per-type day table."
    ),
    tags=("window", "timeseries"),
)
def window_directional_movement_dx(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    lagged = _bars(t).select(
        "event_type",
        "day",
        "h",
        "l",
        F.lag("h").over(wl).alias("h_prev"),
        F.lag("l").over(wl).alias("l_prev"),
        F.lag("c").over(wl).alias("c_prev"),
    )
    dm = lagged.filter(F.col("c_prev").isNotNull()).select(
        "event_type",
        "day",
        F.expr(
            "CASE WHEN h - h_prev > l_prev - l AND h - h_prev > 0"
            " THEN h - h_prev ELSE 0 END"
        ).alias("pdm"),
        F.expr(
            "CASE WHEN l_prev - l > h - h_prev AND l_prev - l > 0"
            " THEN l_prev - l ELSE 0 END"
        ).alias("ndm"),
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.col("c_prev")),
            F.abs(F.col("l") - F.col("c_prev")),
        ).alias("tr"),
    )
    wa = wl.rowsBetween(-13, W.currentRow)
    win = dm.select(
        "event_type",
        "day",
        F.sum("pdm").over(wa).cast("bigint").alias("spdm"),
        F.sum("ndm").over(wa).cast("bigint").alias("sndm"),
        F.sum("tr").over(wa).cast("bigint").alias("str14"),
        F.count(F.lit(1)).over(wa).alias("nw"),
    )
    return (
        win.filter(F.col("nw") == 14)
        .select(
            "event_type",
            "day",
            F.expr(
                "CASE WHEN str14 = 0 THEN NULL"
                " ELSE 100.0 * CAST(spdm AS DOUBLE) / CAST(str14 AS DOUBLE) END"
            ).alias("di_plus"),
            F.expr(
                "CASE WHEN str14 = 0 THEN NULL"
                " ELSE 100.0 * CAST(sndm AS DOUBLE) / CAST(str14 AS DOUBLE) END"
            ).alias("di_minus"),
            F.expr(
                "CASE WHEN spdm + sndm = 0 THEN 0.0"
                " ELSE 100.0 * CAST(abs(spdm - sndm) AS DOUBLE)"
                " / CAST(spdm + sndm AS DOUBLE) END"
            ).alias("dx"),
            (F.col("spdm") > F.col("sndm")).alias("bullish"),
        )
        .orderBy("event_type", "day")
    )


#: Heikin-Ashi recurrence templates — DuckDB can't reference sibling
#: aliases, so ha_high/ha_low recompute the open/close expressions;
#: identical IEEE ops give identical doubles (the Kalman trick).
_HA_C = "(CAST(b.o + b.h + b.l + b.c AS DOUBLE) / 4.0)"
_HA_O = "((r.ha_o + r.ha_c) / 2.0)"


@register(
    "window_heikin_ashi_candles",
    oracle=f"""
        WITH RECURSIVE {_BARS_SQL},
        nb AS MATERIALIZED (
            SELECT event_type, day, o, h, l, c,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS rn
            FROM bars
        ),
        r AS (
            SELECT event_type, day, rn, o, h, l, c,
                   (CAST(o + c AS DOUBLE) / 2.0) AS ha_o,
                   (CAST(o + h + l + c AS DOUBLE) / 4.0) AS ha_c,
                   greatest(CAST(h AS DOUBLE), (CAST(o + c AS DOUBLE) / 2.0),
                            (CAST(o + h + l + c AS DOUBLE) / 4.0)) AS ha_h,
                   least(CAST(l AS DOUBLE), (CAST(o + c AS DOUBLE) / 2.0),
                         (CAST(o + h + l + c AS DOUBLE) / 4.0)) AS ha_l
            FROM nb WHERE rn = 1
            UNION ALL
            SELECT b.event_type, b.day, b.rn, b.o, b.h, b.l, b.c,
                   {_HA_O} AS ha_o,
                   {_HA_C} AS ha_c,
                   greatest(CAST(b.h AS DOUBLE), {_HA_O}, {_HA_C}) AS ha_h,
                   least(CAST(b.l AS DOUBLE), {_HA_O}, {_HA_C}) AS ha_l
            FROM nb b JOIN r ON b.event_type = r.event_type
                            AND b.rn = r.rn + 1
        )
        SELECT event_type, day,
               ha_o / 10000.0 AS ha_open,
               ha_h / 10000.0 AS ha_high,
               ha_l / 10000.0 AS ha_low,
               ha_c / 10000.0 AS ha_close,
               ha_c > ha_o AS bullish
        FROM r
        ORDER BY event_type, day
    """,
    doc=(
        "W43: Heikin-Ashi candles per event type's daily bars — the "
        "trend-smoothing candle transform where each open is the "
        "midpoint of the PREVIOUS HA candle (ha_o_t = (ha_o_{t-1} + "
        "ha_c_{t-1})/2), making the series order-sequential: the "
        "recurrence tier's contract (applyInPandas per type — serial "
        "within a calendar-bounded day series, parallel across types; "
        "same key bound as Kalman/Croston/MACD). ha_close is per-row "
        "arithmetic on exact fixed-point bars; the recursive-CTE "
        "oracle replays the identical IEEE op sequence via the "
        "templated recurrences (_HA_O/_HA_C), and greatest/least of "
        "the same doubles agree engine-to-engine. Uses the shared bar "
        "reduction, now carrying the true session open (min_by twin "
        "of the max_by close)."
    ),
    tags=("window", "timeseries", "custom"),
)
def window_heikin_ashi_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    bars = _bars(t).select("event_type", "day", "o", "h", "l", "c")

    schema = (
        "event_type string, day date, ha_open double, ha_high double,"
        " ha_low double, ha_close double, bullish boolean"
    )

    def _ha(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day", kind="mergesort")
        out = []
        ha_o = ha_c = None
        for _, row in pdf.iterrows():
            o, h, l, c = row["o"], row["h"], row["l"], row["c"]
            if ha_o is None:
                ha_o = (o + c) / 2.0
            else:
                ha_o = (ha_o + ha_c) / 2.0
            ha_c = (o + h + l + c) / 4.0
            ha_h = max(float(h), ha_o, ha_c)
            ha_l = min(float(l), ha_o, ha_c)
            out.append(
                (
                    row["event_type"], row["day"],
                    ha_o / 10000.0, ha_h / 10000.0,
                    ha_l / 10000.0, ha_c / 10000.0,
                    ha_c > ha_o,
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "event_type", "day", "ha_open", "ha_high",
                "ha_low", "ha_close", "bullish",
            ],
        )

    return (
        bars.groupBy("event_type")
        .applyInPandas(_ha, schema=schema)
        .orderBy("event_type", "day")
    )


@register(
    "window_fractal_swing_points",
    oracle=f"""
        WITH {_BARS_SQL},
        ctx AS (
            SELECT event_type, day, h, l,
                   lag(h, 2) OVER w AS h_m2, lag(h, 1) OVER w AS h_m1,
                   lead(h, 1) OVER w AS h_p1, lead(h, 2) OVER w AS h_p2,
                   lag(l, 2) OVER w AS l_m2, lag(l, 1) OVER w AS l_m1,
                   lead(l, 1) OVER w AS l_p1, lead(l, 2) OVER w AS l_p2
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        )
        SELECT event_type, day,
               CAST(h AS DOUBLE) / 10000.0 AS high,
               CAST(l AS DOUBLE) / 10000.0 AS low,
               (h > h_m2 AND h > h_m1 AND h > h_p1 AND h > h_p2)
                   AS fractal_high,
               (l < l_m2 AND l < l_m1 AND l < l_p1 AND l < l_p2)
                   AS fractal_low
        FROM ctx
        WHERE h_m2 IS NOT NULL AND h_p2 IS NOT NULL
        ORDER BY event_type, day
    """,
    doc=(
        "W44: Williams fractal swing points on the shared day bars — a "
        "bar whose high strictly exceeds the two highs on each side is "
        "a swing high (support/resistance anchor; the discrete extrema "
        "detector under breakout and market-structure rules), dual for "
        "swing lows. Pure lag/lead comparisons on exact fixed-point "
        "integers inside the one per-type window — no new shuffle, no "
        "arithmetic at all beyond the display division; interior bars "
        "only (the first/last two days are undefined by construction)."
    ),
    tags=("window", "timeseries"),
)
def window_fractal_swing_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy("day")
    ctx = _bars(Tables(spark, sf_dir)).select(
        "event_type",
        "day",
        "h",
        "l",
        F.lag("h", 2).over(w).alias("h_m2"),
        F.lag("h", 1).over(w).alias("h_m1"),
        F.lead("h", 1).over(w).alias("h_p1"),
        F.lead("h", 2).over(w).alias("h_p2"),
        F.lag("l", 2).over(w).alias("l_m2"),
        F.lag("l", 1).over(w).alias("l_m1"),
        F.lead("l", 1).over(w).alias("l_p1"),
        F.lead("l", 2).over(w).alias("l_p2"),
    )
    return (
        ctx.filter(F.col("h_m2").isNotNull() & F.col("h_p2").isNotNull())
        .select(
            "event_type",
            "day",
            (F.col("h").cast("double") / 10000.0).alias("high"),
            (F.col("l").cast("double") / 10000.0).alias("low"),
            (
                (F.col("h") > F.col("h_m2"))
                & (F.col("h") > F.col("h_m1"))
                & (F.col("h") > F.col("h_p1"))
                & (F.col("h") > F.col("h_p2"))
            ).alias("fractal_high"),
            (
                (F.col("l") < F.col("l_m2"))
                & (F.col("l") < F.col("l_m1"))
                & (F.col("l") < F.col("l_p1"))
                & (F.col("l") < F.col("l_p2"))
            ).alias("fractal_low"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Round-8 additions (SURVEY §2.18): Hull moving average and a
# quarter-scale Ichimoku cloud — both EXACT (integer window sums until
# one shared final division; no recurrence, so no applyInPandas).
# ---------------------------------------------------------------------------


@register(
    "window_hull_moving_average",
    oracle=f"""
        WITH {_BARS_SQL},
        seq AS (
            SELECT event_type, day, c,
                   row_number() OVER (PARTITION BY event_type ORDER BY day)
                       AS rn
            FROM bars
        ),
        wma AS (
            SELECT event_type, day, c, rn,
                   SUM(c * rn) OVER w4 - (rn - 4) * SUM(c) OVER w4 AS a4,
                   SUM(c * rn) OVER w9 - (rn - 9) * SUM(c) OVER w9 AS b9,
                   COUNT(*) OVER w9 AS n9
            FROM seq
            WINDOW w4 AS (PARTITION BY event_type ORDER BY rn
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
                   w9 AS (PARTITION BY event_type ORDER BY rn
                          ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
        ),
        d AS (
            SELECT event_type, day, c, rn,
                   9 * a4 - b9 AS dnum
            FROM wma WHERE n9 = 9
        ),
        h AS (
            SELECT event_type, day, c,
                   SUM(dnum * rn) OVER w3 - (rn - 3) * SUM(dnum) OVER w3
                       AS enum,
                   COUNT(*) OVER w3 AS n3
            FROM d
            WINDOW w3 AS (PARTITION BY event_type ORDER BY rn
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CAST(enum AS DOUBLE) / 2700000.0 AS hma
        FROM h WHERE n3 = 3
        ORDER BY event_type, day
    """,
    doc=(
        "W45: Hull moving average HMA(9) = WMA_3(2*WMA_4 - WMA_9) over "
        "the per-type daily closes — the low-lag smoother (the 2x-half "
        "minus full-length trick cancels first-order lag). Normally "
        "HMA is float soup; here every stage stays an exact integer: "
        "a position-weighted window sum is SUM(c*rn) - (rn-k)*SUM(c) "
        "over the row_number basis, the stage combination 2*A/10 - "
        "B/45 = (9A - B)/45 clears to one integer numerator, and the "
        "final WMA_3 leaves hma = E / (45 * 6 * 10000) — ONE shared "
        "division after three integer window folds. Only full windows "
        "emit (the RSI contract). Calendar-bounded per-type day "
        "table; the three windows share the per-type partitioning."
    ),
    tags=("window", "timeseries"),
)
def window_hull_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    seq = _bars(t).select(
        "event_type",
        "day",
        "c",
        F.row_number().over(W.partitionBy("event_type").orderBy("day")).alias("rn"),
    )
    w4 = W.partitionBy("event_type").orderBy("rn").rowsBetween(-3, W.currentRow)
    w9 = W.partitionBy("event_type").orderBy("rn").rowsBetween(-8, W.currentRow)
    wma = seq.select(
        "event_type",
        "day",
        "c",
        "rn",
        (
            F.sum(F.col("c") * F.col("rn")).over(w4)
            - (F.col("rn") - 4) * F.sum("c").over(w4)
        ).alias("a4"),
        (
            F.sum(F.col("c") * F.col("rn")).over(w9)
            - (F.col("rn") - 9) * F.sum("c").over(w9)
        ).alias("b9"),
        F.count(F.lit(1)).over(w9).alias("n9"),
    )
    d = wma.filter(F.col("n9") == 9).select(
        "event_type", "day", "c", "rn", (9 * F.col("a4") - F.col("b9")).alias("dnum")
    )
    w3 = W.partitionBy("event_type").orderBy("rn").rowsBetween(-2, W.currentRow)
    h = d.select(
        "event_type",
        "day",
        "c",
        (
            F.sum(F.col("dnum") * F.col("rn")).over(w3)
            - (F.col("rn") - 3) * F.sum("dnum").over(w3)
        ).alias("enum"),
        F.count(F.lit(1)).over(w3).alias("n3"),
    )
    return (
        h.filter(F.col("n3") == 3)
        .select(
            "event_type",
            "day",
            F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
            F.expr("CAST(enum AS DOUBLE) / 2700000.0").alias("hma"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_ichimoku_cloud",
    oracle=f"""
        WITH {_BARS_SQL},
        seq AS (
            SELECT event_type, day, h, l, c,
                   row_number() OVER (PARTITION BY event_type ORDER BY day)
                       AS rn
            FROM bars
        ),
        lines AS (
            SELECT event_type, day, c, rn,
                   MAX(h) OVER w3 + MIN(l) OVER w3 AS tenkan_x2,
                   MAX(h) OVER w6 + MIN(l) OVER w6 AS kijun_x2,
                   MAX(h) OVER w12 + MIN(l) OVER w12 AS spanb_x2
            FROM seq
            WINDOW w3 AS (PARTITION BY event_type ORDER BY rn
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                   w6 AS (PARTITION BY event_type ORDER BY rn
                          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
                   w12 AS (PARTITION BY event_type ORDER BY rn
                           ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
        ),
        shifted AS (
            SELECT event_type, day, c, rn, tenkan_x2, kijun_x2,
                   lag(tenkan_x2 + kijun_x2, 6)
                       OVER (PARTITION BY event_type ORDER BY rn) AS spana_x4,
                   lag(spanb_x2, 6)
                       OVER (PARTITION BY event_type ORDER BY rn) AS spanb_lag_x2,
                   lead(c, 6)
                       OVER (PARTITION BY event_type ORDER BY rn) AS chikou_c
            FROM lines
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CAST(tenkan_x2 AS DOUBLE) / 20000.0 AS tenkan,
               CAST(kijun_x2 AS DOUBLE) / 20000.0 AS kijun,
               CAST(spana_x4 AS DOUBLE) / 40000.0 AS senkou_a,
               CAST(spanb_lag_x2 AS DOUBLE) / 20000.0 AS senkou_b,
               CAST(chikou_c AS DOUBLE) / 10000.0 AS chikou,
               4 * c > GREATEST(spana_x4, 2 * spanb_lag_x2) AS above_cloud,
               tenkan_x2 > kijun_x2 AS bullish_tk
        FROM shifted WHERE rn >= 18
        ORDER BY event_type, day
    """,
    doc=(
        "W46: Ichimoku cloud at quarter scale (tenkan 3, kijun 6, "
        "senkou B 12, displacement 6 — the classical 9/26/52/26 "
        "shrunk 1:3 so a 30-day calendar still emits full windows; "
        "the construction is scale-free). Every line is (max + min) "
        "of fixed-point integers kept DOUBLED (x2; senkou A x4), so "
        "halving never rounds: tenkan = tenkan_x2/2 exactly, and the "
        "above-cloud / TK-cross verdicts are EXACT integer "
        "comparisons (4c vs max(spanA_x4, 2*spanB_x2)) — no float at "
        "any decision boundary. Senkou spans are lag-6 projections, "
        "chikou is the lead-6 close (NULL on the last 6 days, as "
        "charted). Rows emit once the lagged senkou B window is full "
        "(rn >= 18). One day-grain reduction, four frames over one "
        "per-type partitioning."
    ),
    tags=("window", "timeseries"),
)
def window_ichimoku_cloud(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    seq = _bars(t).select(
        "event_type",
        "day",
        "h",
        "l",
        "c",
        F.row_number().over(W.partitionBy("event_type").orderBy("day")).alias("rn"),
    )
    w3 = W.partitionBy("event_type").orderBy("rn").rowsBetween(-2, W.currentRow)
    w6 = W.partitionBy("event_type").orderBy("rn").rowsBetween(-5, W.currentRow)
    w12 = W.partitionBy("event_type").orderBy("rn").rowsBetween(-11, W.currentRow)
    lines = seq.select(
        "event_type",
        "day",
        "c",
        "rn",
        (F.max("h").over(w3) + F.min("l").over(w3)).alias("tenkan_x2"),
        (F.max("h").over(w6) + F.min("l").over(w6)).alias("kijun_x2"),
        (F.max("h").over(w12) + F.min("l").over(w12)).alias("spanb_x2"),
    )
    wo = W.partitionBy("event_type").orderBy("rn")
    shifted = lines.select(
        "event_type",
        "day",
        "c",
        "rn",
        "tenkan_x2",
        "kijun_x2",
        F.lag(F.col("tenkan_x2") + F.col("kijun_x2"), 6).over(wo).alias("spana_x4"),
        F.lag("spanb_x2", 6).over(wo).alias("spanb_lag_x2"),
        F.lead("c", 6).over(wo).alias("chikou_c"),
    )
    return (
        shifted.filter(F.col("rn") >= 18)
        .select(
            "event_type",
            "day",
            F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
            F.expr("CAST(tenkan_x2 AS DOUBLE) / 20000.0").alias("tenkan"),
            F.expr("CAST(kijun_x2 AS DOUBLE) / 20000.0").alias("kijun"),
            F.expr("CAST(spana_x4 AS DOUBLE) / 40000.0").alias("senkou_a"),
            F.expr("CAST(spanb_lag_x2 AS DOUBLE) / 20000.0").alias("senkou_b"),
            F.expr("CAST(chikou_c AS DOUBLE) / 10000.0").alias("chikou"),
            F.expr("4 * c > GREATEST(spana_x4, 2 * spanb_lag_x2)").alias(
                "above_cloud"
            ),
            F.expr("tenkan_x2 > kijun_x2").alias("bullish_tk"),
        )
        .orderBy("event_type", "day")
    )


#: KAMA smoothing-constant template — identical IEEE text on both
#: engines and in the pandas fold: t = er*(2/3 - 2/31) + 2/31, sc = t*t
_KAMA_T = "({er} * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0)"


@register(
    "window_kaufman_kama",
    oracle=f"""
        WITH RECURSIVE {_BARS_SQL},
        seq AS (
            SELECT event_type, day, c,
                   row_number() OVER (PARTITION BY event_type ORDER BY day)
                       AS rn
            FROM bars
        ),
        er AS MATERIALIZED (
            SELECT event_type, day, c, rn,
                   CASE WHEN SUM(ad) OVER w10 = 0 OR COUNT(*) OVER w10 < 10
                        THEN 0.0
                        ELSE CAST(abs(c - lag(c, 10) OVER wo) AS DOUBLE)
                             / CAST(SUM(ad) OVER w10 AS DOUBLE) END AS er
            FROM (
                SELECT event_type, day, c, rn,
                       abs(c - lag(c) OVER (PARTITION BY event_type
                                            ORDER BY rn)) AS ad
                FROM seq
            )
            WINDOW wo AS (PARTITION BY event_type ORDER BY rn),
                   w10 AS (PARTITION BY event_type ORDER BY rn
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        ),
        r AS (
            SELECT event_type, day, rn, c, er, CAST(c AS DOUBLE) AS kama
            FROM er WHERE rn = 11
            UNION ALL
            SELECT b.event_type, b.day, b.rn, b.c, b.er,
                   r.kama + {_KAMA_T.format(er="b.er")}
                          * {_KAMA_T.format(er="b.er")}
                          * (CAST(b.c AS DOUBLE) - r.kama) AS kama
            FROM er b JOIN r ON b.event_type = r.event_type
                            AND b.rn = r.rn + 1
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               er AS efficiency_ratio,
               kama / 10000.0 AS kama
        FROM r
        ORDER BY event_type, day
    """,
    doc=(
        "W47: Kaufman's adaptive moving average (KAMA 10/2/30) per "
        "event type — the smoother that speeds up when the market is "
        "DIRECTED and flattens when it chops, governed by the "
        "efficiency ratio ER = |c_t - c_{t-10}| / Sum|dc| (an exact "
        "integer ratio, window-computed on both engines; 0 on flat or "
        "short windows). The adaptive recurrence kama += sc*(c - "
        "kama), sc = (ER*(2/3 - 2/31) + 2/31)^2, is order-sequential "
        "— the applyInPandas recurrence tier (serial within the "
        "calendar-bounded day series, parallel across types, like "
        "Holt/Kalman/Heikin-Ashi); the recursive-CTE oracle replays "
        "the identical IEEE op sequence via the templated _KAMA_T "
        "smoothing constant, seeded kama = close at the first full-ER "
        "row (rn = 11). The heavy part (ER) stays window-exact "
        "integers; Python only folds three floats per type."
    ),
    tags=("window", "timeseries", "custom"),
)
def window_kaufman_kama(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy("rn")
    w10 = wo.rowsBetween(-9, W.currentRow)
    seq = _bars(t).select(
        "event_type",
        "day",
        "c",
        F.row_number().over(W.partitionBy("event_type").orderBy("day")).alias("rn"),
    )
    ad = seq.select(
        "event_type",
        "day",
        "c",
        "rn",
        F.abs(F.col("c") - F.lag("c").over(wo)).alias("ad"),
    )
    er = ad.select(
        "event_type",
        "day",
        "c",
        "rn",
        F.expr(
            "CASE WHEN SUM(ad) OVER (PARTITION BY event_type ORDER BY rn"
            " ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) = 0"
            " OR COUNT(*) OVER (PARTITION BY event_type ORDER BY rn"
            " ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) < 10"
            " THEN 0.0"
            " ELSE CAST(abs(c - lag(c, 10) OVER (PARTITION BY event_type"
            " ORDER BY rn)) AS DOUBLE)"
            " / CAST(SUM(ad) OVER (PARTITION BY event_type ORDER BY rn"
            " ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE) END"
        ).alias("er"),
    ).filter(F.col("rn") >= 11)

    schema = (
        "event_type string, day date, close double,"
        " efficiency_ratio double, kama double"
    )

    def _kama(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("rn", kind="mergesort")
        out = []
        kama = None
        for _, row in pdf.iterrows():
            c = float(row["c"])
            e = float(row["er"])
            if kama is None:
                kama = c
            else:
                sc_t = e * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0
                kama = kama + sc_t * sc_t * (c - kama)
            out.append(
                (row["event_type"], row["day"], c / 10000.0, e, kama / 10000.0)
            )
        return pd.DataFrame(
            out,
            columns=["event_type", "day", "close", "efficiency_ratio", "kama"],
        )

    return (
        er.groupBy("event_type")
        .applyInPandas(_kama, schema=schema)
        .orderBy("event_type", "day")
    )


def _psar_oracle() -> str:
    """Recursive-CTE Parabolic SAR replay. The step is two nested
    layers (clamped candidate, then the reversal branch set), every
    CASE written in the exact order the pandas fold evaluates."""
    sar_c = (
        "CASE WHEN r.trend = 1"
        " THEN LEAST(r.sar + r.af * (r.ep - r.sar), b.lp1, b.lp2)"
        " ELSE GREATEST(r.sar + r.af * (r.ep - r.sar), b.hp1, b.hp2) END"
    )
    return f"""
        WITH RECURSIVE {_BARS_SQL},
        nb AS MATERIALIZED (
            SELECT event_type, day,
                   CAST(h AS DOUBLE) AS h, CAST(l AS DOUBLE) AS l,
                   CAST(c AS DOUBLE) AS c,
                   CAST(lag(h) OVER w AS DOUBLE) AS hp1,
                   CAST(lag(h, 2) OVER w AS DOUBLE) AS hp2,
                   CAST(lag(l) OVER w AS DOUBLE) AS lp1,
                   CAST(lag(l, 2) OVER w AS DOUBLE) AS lp2,
                   CAST(lag(c) OVER w AS DOUBLE) AS cp1,
                   row_number() OVER w AS rn
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ),
        r AS (
            SELECT event_type, day, rn, c,
                   CASE WHEN c >= cp1 THEN 1 ELSE -1 END AS trend,
                   CASE WHEN c >= cp1 THEN lp1 ELSE hp1 END AS sar,
                   CASE WHEN c >= cp1 THEN h ELSE l END AS ep,
                   0.02 AS af
            FROM nb WHERE rn = 2
            UNION ALL
            SELECT event_type, day, rn, c,
                   CASE WHEN flip THEN -pt ELSE pt END AS trend,
                   CASE WHEN flip THEN pep ELSE sar_c END AS sar,
                   CASE WHEN flip AND pt = 1 THEN l
                        WHEN flip THEN h
                        WHEN pt = 1 THEN CASE WHEN h > pep THEN h ELSE pep END
                        ELSE CASE WHEN l < pep THEN l ELSE pep END END AS ep,
                   CASE WHEN flip THEN 0.02
                        WHEN pt = 1 AND h > pep THEN
                            CASE WHEN paf + 0.02 > 0.2 THEN 0.2
                                 ELSE paf + 0.02 END
                        WHEN pt = -1 AND l < pep THEN
                            CASE WHEN paf + 0.02 > 0.2 THEN 0.2
                                 ELSE paf + 0.02 END
                        ELSE paf END AS af
            FROM (
                SELECT i.*,
                       CASE WHEN i.pt = 1 AND i.l < i.sar_c THEN TRUE
                            WHEN i.pt = -1 AND i.h > i.sar_c THEN TRUE
                            ELSE FALSE END AS flip
                FROM (
                    SELECT b.event_type, b.day, b.rn, b.h, b.l, b.c,
                           r.trend AS pt, r.ep AS pep, r.af AS paf,
                           {sar_c} AS sar_c
                    FROM nb b JOIN r ON b.event_type = r.event_type
                                    AND b.rn = r.rn + 1
                ) i
            )
        )
        SELECT event_type, day,
               c / 10000.0 AS close,
               sar / 10000.0 AS psar,
               CAST(trend AS BIGINT) AS trend,
               ep / 10000.0 AS extreme_point,
               af AS acceleration
        FROM r
        ORDER BY event_type, day
    """


@register(
    "window_parabolic_sar",
    oracle=_psar_oracle(),
    doc=(
        "W48: Wilder's Parabolic SAR per event type's daily bars — the "
        "trailing stop-and-reverse system and the most state-laden "
        "recurrence in the battery: FOUR carried values (trend "
        "direction, SAR, extreme point, acceleration factor 0.02 -> "
        "0.2 by 0.02) with a branch structure (accelerate / clamp to "
        "the two prior bars' extremes / reverse on penetration) that "
        "no window algebra expresses. applyInPandas per type (the "
        "Holt/Kalman/KAMA serial-within-key bound); the recursive-CTE "
        "oracle replays the IDENTICAL IEEE op and CASE evaluation "
        "order — candidate SAR, two-bar clamp via LEAST/GREATEST, "
        "penetration test, then the reversal branch set — so every "
        "emitted SAR, EP and AF is hash-exact. Convention pinned by "
        "the oracle itself: seed at bar 2 (trend = sign of the first "
        "close change, SAR = prior bar's opposite extreme), clamp "
        "before the penetration test, EP/AF update only on new "
        "extremes. Bars are the shared day-grain reduction."
    ),
    tags=("window", "timeseries", "custom"),
)
def window_parabolic_sar(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    bars = _bars(t).select("event_type", "day", "h", "l", "c")
    schema = (
        "event_type string, day date, close double, psar double,"
        " trend bigint, extreme_point double, acceleration double"
    )

    def _psar(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day", kind="mergesort")
        out = []
        hs = [float(v) for v in pdf["h"]]
        ls = [float(v) for v in pdf["l"]]
        cs = [float(v) for v in pdf["c"]]
        trend = sar = ep = af = None
        for i in range(len(pdf)):
            if i == 0:
                continue
            h, l, c = hs[i], ls[i], cs[i]
            if i == 1:
                trend = 1 if c >= cs[0] else -1
                sar = ls[0] if trend == 1 else hs[0]
                ep = h if trend == 1 else l
                af = 0.02
            else:
                if trend == 1:
                    sar_c = min(sar + af * (ep - sar), ls[i - 1], ls[i - 2])
                else:
                    sar_c = max(sar + af * (ep - sar), hs[i - 1], hs[i - 2])
                flip = (trend == 1 and l < sar_c) or (
                    trend == -1 and h > sar_c
                )
                if flip:
                    sar = ep
                    ep = l if trend == 1 else h
                    trend = -trend
                    af = 0.02
                else:
                    sar = sar_c
                    if trend == 1 and h > ep:
                        ep = h
                        af = 0.2 if af + 0.02 > 0.2 else af + 0.02
                    elif trend == -1 and l < ep:
                        ep = l
                        af = 0.2 if af + 0.02 > 0.2 else af + 0.02
            out.append(
                (
                    pdf["event_type"].iloc[i], pdf["day"].iloc[i],
                    c / 10000.0, sar / 10000.0, trend, ep / 10000.0, af,
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "event_type", "day", "close", "psar",
                "trend", "extreme_point", "acceleration",
            ],
        )

    return (
        bars.groupBy("event_type")
        .applyInPandas(_psar, schema=schema)
        .orderBy("event_type", "day")
    )


def _supertrend_oracle() -> str:
    """Recursive-CTE SuperTrend replay in the x28 INTEGER basis:
    mid*28 = 14*(h+l), band offset = 6*S14 (ATR14*28 = 2*S14), close
    compares as 28*c — the whole recurrence (band ratchets + trend
    flips) is exact integer arithmetic, no float anywhere."""
    return f"""
        WITH RECURSIVE {_BARS_SQL},
        tr AS (
            SELECT event_type, day, h, l, c,
                   greatest(h - l, abs(h - lag(c) OVER w),
                            abs(l - lag(c) OVER w)) AS tr
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ),
        basis AS (
            SELECT event_type, day, c,
                   14 * (h + l) + 6 * SUM(tr) OVER wa AS bub,
                   14 * (h + l) - 6 * SUM(tr) OVER wa AS blb,
                   COUNT(tr) OVER wa AS nw
            FROM tr
            WINDOW wa AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        ),
        nb AS MATERIALIZED (
            SELECT event_type, day, c, bub, blb,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS rn
            FROM basis WHERE nw = 14
        ),
        r AS (
            SELECT event_type, day, rn, c, bub AS fub, blb AS flb,
                   CASE WHEN 28 * c >= (bub + blb) // 2
                        THEN 1 ELSE -1 END AS trend
            FROM nb WHERE rn = 1
            UNION ALL
            SELECT event_type, day, rn, c, fub, flb,
                   CASE WHEN pt = 1 AND 28 * c < flb THEN -1
                        WHEN pt = -1 AND 28 * c > fub THEN 1
                        ELSE pt END AS trend
            FROM (
                SELECT b.event_type, b.day, b.rn, b.c, r.trend AS pt,
                       CASE WHEN b.bub < r.fub OR 28 * r.c > r.fub
                            THEN b.bub ELSE r.fub END AS fub,
                       CASE WHEN b.blb > r.flb OR 28 * r.c < r.flb
                            THEN b.blb ELSE r.flb END AS flb
                FROM nb b JOIN r ON b.event_type = r.event_type
                                AND b.rn = r.rn + 1
            )
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CAST(CASE WHEN trend = 1 THEN flb ELSE fub END AS DOUBLE)
                   / 280000.0 AS supertrend,
               CAST(trend AS BIGINT) AS trend,
               CAST(fub AS DOUBLE) / 280000.0 AS final_upper,
               CAST(flb AS DOUBLE) / 280000.0 AS final_lower
        FROM r
        ORDER BY event_type, day
    """


@register(
    "window_supertrend",
    oracle=_supertrend_oracle(),
    doc=(
        "W49: SuperTrend (ATR-14, multiplier 3) per event type's daily "
        "bars — the band-ratchet trend follower: basic bands = mid +/- "
        "3*ATR, final bands only RATCHET toward price until a close "
        "crosses them, and the indicator rides the lower band in "
        "up-trends / upper band in down-trends. The entire recurrence "
        "runs in the x28 INTEGER basis (mid*28 = 14*(h+l); "
        "ATR14*28 = 2*S14 where S14 is the exact 14-day TR sum; close "
        "compares as 28c), so unlike every other recurrence-tier op "
        "there is NO float anywhere in the state — band ratchets, "
        "penetration tests and trend flips are exact BIGINT "
        "comparisons, and the recursive-CTE oracle is trivially "
        "bit-faithful. The one scale division happens at emit time. "
        "applyInPandas per type (the Holt/Kalman serial-within-key "
        "bound); seed trend = close above/below the basic midline at "
        "the first full-ATR bar."
    ),
    tags=("window", "timeseries", "custom"),
)
def window_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    tr = _bars(t).select(
        "event_type",
        "day",
        "h",
        "l",
        "c",
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.lag("c").over(wl)),
            F.abs(F.col("l") - F.lag("c").over(wl)),
        ).alias("tr"),
    )
    wa = wl.rowsBetween(-13, W.currentRow)
    basis = (
        tr.select(
            "event_type",
            "day",
            "c",
            (14 * (F.col("h") + F.col("l")) + 6 * F.sum("tr").over(wa)).alias("bub"),
            (14 * (F.col("h") + F.col("l")) - 6 * F.sum("tr").over(wa)).alias("blb"),
            F.count("tr").over(wa).alias("nw"),
        )
        .filter(F.col("nw") == 14)
    )
    schema = (
        "event_type string, day date, close double, supertrend double,"
        " trend bigint, final_upper double, final_lower double"
    )

    def _st(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day", kind="mergesort")
        out = []
        fub = flb = trend = pc = None
        for _, row in pdf.iterrows():
            c, bub, blb = int(row["c"]), int(row["bub"]), int(row["blb"])
            if fub is None:
                fub, flb = bub, blb
                mid2 = (bub + blb) // 2  # exact: bub+blb = 28*(h+l) even
                trend = 1 if 28 * c >= mid2 else -1
            else:
                fub = bub if (bub < fub or 28 * pc > fub) else fub
                flb = blb if (blb > flb or 28 * pc < flb) else flb
                if trend == 1 and 28 * c < flb:
                    trend = -1
                elif trend == -1 and 28 * c > fub:
                    trend = 1
            pc = c
            out.append(
                (
                    row["event_type"], row["day"], c / 10000.0,
                    (flb if trend == 1 else fub) / 280000.0,
                    trend, fub / 280000.0, flb / 280000.0,
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "event_type", "day", "close", "supertrend",
                "trend", "final_upper", "final_lower",
            ],
        )

    return (
        basis.groupBy("event_type")
        .applyInPandas(_st, schema=schema)
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Round-9 additions (SURVEY §2.19): four more classical TA windows on the
# shared day-bar reduction, all with INTEGER cores — the multi-horizon
# Ultimate Oscillator, Elder Ray bull/bear power, the Chandelier exit
# (SMA-ATR variant), and the slow stochastic %K/%D. Same posture as the
# r6/r7 families: one reduction to calendar-bounded fixed-point day
# bars, every window partitions by event_type, integer sums until the
# pinned final division(s).
# ---------------------------------------------------------------------------


@register(
    "window_ultimate_oscillator",
    oracle=f"""
        WITH {_BARS_SQL},
        seq AS (
            SELECT event_type, day, h, l, c,
                   lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pc
            FROM bars
        ),
        bp AS (
            SELECT event_type, day, c,
                   c - least(l, pc) AS bpd,
                   greatest(h, pc) - least(l, pc) AS trd
            FROM seq WHERE pc IS NOT NULL
        ),
        win AS (
            SELECT event_type, day, c,
                   SUM(bpd) OVER w7 AS bp7, SUM(trd) OVER w7 AS tr7,
                   SUM(bpd) OVER w14 AS bp14, SUM(trd) OVER w14 AS tr14,
                   SUM(bpd) OVER w28 AS bp28, SUM(trd) OVER w28 AS tr28,
                   COUNT(*) OVER w28 AS nw
            FROM bp
            WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                   w14 AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
                   w28 AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CASE WHEN tr7 = 0 OR tr14 = 0 OR tr28 = 0 THEN 50.0
                    ELSE 100.0 * (4.0 * (CAST(bp7 AS DOUBLE) / CAST(tr7 AS DOUBLE))
                                  + 2.0 * (CAST(bp14 AS DOUBLE) / CAST(tr14 AS DOUBLE))
                                  + (CAST(bp28 AS DOUBLE) / CAST(tr28 AS DOUBLE)))
                         / 7.0 END AS ultimate_osc
        FROM win WHERE nw = 28
        ORDER BY event_type, day
    """,
    doc=(
        "W50: Ultimate Oscillator (Williams 1976) per event type's "
        "daily bars — buying pressure bp = close - min(low, prev "
        "close) and true range tr = max(high, prev close) - min(low, "
        "prev close) are exact fixed-point integer differences; three "
        "horizon sums (7/14/28) stay integer, and the 4:2:1 blend is "
        "ONE pinned double expression tree over the three integer "
        "ratios (flat horizons define UO = 50). Only full 28-row "
        "windows emit, which also excludes the lag-null first bar. "
        "The multi-horizon momentum composite the single-window "
        "RSI/stochastic family can't see. Calendar-bounded per-type "
        "day table — no fact-grain window at any scale."
    ),
    tags=("window", "timeseries"),
)
def window_ultimate_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    seq = _bars(t).select(
        "event_type", "day", "h", "l", "c", F.lag("c").over(wl).alias("pc")
    ).filter(F.col("pc").isNotNull())
    bp = seq.select(
        "event_type",
        "day",
        "c",
        (F.col("c") - F.least("l", "pc")).alias("bpd"),
        (F.greatest("h", "pc") - F.least("l", "pc")).alias("trd"),
    )
    w7 = wl.rowsBetween(-6, W.currentRow)
    w14 = wl.rowsBetween(-13, W.currentRow)
    w28 = wl.rowsBetween(-27, W.currentRow)
    win = bp.select(
        "event_type",
        "day",
        "c",
        F.sum("bpd").over(w7).alias("bp7"),
        F.sum("trd").over(w7).alias("tr7"),
        F.sum("bpd").over(w14).alias("bp14"),
        F.sum("trd").over(w14).alias("tr14"),
        F.sum("bpd").over(w28).alias("bp28"),
        F.sum("trd").over(w28).alias("tr28"),
        F.count(F.lit(1)).over(w28).alias("nw"),
    )
    return (
        win.filter(F.col("nw") == 28)
        .select(
            "event_type",
            "day",
            F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
            F.expr(
                "CASE WHEN tr7 = 0 OR tr14 = 0 OR tr28 = 0 THEN 50.0"
                " ELSE 100.0 * (4.0 * (CAST(bp7 AS DOUBLE) / CAST(tr7 AS DOUBLE))"
                " + 2.0 * (CAST(bp14 AS DOUBLE) / CAST(tr14 AS DOUBLE))"
                " + (CAST(bp28 AS DOUBLE) / CAST(tr28 AS DOUBLE))) / 7.0 END"
            ).alias("ultimate_osc"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_elder_ray_power",
    oracle=f"""
        WITH {_BARS_SQL},
        win AS (
            SELECT event_type, day, h, l, c,
                   SUM(c) OVER w AS sc13,
                   COUNT(*) OVER w AS nw
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CAST(sc13 AS DOUBLE) / 130000.0 AS sma13,
               CAST(13 * h - sc13 AS DOUBLE) / 130000.0 AS bull_power,
               CAST(13 * l - sc13 AS DOUBLE) / 130000.0 AS bear_power,
               13 * h - sc13 > 0 AND 13 * l - sc13 > 0 AS strong_bull,
               13 * h - sc13 < 0 AND 13 * l - sc13 < 0 AS strong_bear
        FROM win WHERE nw = 13
        ORDER BY event_type, day
    """,
    doc=(
        "W51: Elder Ray bull/bear power per event type's daily bars — "
        "bull = high - SMA13(close), bear = low - SMA13(close), the "
        "classic decomposition of where the day's extremes sit against "
        "trend. The SMA division never happens in isolation: bull is "
        "computed as the INTEGER numerator 13*high - sum(close) over "
        "one shared /130000 division, so both powers (and the "
        "strong-bull/strong-bear verdicts, decided on the raw "
        "integers) are exact. Only full 13-row windows emit. "
        "Calendar-bounded per-type day table."
    ),
    tags=("window", "timeseries"),
)
def window_elder_ray_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-12, W.currentRow)
    win = _bars(t).select(
        "event_type",
        "day",
        "h",
        "l",
        F.sum("c").over(w).alias("sc13"),
        F.count(F.lit(1)).over(w).alias("nw"),
    )
    return (
        win.filter(F.col("nw") == 13)
        .select(
            "event_type",
            "day",
            F.expr("CAST(sc13 AS DOUBLE) / 130000.0").alias("sma13"),
            F.expr("CAST(13 * h - sc13 AS DOUBLE) / 130000.0").alias("bull_power"),
            F.expr("CAST(13 * l - sc13 AS DOUBLE) / 130000.0").alias("bear_power"),
            F.expr("13 * h - sc13 > 0 AND 13 * l - sc13 > 0").alias("strong_bull"),
            F.expr("13 * h - sc13 < 0 AND 13 * l - sc13 < 0").alias("strong_bear"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "window_chandelier_exit",
    oracle=f"""
        WITH {_BARS_SQL},
        seq AS (
            SELECT event_type, day, h, l, c,
                   lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pc
            FROM bars
        ),
        tr AS (
            SELECT event_type, day, h, l, c,
                   greatest(h, pc) - least(l, pc) AS trd
            FROM seq WHERE pc IS NOT NULL
        ),
        win AS (
            SELECT event_type, day, c,
                   MAX(h) OVER w AS h22,
                   MIN(l) OVER w AS l22,
                   SUM(trd) OVER w AS str22,
                   COUNT(*) OVER w AS nw
            FROM tr
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 21 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CAST(c AS DOUBLE) / 10000.0 AS close,
               CAST(22 * h22 - 3 * str22 AS DOUBLE) / 220000.0 AS chandelier_long,
               CAST(22 * l22 + 3 * str22 AS DOUBLE) / 220000.0 AS chandelier_short,
               22 * c < 22 * h22 - 3 * str22 AS long_stop_hit,
               22 * c > 22 * l22 + 3 * str22 AS short_stop_hit
        FROM win WHERE nw = 22
        ORDER BY event_type, day
    """,
    doc=(
        "W52: Chandelier exit (SMA-ATR variant) per event type's daily "
        "bars — the trailing volatility stop: long exit = 22-day high "
        "- 3*ATR22, short exit = 22-day low + 3*ATR22. The ATR "
        "division is never taken alone: the stop is the INTEGER "
        "numerator 22*h22 - 3*sum(TR) over one shared /220000 "
        "division, and the stop-hit verdicts compare raw integers "
        "(22*close vs the numerator), so every output is exact. TR "
        "needs the previous close, so the lag-null first bar never "
        "enters; only full 22-row windows emit. Calendar-bounded "
        "per-type day table."
    ),
    tags=("window", "timeseries"),
)
def window_chandelier_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    seq = _bars(t).select(
        "event_type", "day", "h", "l", "c", F.lag("c").over(wl).alias("pc")
    ).filter(F.col("pc").isNotNull())
    tr = seq.select(
        "event_type",
        "day",
        "h",
        "l",
        "c",
        (F.greatest("h", "pc") - F.least("l", "pc")).alias("trd"),
    )
    w = wl.rowsBetween(-21, W.currentRow)
    win = tr.select(
        "event_type",
        "day",
        "c",
        F.max("h").over(w).alias("h22"),
        F.min("l").over(w).alias("l22"),
        F.sum("trd").over(w).alias("str22"),
        F.count(F.lit(1)).over(w).alias("nw"),
    )
    return (
        win.filter(F.col("nw") == 22)
        .select(
            "event_type",
            "day",
            F.expr("CAST(c AS DOUBLE) / 10000.0").alias("close"),
            F.expr(
                "CAST(22 * h22 - 3 * str22 AS DOUBLE) / 220000.0"
            ).alias("chandelier_long"),
            F.expr(
                "CAST(22 * l22 + 3 * str22 AS DOUBLE) / 220000.0"
            ).alias("chandelier_short"),
            F.expr("22 * c < 22 * h22 - 3 * str22").alias("long_stop_hit"),
            F.expr("22 * c > 22 * l22 + 3 * str22").alias("short_stop_hit"),
        )
        .orderBy("event_type", "day")
    )


#: slow-stochastic %K — shared double expression over exact integers
_SLOW_K = (
    "CASE WHEN h14 = l14 THEN 50.0"
    " ELSE 100.0 * CAST(c - l14 AS DOUBLE) / CAST(h14 - l14 AS DOUBLE) END"
)


@register(
    "window_stochastic_slow_kd",
    oracle=f"""
        WITH {_BARS_SQL},
        win AS (
            SELECT event_type, day, c,
                   MIN(l) OVER w AS l14,
                   MAX(h) OVER w AS h14,
                   COUNT(*) OVER w AS nw
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        ),
        k AS (
            SELECT event_type, day, {_SLOW_K} AS pct_k
            FROM win WHERE nw = 14
        ),
        kd AS (
            SELECT event_type, day, pct_k,
                   lag(pct_k, 1) OVER wo AS k1,
                   lag(pct_k, 2) OVER wo AS k2
            FROM k
            WINDOW wo AS (PARTITION BY event_type ORDER BY day)
        )
        SELECT event_type, day, pct_k,
               ((pct_k + k1) + k2) / 3.0 AS pct_d,
               pct_k > ((pct_k + k1) + k2) / 3.0 AS k_above_d
        FROM kd WHERE k2 IS NOT NULL
        ORDER BY event_type, day
    """,
    doc=(
        "W53: slow stochastic %K/%D per event type's daily bars — %K "
        "is the 14-day range position (the fast %K of W26, same "
        "integer core, flat windows pinned at 50) and %D is its 3-day "
        "simple smoothing. %D is deliberately NOT a float window sum "
        "(those fold in engine-chosen order): it is the pinned "
        "expression ((k + lag1(k)) + lag2(k)) / 3 — a fixed "
        "left-associated tree over three identical doubles, so both "
        "engines round identically. The %K>%D crossover verdict "
        "compares the same two doubles. Emits only where both lags "
        "exist inside the full-window region. Calendar-bounded "
        "per-type day table."
    ),
    tags=("window", "timeseries"),
)
def window_stochastic_slow_kd(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-13, W.currentRow)
    win = _bars(t).select(
        "event_type",
        "day",
        "c",
        F.min("l").over(w).alias("l14"),
        F.max("h").over(w).alias("h14"),
        F.count(F.lit(1)).over(w).alias("nw"),
    )
    k = win.filter(F.col("nw") == 14).select(
        "event_type", "day", F.expr(_SLOW_K).alias("pct_k")
    )
    wo = W.partitionBy("event_type").orderBy("day")
    kd = k.select(
        "event_type",
        "day",
        "pct_k",
        F.lag("pct_k", 1).over(wo).alias("k1"),
        F.lag("pct_k", 2).over(wo).alias("k2"),
    )
    return (
        kd.filter(F.col("k2").isNotNull())
        .select(
            "event_type",
            "day",
            "pct_k",
            F.expr("((pct_k + k1) + k2) / 3.0").alias("pct_d"),
            F.expr("pct_k > ((pct_k + k1) + k2) / 3.0").alias("k_above_d"),
        )
        .orderBy("event_type", "day")
    )
