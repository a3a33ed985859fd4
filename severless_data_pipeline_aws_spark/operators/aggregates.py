"""Aggregations (SURVEY §2.4): group-by-count (A1, iot_dashboard.py:196-197),
distinct keys (A2, :144), count (A3, :134), per-key rollups (A4, :157-189),
plus the full Spark agg surface: multi-agg, distinct aggs, rollup/cube/
grouping sets, pivot, having.

All partial+final hash aggregation with map-side combine — one shuffle
per group-by, which is the 100 TB-safe shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register
from ._helpers import davg, dsum_double


@register(
    "groupby_count_status",
    oracle="""
        SELECT event_type, COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="A1: value_counts — status distribution bar chart (iot_dashboard.py:196-197).",
    tags=("agg",),
)
def groupby_count_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).orderBy("event_type")


@register(
    "pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(SUM(CAST((l_quantity) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sum_qty,
               CAST(CAST(SUM(CAST((l_extendedprice) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
               CAST(CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
               CAST(CAST(SUM(CAST((l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sum_charge,
               CAST(CAST(SUM(CAST((l_quantity) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
               CAST(CAST(SUM(CAST((l_discount) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: multi-agg scan-heavy summary (8 aggregates, 1 shuffle).",
    tags=("agg", "headline"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_double("l_quantity").alias("sum_qty"),
            dsum_double("l_extendedprice").alias("sum_base_price"),
            dsum_double("l_extendedprice * (1 - l_discount)").alias("sum_disc_price"),
            dsum_double("l_extendedprice * (1 - l_discount) * (1 + l_tax)").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_minmax_count_distinct",
    oracle="""
        SELECT o_orderstatus,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(DISTINCT o_orderpriority) AS n_priorities
        FROM orders GROUP BY o_orderstatus
    """,
    doc="Distinct aggregates + min/max (expand + two-phase agg in Spark).",
    tags=("agg", "distinct"),
)
def agg_minmax_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.orders.groupBy("o_orderstatus").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(SUM(CAST((l_quantity) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (returnflag -> linestatus -> grand total).",
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.lineitem.rollup("l_returnflag", "l_linestatus").agg(
        dsum_double("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@register(
    "agg_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE: all grouping-set combinations.",
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum_double("o_totalprice").alias("total")
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT n_name, o_orderstatus, COUNT(*) AS n
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderstatus), (n_name, o_orderstatus))
    """,
    doc="GROUPING SETS over a dimension join.",
    tags=("agg", "grouping_sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT n_name, o_orderstatus, COUNT(*) AS n
        FROM {orders}
        JOIN {customer} ON o_custkey = c_custkey
        JOIN {nation} ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderstatus), (n_name, o_orderstatus))
        """
    )


@register(
    "agg_having",
    oracle="""
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
    doc="HAVING: post-aggregation predicate.",
    tags=("agg", "having"),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum_double("o_totalprice").alias("spend"))
        .filter(F.col("n_orders") >= 15)
    )


@register(
    "agg_pivot",
    oracle="""
        SELECT l_returnflag,
               CAST(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(38,8)) END) AS VARCHAR) AS DOUBLE) AS qty_O,
               CAST(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(38,8)) END) AS VARCHAR) AS DOUBLE) AS qty_F
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pivot linestatus into columns (conditional aggregation).",
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE)"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


@register(
    "agg_unpivot",
    oracle="""
        SELECT o_orderkey, metric, val FROM (
            SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS val FROM orders
            UNION ALL
            SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS val FROM orders
        ) u
        WHERE o_orderkey <= 100
    """,
    doc="Unpivot (stack) wide columns into (metric, val) rows.",
    tags=("agg", "unpivot"),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_orderkey") <= 100)
        .selectExpr(
            "o_orderkey",
            "stack(2, 'totalprice', o_totalprice, 'custkey', CAST(o_custkey AS DOUBLE)) AS (metric, val)",
        )
    )


@register(
    "timeseries_rollup_per_key",
    oracle="""
        SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(CAST(SUM(CAST((value) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) / COUNT(value) AS avg_value,
               COUNT(*) AS n
        FROM events
        WHERE user_id <= 20
        GROUP BY user_id, date_trunc('day', ts)
    """,
    doc="A4: per-device time-series rollup (iot_dashboard.py:157-189) as day buckets.",
    tags=("agg", "timeseries"),
)
def timeseries_rollup_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.filter(F.col("user_id") <= 20)
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(davg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "timeseries_gap_fill",
    oracle="""
        WITH ev AS (
            SELECT user_id, date_trunc('hour', ts) AS h, value
            FROM events WHERE user_id < 5
        ),
        hourly AS (
            SELECT user_id, h, COUNT(*) AS n,
                   SUM(CAST(value AS DECIMAL(38,8))) AS tv
            FROM ev GROUP BY user_id, h
        ),
        spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY user_id),
        grid AS (
            SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
            FROM spans
        )
        SELECT g.user_id, g.h AS bucket,
               COALESCE(n, 0) AS n_events,
               COALESCE(CAST(CAST(tv AS VARCHAR) AS DOUBLE), 0.0) AS total_value
        FROM grid g LEFT JOIN hourly USING (user_id, h)
    """,
    doc=(
        "Time-series gap fill: per-key hourly grid (sequence + explode "
        "over each key's own span) left-joined to the actual hourly "
        "rollup, missing buckets zero-filled. The grid is derived from a "
        "2-row-per-key aggregate, so its explode is tiny next to the "
        "fact scan; the join shuffles only the rolled-up buckets."
    ),
    tags=("agg", "timeseries", "window"),
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("user_id") < 5).select(
        "user_id", F.date_trunc("hour", "ts").alias("h"), "value"
    )
    hourly = ev.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).cast("double").alias("tv"),
    )
    spans = ev.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = spans.select(
        "user_id",
        F.explode(F.expr("sequence(h0, h1, INTERVAL 1 HOUR)")).alias("h"),
    )
    return grid.join(hourly, ["user_id", "h"], "left").select(
        "user_id",
        F.col("h").alias("bucket"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("tv", F.lit(0.0)).alias("total_value"),
    )


@register(
    "agg_grouping_id",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) AS g_flag,
               GROUPING(l_linestatus) AS g_status,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc=(
        "GROUPING() markers over CUBE: distinguishes a NULL that *is* a "
        "group key from the NULL that marks a subtotal row — the "
        "disambiguation every report generator over rollup output needs."
    ),
    tags=("agg", "cube", "grouping"),
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_maxby_countif_bool",
    oracle="""
        SELECT o_orderstatus,
               max_by(o_orderkey, o_totalprice) AS biggest_order,
               min_by(o_orderkey, o_totalprice) AS smallest_order,
               CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
               bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
               bool_and(o_totalprice > 0) AS all_positive
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc=(
        "Modern conditional aggregates: max_by/min_by (argmax without a "
        "self-join or window), count_if, bool_or/bool_and — one hash agg "
        "instead of the join-back idiom. Tied prices exist in the data, "
        "but each group's EXTREME price is unique at test scales (pinned "
        "by tests/test_correctness.py::test_maxby_extremes_are_unique), "
        "so the argmax choice is deterministic."
    ),
    tags=("agg", "maxby"),
)
def agg_maxby_countif_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.orders.groupBy("o_orderstatus").agg(
        F.expr("max_by(o_orderkey, o_totalprice)").alias("biggest_order"),
        F.expr("min_by(o_orderkey, o_totalprice)").alias("smallest_order"),
        F.expr("count_if(o_totalprice > 150000)").alias("n_big"),
        F.expr("bool_or(o_orderpriority = '1-URGENT')").alias("any_urgent"),
        F.expr("bool_and(o_totalprice > 0)").alias("all_positive"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
        SELECT n_regionkey,
               array_to_string(list_sort(list(n_name)), ',') AS nations_csv,
               CAST(len(list(n_name)) AS BIGINT) AS n
        FROM nation
        GROUP BY n_regionkey
    """,
    doc=(
        "Array aggregation: collect_list made deterministic via "
        "sort_array (collection order is partition-dependent, the sorted "
        "array is not) + listagg as concat_ws over the sorted array. "
        "Bounded per group — the pattern for building per-key vocabulary "
        "lists at scale. The sorted array is serialized to CSV for the "
        "result (raw array columns are unhashable in pandas-side "
        "canonicalization; the CSV is a lossless encoding of it here)."
    ),
    tags=("agg", "array"),
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    nations = F.sort_array(F.collect_list("n_name"))
    return t.nation.groupBy("n_regionkey").agg(
        F.concat_ws(",", nations).alias("nations_csv"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "timeseries_rollup_hierarchical",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS bucket_start, event_type,
                   COUNT(*) AS n,
                   SUM(CAST(value AS DECIMAL(38,8))) AS s,
                   MIN(value) AS mn, MAX(value) AS mx
            FROM events
            GROUP BY 1, 2
        )
        SELECT 'hour' AS level, bucket_start, event_type,
               CAST(n AS BIGINT) AS n_events,
               CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sum_value,
               mn AS min_value, mx AS max_value
        FROM hourly
        UNION ALL
        SELECT 'day', date_trunc('day', bucket_start), event_type,
               CAST(SUM(n) AS BIGINT),
               CAST(CAST(SUM(s) AS VARCHAR) AS DOUBLE),
               MIN(mn), MAX(mx)
        FROM hourly
        GROUP BY date_trunc('day', bucket_start), event_type
        ORDER BY level, bucket_start, event_type
    """,
    doc=(
        "Hypertable-style hierarchical rollup, both grains in ONE "
        "GROUPING SETS pass: (type, day, hour) and (type, day) share a "
        "single events scan and a single shuffle — a plain union of two "
        "aggregations would scan the fact twice (no common-subplan "
        "reuse). The ORACLE builds the day level by re-aggregating the "
        "hourly CTE, so the hash match doubles as proof that coarser "
        "grains can be maintained from finer rollups exactly (decimal "
        "sums/min/max/count are associative) — the continuous-aggregate "
        "pattern at 100 TB. Single fact scan asserted by plan test."
    ),
    tags=("agg", "timeseries", "rollup"),
)
def timeseries_rollup_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT CASE WHEN GROUPING(hour_b) = 1 THEN 'day' ELSE 'hour' END AS level,
               CASE WHEN GROUPING(hour_b) = 1 THEN day_b ELSE hour_b END AS bucket_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS sum_value,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM (SELECT date_trunc('hour', ts) AS hour_b,
                     date_trunc('day', ts) AS day_b,
                     event_type, value
              FROM {events})
        GROUP BY event_type, day_b, GROUPING SETS ((hour_b), ())
        ORDER BY level, bucket_start, event_type
        """
    )


@register(
    "agg_median_interpolated",
    oracle="""
        SELECT o_orderstatus,
               median(o_totalprice) AS median_price,
               quantile_cont(o_totalprice, 0.25) AS p25_price,
               quantile_cont(o_totalprice, 0.75) AS p75_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc=(
        "Exact interpolated median + quartiles per group: Spark's "
        "percentile() and DuckDB's quantile_cont share the same "
        "definition (linear interpolation between the two straddling "
        "order statistics), and the interpolation arithmetic on the "
        "same doubles is IEEE-identical, so even the interpolated "
        "values hash-match. Exact percentiles need the full sorted "
        "group (one shuffle); the approximate twin for 100 TB is "
        "sketch_approx_quantiles (KLL-style mergeable sketch)."
    ),
    tags=("agg", "stats"),
)
def agg_median_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.25)").alias("p25_price"),
        F.expr("percentile(o_totalprice, 0.75)").alias("p75_price"),
    )


@register(
    "timeseries_rolling_distinct_users",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events
        ),
        grid AS (SELECT DISTINCT day FROM ud)
        SELECT g.day, COUNT(DISTINCT u.user_id) AS n_users_7d
        FROM grid g
        JOIN ud u ON u.day BETWEEN g.day - 6 AND g.day
        GROUP BY g.day
    """,
    doc=(
        "Trailing 7-day distinct users per day — the metric a RANGE-"
        "frame COUNT(DISTINCT) window would express if Spark had one. "
        "Implemented by the window-explode rewrite: dedup to (user, "
        "day), fan each active day out to the <=7 report days it "
        "serves (explode of a 7-element date sequence), then one "
        "countDistinct per report day. Cost is O(rows x window_days), "
        "independent of the span of history, and every step is a hash "
        "shuffle on a single small key — no range self-join, whose "
        "cost is O(rows x span_days) and explodes on a year of data. "
        "The oracle IS that range join, so the rewrite is verified "
        "against the naive semantics."
    ),
    tags=("agg", "timeseries", "distinct"),
)
def timeseries_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ud = t.events.select("user_id", F.to_date("ts").alias("day")).distinct()
    grid = ud.select("day").distinct()
    fanned = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("rday"),
    )
    return (
        fanned.join(F.broadcast(grid), fanned.rday == grid.day)
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n_users_7d"))
    )


@register(
    "agg_weighted_avg_exact",
    oracle="""
        SELECT l_returnflag,
               CAST(CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,8)))
                         AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,8)))
                               AS VARCHAR) AS DOUBLE) AS wavg_discount,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS BIGINT) AS total_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc=(
        "Quantity-weighted average discount per return flag — the "
        "weighted-mean shape every reporting layer needs. Both the "
        "weighted sum and the weight sum accumulate in DECIMAL(38,8) "
        "(order-independent, partial-aggregate/map-side-combine "
        "friendly), and only the final single division happens in "
        "doubles — so the result is bit-identical across engines and "
        "across any partitioning, unlike a naive avg(x*w)/avg(w) in "
        "floats. One shuffle on the group key."
    ),
    tags=("agg", "exact"),
)
def agg_weighted_avg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        (
            F.expr("CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,8))) AS DOUBLE)")
            / F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE)")
        ).alias("wavg_discount"),
        F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS BIGINT)").alias("total_qty"),
    )


@register(
    "timeseries_index_to_base",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   SUM(CAST(value AS DECIMAL(38,8))) AS dval
            FROM events GROUP BY 1, 2
        )
        SELECT user_id, day,
               CAST(CAST(dval AS VARCHAR) AS DOUBLE) AS day_value,
               (CAST(CAST(dval AS VARCHAR) AS DOUBLE)
                / CAST(CAST(first_value(dval) OVER (PARTITION BY user_id ORDER BY day)
                            AS VARCHAR) AS DOUBLE)) * 100.0 AS index_100
        FROM daily
    """,
    doc=(
        "Index-to-base normalization: each user's daily total re-based "
        "to their first observed day = 100 — how dashboards compare "
        "series with different magnitudes on one axis. Daily totals "
        "accumulate in DECIMAL (order-independent), the base arrives "
        "via first_value over the per-user day order (no self-join "
        "back to day one), and only the final ratio runs in doubles — "
        "identical operands on both engines, so the index is "
        "hash-exact. Two exchanges: the daily rollup and the per-user "
        "window."
    ),
    tags=("agg", "timeseries", "window"),
)
def timeseries_index_to_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.expr("SUM(CAST(value AS DECIMAL(38,8)))").alias("dval"))
    w = W.partitionBy("user_id").orderBy("day")
    base = F.first("dval").over(w)
    return daily.select(
        "user_id",
        "day",
        F.col("dval").cast("double").alias("day_value"),
        (
            (F.col("dval").cast("double") / base.cast("double")) * F.lit(100.0)
        ).alias("index_100"),
    )


@register(
    "agg_mode_deterministic",
    oracle="""
        WITH counts AS (
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
            FROM orders
            GROUP BY o_orderstatus, o_orderpriority
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY o_orderstatus
                       ORDER BY n DESC, o_orderpriority) AS rn
            FROM counts
        )
        SELECT o_orderstatus, o_orderpriority AS modal_priority,
               CAST(n AS BIGINT) AS n
        FROM ranked WHERE rn = 1
    """,
    doc=(
        "Deterministic MODE per group: the most frequent order priority "
        "per status, ties broken by value. Built-in mode() picks an "
        "arbitrary winner on ties (engine- and partitioning-dependent), "
        "so it can never be hash-verified; count + row_number makes the "
        "winner well-defined. Plan: one map-side-combined count on the "
        "composite key, then a window over the tiny (status, priority) "
        "count table — the window input is group-cardinality-sized, "
        "not data-sized, so this scales to any fact size."
    ),
    tags=("agg", "window", "stats"),
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    counts = t.orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("n"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").cast("bigint").alias("n"),
        )
    )


@register(
    "agg_hist_magnitude_buckets",
    oracle="""
        WITH b AS (
            SELECT length(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                               AS VARCHAR)) AS n_digits,
                   o_totalprice
            FROM orders
        )
        SELECT n_digits,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        FROM b GROUP BY n_digits
    """,
    doc=(
        "Order-of-magnitude histogram: orders bucketed by the DIGIT "
        "COUNT of their integer-cent total — the log10 histogram "
        "without log10, so bucket edges are integer-exact in both "
        "engines (floor-to-cents then string length; a float log10 "
        "would put boundary values in engine-dependent buckets). The "
        "skew diagnostic run before choosing partition counts: one "
        "map-side-combined agg, cardinality = max digit count."
    ),
    tags=("agg", "histogram", "stats"),
)
def agg_hist_magnitude_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    digits = F.length(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string")
    ).alias("n_digits")
    return (
        t.orders.select(digits, "o_totalprice")
        .groupBy("n_digits")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
    )


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
        WITH chunks AS (
            SELECT event_type,
                   user_id // 32 AS chunk,
                   bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS bm
            FROM events
            GROUP BY event_type, chunk
        )
        SELECT event_type,
               CAST(SUM(bit_count(bm)) AS BIGINT) AS n_distinct_users
        FROM chunks
        GROUP BY event_type
    """,
    doc=(
        "EXACT distinct counting via two-level bitmaps: user ids pack "
        "into 32-wide chunks (bit_or per (group, id div 32)), then "
        "popcounts sum — no COUNT(DISTINCT) Expand, no per-value "
        "shuffle rows. The first agg's map-side combine reduces each "
        "partition to its occupied chunks, so shuffle volume is "
        "O(occupied id-space / 32) per group instead of O(distinct "
        "values): the exact-answer middle ground between "
        "COUNT(DISTINCT) (accurate, heavy) and HLL sketches "
        "(mergeable, ~2% error) for dense integer keys. Verified "
        "against a plain COUNT(DISTINCT) in pytest and the same "
        "bitmap construction in DuckDB."
    ),
    tags=("agg", "distinct", "bitmap"),
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    chunks = t.events.groupBy(
        "event_type", F.expr("user_id div 32").alias("chunk")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
        ).alias("bm")
    )
    return chunks.groupBy("event_type").agg(
        F.sum(F.bit_count("bm")).cast("bigint").alias("n_distinct_users")
    )


@register(
    "timeseries_ohlc_bars",
    oracle="""
        SELECT event_type,
               date_trunc('hour', ts) AS bar_start,
               CAST(arg_min(value, ts) AS DOUBLE) AS open,
               CAST(MAX(value) AS DOUBLE) AS high,
               CAST(MIN(value) AS DOUBLE) AS low,
               CAST(arg_max(value, ts) AS DOUBLE) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_ticks
        FROM events
        GROUP BY event_type, bar_start
    """,
    doc=(
        "OHLC bar downsampling: per (series, hour) the opening value "
        "(min_by ts), high, low, closing value (max_by ts), tick count "
        "— the canonical time-series compaction for charting and for "
        "feeding coarse-grained models; 100 TB of ticks become "
        "|series|×|hours| bars in ONE map-side-combined aggregate "
        "(min_by/max_by are associative partial aggregates, no window, "
        "no sort). Tie risk: min_by on duplicate (ts) picks an "
        "arbitrary row — the events fixture has unique ts per "
        "(type, hour) stream at every sf, so the bars are "
        "deterministic here; production schemas add event_id to the "
        "ordering key via struct ordering."
    ),
    tags=("timeseries", "agg", "dashboard"),
)
def timeseries_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy("event_type", F.date_trunc("hour", "ts").alias("bar_start"))
        .agg(
            F.min_by("value", "ts").cast("double").alias("open"),
            F.max("value").cast("double").alias("high"),
            F.min("value").cast("double").alias("low"),
            F.max_by("value", "ts").cast("double").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        )
    )


#: shared linear-interpolation expression over the carry columns — the
#: identical text runs on both engines, so every double op is the same
#: IEEE operation
_LERP = (
    "CASE WHEN v IS NOT NULL THEN v "
    "ELSE pv + (nv - pv) * (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE)) END"
)


@register(
    "timeseries_interpolate_linear",
    oracle=f"""
        WITH ev AS (
            SELECT event_type,
                   date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                             date_trunc('hour', ts)) AS h,
                   value
            FROM events WHERE user_id < 20
        ),
        known AS (
            SELECT event_type, h,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                       / COUNT(value) AS v
            FROM ev GROUP BY event_type, h
        ),
        spans AS (
            SELECT event_type, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY event_type
        ),
        grid AS (
            SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM spans
        ),
        joined AS (
            SELECT g.event_type, g.h, k.v FROM grid g
            LEFT JOIN known k USING (event_type, h)
        ),
        carried AS (
            SELECT event_type, h, v,
                   last_value(v IGNORE NULLS) OVER wb AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                       OVER wb AS ph,
                   first_value(v IGNORE NULLS) OVER wf AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                       OVER wf AS nh
            FROM joined
            WINDOW wb AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, CAST(h AS BIGINT) AS hour_idx,
               {_LERP} AS value_filled,
               v IS NULL AS is_interpolated
        FROM carried
    """,
    doc=(
        "Linear interpolation of missing hourly buckets per event_type "
        "— the resample-and-fill every sensor/metrics pipeline needs "
        "before feeding models that can't see NaNs. Grid from each "
        "key's own span (2-row-per-key aggregate exploded), left join "
        "to the hourly decimal-exact averages, then BOTH carry "
        "directions from one sorted window pair (last/first IGNORE "
        "NULLS with mirrored frames — same single sort, same shuffle): "
        "prev/next known value and hour feed one shared lerp "
        "expression, so filled values are bit-exact across engines. "
        "Interior gaps only by construction (the grid spans knowns), "
        "so the lerp denominators are never null/zero. Scales as the "
        "bucket grid (metadata × span), not the fact table."
    ),
    tags=("agg", "timeseries", "window"),
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("user_id") < 20).select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP '2024-01-01 00:00:00', "
            "date_trunc('hour', ts))"
        ).alias("h"),
        "value",
    )
    known = ev.groupBy("event_type", "h").agg(
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE) / COUNT(value)"
        ).alias("v")
    )
    spans = ev.groupBy("event_type").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = spans.select("event_type", F.explode(F.expr("sequence(h0, h1)")).alias("h"))
    joined = grid.join(known, ["event_type", "h"], "left")
    wb = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    carried = joined.select(
        "event_type",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(F.expr("CASE WHEN v IS NOT NULL THEN h END"), ignorenulls=True)
        .over(wb)
        .alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(F.expr("CASE WHEN v IS NOT NULL THEN h END"), ignorenulls=True)
        .over(wf)
        .alias("nh"),
    )
    return carried.select(
        "event_type",
        F.col("h").cast("bigint").alias("hour_idx"),
        F.expr(_LERP).alias("value_filled"),
        F.col("v").isNull().alias("is_interpolated"),
    )


@register(
    "timeseries_seasonal_decompose_additive",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   SUM(CAST(value AS DECIMAL(38,8))) AS v
            FROM events GROUP BY event_type, h
        ),
        ma AS (
            SELECT event_type, h, v,
                   SUM(v) OVER w AS frame_sum,
                   COUNT(*) OVER w AS frame_n
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)
        ),
        resid AS (
            -- residual scaled by 23: 23*v - frame_sum stays exact decimal
            SELECT event_type,
                   CAST(hour(h) AS BIGINT) AS hour_of_day,
                   23 * v - frame_sum AS r23
            FROM ma WHERE frame_n = 23
        )
        SELECT event_type, hour_of_day,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(CAST(SUM(r23) AS VARCHAR) AS DOUBLE)
                   / (CAST(23 AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))
                   AS seasonal_component
        FROM resid
        GROUP BY event_type, hour_of_day
    """,
    doc=(
        "Additive seasonal decomposition (STL-lite): hourly volume per "
        "event_type, a 23-hour centered moving-average trend, and the "
        "mean residual per hour-of-day as the seasonal profile — the "
        "daily-shape fingerprint behind seasonal anomaly baselines and "
        "load forecasting. The float trap here is summing residual "
        "doubles (order-dependent); instead the residual stays EXACT "
        "decimal by scaling out the division — r·23 = 23·v − Σframe — "
        "and the single double division happens once per output cell. "
        "Three shuffles total, two on the same (type) key: hourly "
        "rollup (map-combined), the centered window, and the 24-cell "
        "seasonal aggregate. Trend cells without a full 23-hour frame "
        "are excluded on both engines identically."
    ),
    tags=("agg", "timeseries", "window", "stats"),
)
def timeseries_seasonal_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    hourly = t.events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).alias("v"))
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(-11, 11)
    ma = hourly.select(
        "event_type",
        "h",
        "v",
        F.sum("v").over(w).alias("frame_sum"),
        F.count(F.lit(1)).over(w).alias("frame_n"),
    )
    resid = ma.filter(F.col("frame_n") == 23).select(
        "event_type",
        F.hour("h").cast("bigint").alias("hour_of_day"),
        F.expr("23 * v - frame_sum").alias("r23"),
    )
    return resid.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.expr(
            "CAST(SUM(r23) AS DOUBLE) / (CAST(23 AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))"
        ).alias("seasonal_component"),
    )


@register(
    "timeseries_period_to_date_totals",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   SUM(CAST(value AS DECIMAL(38,8))) AS v
            FROM events GROUP BY event_type, d
        )
        SELECT event_type, d AS day,
               CAST(CAST(v AS VARCHAR) AS DOUBLE) AS day_total,
               CAST(CAST(SUM(v) OVER (
                   PARTITION BY event_type, date_trunc('month', d)
                   ORDER BY d ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
                   AS mtd_total,
               CAST(CAST(SUM(v) OVER (
                   PARTITION BY event_type, date_trunc('year', d)
                   ORDER BY d ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
                   AS ytd_total
        FROM daily
    """,
    doc=(
        "Period-to-date rollups (MTD / YTD running totals per feed) — "
        "the resetting-cumsum shape every BI dashboard carries next to "
        "its daily series. Both running sums accumulate the DECIMAL "
        "daily totals (order-independent, exact) and reset at their "
        "period boundary via the window partition key; the windowed "
        "table is days × feeds, metadata-scale after one map-combined "
        "rollup shuffle. Month/year truncation semantics are identical "
        "across engines (unlike ISO week numbering, deliberately "
        "avoided here)."
    ),
    tags=("agg", "timeseries", "window", "dashboard"),
)
def timeseries_period_to_date_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type", F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("d")
    ).agg(F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).alias("v"))
    w_m = (
        W.partitionBy("event_type", F.date_trunc("month", "d"))
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_y = (
        W.partitionBy("event_type", F.date_trunc("year", "d"))
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        F.col("d").alias("day"),
        F.col("v").cast("double").alias("day_total"),
        F.sum("v").over(w_m).cast("double").alias("mtd_total"),
        F.sum("v").over(w_y).cast("double").alias("ytd_total"),
    )


@register(
    "timeseries_seasonal_naive_backtest",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                   COUNT(*) AS y
            FROM events GROUP BY 1, 2
        ),
        paired AS (
            SELECT a.event_type, a.d, a.y, f.y AS yhat
            FROM daily a JOIN daily f
              ON a.event_type = f.event_type AND f.d = a.d - 7
        )
        SELECT event_type,
               COUNT(*) AS n_forecasts,
               CAST(SUM(abs(y - yhat)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
               CAST(SUM(abs(y - yhat)) AS DOUBLE) / CAST(SUM(y + yhat) AS DOUBLE) * 2
                 AS smape
        FROM paired
        GROUP BY event_type
    """,
    doc=(
        "Seasonal-naive forecast backtest: predict each day's per-type "
        "event count with the count from 7 days earlier and score "
        "MAE + sMAPE per type — the baseline every fancier forecaster "
        "must beat, and the standing data-health monitor for weekly-"
        "seasonal feeds. All error sums are integers until the two "
        "final double divisions (sMAPE uses the aggregate-ratio form "
        "2*sum|e|/sum(y+yhat) — per-row ratios would need per-row "
        "doubles for no accuracy gain). The self-join is day-grain on "
        "(type, day): metadata-sized at any event volume, co-"
        "partitioned on event_type."
    ),
    tags=("timeseries", "agg", "forecast"),
)
def timeseries_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            ).alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    fc = daily.select(
        F.col("event_type").alias("f_type"),
        (F.col("d") + 7).alias("f_d"),
        F.col("y").alias("yhat"),
    )
    paired = daily.join(
        fc,
        (F.col("event_type") == F.col("f_type")) & (F.col("d") == F.col("f_d")),
    )
    return paired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_forecasts"),
        F.expr(
            "CAST(SUM(abs(y - yhat)) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)"
        ).alias("mae"),
        F.expr(
            "CAST(SUM(abs(y - yhat)) AS DOUBLE) / CAST(SUM(y + yhat) AS DOUBLE) * 2"
        ).alias("smape"),
    )


@register(
    "timeseries_time_weighted_avg",
    oracle="""
        WITH seg AS (
            SELECT event_type,
                   CAST(ts AS DATE) AS day,
                   value,
                   lead(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS next_ts,
                   ts
            FROM events WHERE value IS NOT NULL
        ),
        weighted AS (
            SELECT event_type, day, value,
                   CAST(datediff('second', ts, next_ts) AS BIGINT) AS dt
            FROM seg WHERE next_ts IS NOT NULL
        )
        SELECT event_type, day,
               CAST(SUM(dt) AS BIGINT) AS covered_seconds,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,8)) * dt) AS VARCHAR) AS DOUBLE)
                 / CAST(SUM(dt) AS DOUBLE) AS twap
        FROM weighted
        GROUP BY event_type, day
        HAVING SUM(dt) > 0
    """,
    doc=(
        "Time-weighted average value per (type, day) — the TWAP/"
        "telemetry-average that plain AVG gets wrong when samples are "
        "irregular: each reading holds until the next one (step "
        "interpolation), so its weight is its holding duration. One "
        "lead() window per (type, day) partition gives the durations; "
        "weights are integer seconds, the value*dt products accumulate "
        "in DECIMAL (order-independent), one final double division. "
        "Day-bounded partitions keep the window shuffle balanced at "
        "any volume."
    ),
    tags=("timeseries", "window", "agg"),
)
def timeseries_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    seg = (
        t.events.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            "value",
            "ts",
            "event_id",
        )
        .withColumn(
            "next_ts",
            F.lead("ts").over(
                W.partitionBy("event_type", "day").orderBy("ts", "event_id")
            ),
        )
    )
    weighted = seg.filter(F.col("next_ts").isNotNull()).select(
        "event_type",
        "day",
        "value",
        F.expr("CAST(unix_timestamp(next_ts) - unix_timestamp(ts) AS BIGINT)").alias(
            "dt"
        ),
    )
    return (
        weighted.groupBy("event_type", "day")
        .agg(
            F.sum("dt").cast("bigint").alias("covered_seconds"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(38,8)) * dt) AS DOUBLE)"
                " / CAST(SUM(dt) AS DOUBLE)"
            ).alias("twap"),
        )
        .filter(F.col("covered_seconds") > 0)
    )


@register(
    "agg_weighted_median_exact",
    oracle="""
        WITH ranked AS (
            SELECT lang, n_chars,
                   SUM(n_chars) OVER (PARTITION BY lang
                                      ORDER BY n_chars, doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum_w,
                   SUM(n_chars) OVER (PARTITION BY lang) AS total_w
            FROM documents
        )
        SELECT lang,
               CAST(MIN(total_w) AS BIGINT) AS total_chars,
               CAST(MIN(CASE WHEN 2 * cum_w >= total_w THEN n_chars END) AS BIGINT)
                 AS weighted_median_chars
        FROM ranked
        GROUP BY lang
    """,
    doc=(
        "Exact weighted median per language, weight = the value itself "
        "(the 'median character' question: the document length such "
        "that half the corpus CHARACTERS sit in shorter docs — a "
        "token-budget planning number that the unweighted doc median "
        "badly misstates when lengths are skewed). One sorted window "
        "per language builds integer cumulative weights; the median is "
        "the first value whose doubled cumsum reaches the total — "
        "all-integer, no interpolation semantics to disagree on."
    ),
    tags=("agg", "stats", "window"),
)
def agg_weighted_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    ranked = t.documents.select(
        "lang",
        "n_chars",
        F.sum("n_chars")
        .over(
            W.partitionBy("lang")
            .orderBy("n_chars", "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("cum_w"),
        F.sum("n_chars").over(W.partitionBy("lang")).alias("total_w"),
    )
    return ranked.groupBy("lang").agg(
        F.min("total_w").cast("bigint").alias("total_chars"),
        F.min(
            F.expr("CASE WHEN 2 * cum_w >= total_w THEN n_chars END")
        ).cast("bigint").alias("weighted_median_chars"),
    )


@register(
    "timeseries_dow_seasonal_index",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(dayofweek(CAST(ts AS DATE)) AS INT) AS dow_raw,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ),
        per_dow AS (
            SELECT dow_raw + 1 AS dow,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(n) AS BIGINT) AS total_events,
                   CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_daily
            FROM daily GROUP BY dow_raw
        ),
        overall AS (
            SELECT CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS grand_avg
            FROM daily
        )
        SELECT dow, n_days, total_events, avg_daily,
               avg_daily / grand_avg AS seasonal_index
        FROM per_dow CROSS JOIN overall
    """,
    doc=(
        "Day-of-week seasonal index: average daily event volume per "
        "weekday relative to the overall daily average — the "
        "multiplicative seasonal factor that deseasonalizes weekly "
        "dashboards and calibrates the seasonal-naive forecaster. "
        "Spark's dayofweek is 1-based and DuckDB's 0-based, so the "
        "oracle shifts the raw DuckDB value (+1) onto Spark's scale — "
        "the same base-offset parity handled in the hour x dow "
        "heatmap. Integer counts to the end; two exact divisions and "
        "one ratio of them."
    ),
    tags=("timeseries", "agg"),
)
def timeseries_dow_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.expr("CAST(dayofweek(CAST(ts AS DATE)) AS INT)").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("total_events"),
        F.expr("CAST(SUM(n) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)").alias("avg_daily"),
    )
    overall = daily.agg(
        F.expr("CAST(SUM(n) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)").alias("grand_avg")
    )
    return per_dow.crossJoin(F.broadcast(overall)).select(
        "dow",
        "n_days",
        "total_events",
        "avg_daily",
        F.expr("avg_daily / grand_avg").alias("seasonal_index"),
    )


@register(
    "agg_pivot_dynamic",
    oracle="""
        SELECT * FROM (
            PIVOT (SELECT event_type, CAST(ts AS DATE) AS day FROM events)
            ON event_type USING COUNT(*) GROUP BY day
        )
    """,
    doc=(
        "Dynamic pivot: the category list is DISCOVERED from the data "
        "(Spark's two-phase pivot — a distinct scan plans the output "
        "columns, then one pivoting aggregate), not hard-coded as in "
        "agg_pivot. The oracle uses DuckDB's dynamic PIVOT the same "
        "way and deliberately names NO category column, so both "
        "engines must discover the identical column set on ANY data — "
        "a category absent at some SF narrows both schemas in lockstep "
        "instead of binding-erroring a hard-coded list (r3 ADVICE). "
        "DuckDB's COUNT pivot fills missing cells with 0; Spark's "
        "fills NULL, so the Spark side coalesces to 0 to match. At "
        "scale the distinct scan is a cheap pre-pass (event_type is "
        "low-cardinality by definition of pivoting) and the pivot "
        "itself is one hash aggregate wide-row pass."
    ),
    tags=("agg", "pivot"),
)
def agg_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    base = t.events.select(
        F.col("ts").cast("date").alias("day"), "event_type"
    )
    out = base.groupBy("day").pivot("event_type").count()
    # the pivoted columns are data-discovered; coalesce each to 0 with a
    # deterministic (sorted) column order to match the oracle's schema
    cats = sorted(c for c in out.columns if c != "day")
    return out.select(
        "day",
        *[F.coalesce(F.col(f"`{c}`"), F.lit(0)).cast("bigint").alias(c) for c in cats],
    )


# -- SAX symbolic aggregate approximation (r4) -------------------------------

#: alphabet-4 SAX breakpoints: standard normal quartiles, Python-
#: precomputed e-notation literals (the transcendental-free policy —
#: scipy.stats.norm.ppf([0.25, 0.5, 0.75]))
_SAX_BP = ("-6.744897501960817e-1", "0.0e0", "6.744897501960817e-1")
_SAX_SEG_DAYS = 5


def _sax_symbol_sql(z: str) -> str:
    return (
        f"CASE WHEN {z} < {_SAX_BP[0]} THEN 'a' "
        f"WHEN {z} < {_SAX_BP[1]} THEN 'b' "
        f"WHEN {z} < {_SAX_BP[2]} THEN 'c' ELSE 'd' END"
    )


@register(
    "timeseries_sax_symbolic",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                     / CAST(COUNT(value) AS DOUBLE) AS d
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, day, d,
                   datediff('day', MIN(day) OVER (PARTITION BY event_type), day)
                     // {_SAX_SEG_DAYS} AS seg
            FROM daily
        ),
        stats AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   list_reduce(list(d ORDER BY day), (a, b) -> a + b)
                     / CAST(COUNT(*) AS DOUBLE) AS mu,
                   sqrt(greatest(0.0e0,
                       list_reduce(list(d * d ORDER BY day), (a, b) -> a + b)
                         / CAST(COUNT(*) AS DOUBLE)
                       - (list_reduce(list(d ORDER BY day), (a, b) -> a + b)
                          / CAST(COUNT(*) AS DOUBLE))
                         * (list_reduce(list(d ORDER BY day), (a, b) -> a + b)
                            / CAST(COUNT(*) AS DOUBLE)))) AS sigma
            FROM idx GROUP BY event_type
        ),
        paa AS (
            SELECT event_type, seg,
                   list_reduce(list(d ORDER BY day), (a, b) -> a + b)
                     / CAST(COUNT(*) AS DOUBLE) AS paa_val
            FROM idx GROUP BY event_type, seg
        ),
        sym AS (
            SELECT p.event_type, p.seg,
                   {_sax_symbol_sql("(p.paa_val - s.mu) / s.sigma")} AS symbol
            FROM paa p JOIN stats s ON p.event_type = s.event_type
        )
        SELECT s.event_type,
               MAX(st.n_days) AS n_days,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               string_agg(s.symbol, '' ORDER BY s.seg) AS sax_word
        FROM sym s JOIN stats st ON s.event_type = st.event_type
        GROUP BY s.event_type
        ORDER BY s.event_type
    """,
    doc=(
        "SAX symbolic aggregate approximation (Lin/Keogh) over each "
        "event type's daily-mean series: PAA into 5-day segments, "
        "z-normalize against the series mean/std, bin into an "
        "alphabet-4 word via standard-normal quartile breakpoints "
        "(Python-precomputed e-notation literals — the transcendental-"
        "free policy). The symbolic index that makes motif discovery / "
        "similarity search on 100 TB of telemetry a STRING problem: "
        "one keyed fact-scan agg to the per-(type, day) table, then "
        "everything is metadata-scale with ORDER-PINNED folds (double "
        "sums never accumulate in engine order). Segment/series stats "
        "join on event_type — broadcast-size both sides."
    ),
    tags=("timeseries", "agg", "llm"),
)
def timeseries_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
        )
        .agg(
            (
                F.expr("CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE)")
                / F.expr("CAST(COUNT(value) AS DOUBLE)")
            ).alias("d")
        )
    )
    idx = daily.withColumn(
        "seg",
        F.floor(
            F.datediff(
                F.col("day"), F.min("day").over(W.partitionBy("event_type"))
            )
            / _SAX_SEG_DAYS
        ),
    )
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(day, {v} AS x))),"
        " s -> s.x), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    stats = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr(f"{fold.format(v='d')} / CAST(COUNT(1) AS DOUBLE)").alias("mu"),
        F.expr(
            "sqrt(greatest(CAST(0.0 AS DOUBLE),"
            f" {fold.format(v='d * d')} / CAST(COUNT(1) AS DOUBLE)"
            f" - ({fold.format(v='d')} / CAST(COUNT(1) AS DOUBLE))"
            f"   * ({fold.format(v='d')} / CAST(COUNT(1) AS DOUBLE))))"
        ).alias("sigma"),
    )
    paa = idx.groupBy("event_type", "seg").agg(
        F.expr(f"{fold.format(v='d')} / CAST(COUNT(1) AS DOUBLE)").alias("paa_val")
    )
    sym = paa.join(stats, "event_type").select(
        "event_type",
        "seg",
        "n_days",
        F.expr(_sax_symbol_sql("(paa_val - mu) / sigma")).alias("symbol"),
    )
    return (
        sym.groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(seg, symbol"
                " AS s))), p -> p.s), '')"
            ).alias("sax_word"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_weekday_hour_heatmap",
    oracle="""
        WITH cells AS (
            SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
                        AS BIGINT) AS dow_epoch,
                   CAST(hour(ts) AS BIGINT) AS hh,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events
            GROUP BY 1, 2
        )
        SELECT dow_epoch, hh AS hour_of_day, n,
               CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share
        FROM cells
        ORDER BY dow_epoch, hour_of_day
    """,
    doc=(
        "A39: weekday x hour activity heatmap — the canonical traffic-"
        "seasonality dashboard grid (when do events happen?), one hash "
        "aggregate to a <= 168-cell table plus a share window over the "
        "grid itself. The weekday key is computed as days-since-epoch "
        "mod 7 (0 = Thursday) rather than either engine's dayofweek() "
        "— Spark and DuckDB disagree on week-start numbering (the "
        "documented gotcha), while integer date arithmetic is "
        "identical everywhere. Counts exact; one shared division."
    ),
    tags=("agg", "timeseries", "histogram"),
)
def agg_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    cells = t.events.groupBy(
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') % 7 AS BIGINT)"
        ).alias("dow_epoch"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        cells.withColumn("_tot", F.sum("n").over(W.partitionBy()).cast("bigint"))
        .select(
            "dow_epoch",
            "hour_of_day",
            "n",
            F.expr("CAST(n AS DOUBLE) / CAST(_tot AS DOUBLE)").alias("share"),
        )
        .orderBy("dow_epoch", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# Round-7 additions (SURVEY §2.17): the product-analytics activity tier —
# DAU/WAU/MAU stickiness, new-vs-returning splits, and the Lorenz
# concentration curve. All reduce facts to (user, day) / (customer)
# grain in one hash agg; the day-grid joins are 30-row broadcasts.
# ---------------------------------------------------------------------------


@register(
    "agg_dau_wau_mau_stickiness",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        days_ AS (SELECT DISTINCT day FROM ud),
        win AS (
            SELECT d.day,
                   COUNT(DISTINCT CASE WHEN u.day = d.day
                                       THEN u.user_id END) AS dau,
                   COUNT(DISTINCT CASE WHEN u.day >= d.day - INTERVAL 6 DAY
                                       THEN u.user_id END) AS wau,
                   COUNT(DISTINCT u.user_id) AS mau
            FROM days_ d
            JOIN ud u ON u.day BETWEEN d.day - INTERVAL 29 DAY AND d.day
            GROUP BY d.day
        )
        SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
               CAST(mau AS BIGINT) AS mau,
               CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS dau_over_wau,
               CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS dau_over_mau
        FROM win
        ORDER BY day
    """,
    doc=(
        "A40: DAU / trailing-7-day WAU / trailing-30-day MAU per day "
        "with the stickiness ratios (DAU/WAU, DAU/MAU) — the retention "
        "pulse of every product dashboard. Facts reduce once to the "
        "DISTINCT (user, day) table (the only fact-grain shuffle); the "
        "30-row day grid then range-joins it broadcast-side, so each "
        "day's three activity sets are counted in one pass. Counts "
        "exact; the ratios two shared divisions (WAU/MAU >= DAU > 0 "
        "by construction on active days, so no zero guard is needed)."
    ),
    tags=("agg", "funnel", "timeseries"),
)
def agg_dau_wau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ud = t.events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    days_ = ud.select("day").distinct().withColumnRenamed("day", "d")
    win = (
        F.broadcast(days_)
        .join(
            ud,
            F.expr("day BETWEEN date_sub(d, 29) AND d"),
        )
        .groupBy("d")
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("d"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct(
                F.when(F.expr("day >= date_sub(d, 6)"), F.col("user_id"))
            ).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
    )
    return win.select(
        F.col("d").alias("day"),
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        F.col("mau").cast("bigint").alias("mau"),
        F.expr("CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)").alias("dau_over_wau"),
        F.expr("CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE)").alias("dau_over_mau"),
    ).orderBy("day")


@register(
    "agg_new_vs_returning_daily",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        first_ AS (
            SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id
        )
        SELECT u.day,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(SUM(CASE WHEN f.first_day = u.day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN f.first_day < u.day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returning,
               CAST(SUM(CASE WHEN f.first_day = u.day THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS new_share
        FROM ud u JOIN first_ f ON u.user_id = f.user_id
        GROUP BY u.day
        ORDER BY u.day
    """,
    doc=(
        "A41: daily new-vs-returning active-user split — the "
        "acquisition/retention decomposition under every growth "
        "report. First-seen day per user is one MIN fold over the "
        "distinct (user, day) table; the split is a conditional "
        "aggregate after an equi-join on user_id (at 100 TB the "
        "first-seen table is user-cardinality metadata that "
        "broadcast-joins the day grain). Counts exact BIGINT, the "
        "share one shared division."
    ),
    tags=("agg", "funnel", "timeseries"),
)
def agg_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ud = t.events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    first_ = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        ud.join(first_, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.sum(F.when(F.col("first_day") == F.col("day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("first_day") < F.col("day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
        )
        .select(
            "day",
            "n_active",
            "n_new",
            "n_returning",
            F.expr("CAST(n_new AS DOUBLE) / CAST(n_active AS DOUBLE)").alias(
                "new_share"
            ),
        )
        .orderBy("day")
    )


@register(
    "agg_lorenz_curve_deciles",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        tiled AS (
            SELECT cents,
                   ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
            FROM spend
        ),
        per AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(cents) AS BIGINT) AS decile_cents
            FROM tiled GROUP BY decile
        )
        SELECT decile, n_customers, decile_cents,
               CAST(SUM(decile_cents) OVER (ORDER BY decile) AS DOUBLE)
                   / CAST(SUM(decile_cents) OVER () AS DOUBLE)
                 AS cum_revenue_share
        FROM per
        ORDER BY decile
    """,
    doc=(
        "A42: Lorenz concentration curve — customers tiled into spend "
        "deciles (deterministic (cents, custkey) tiebreak), cumulative "
        "revenue share per decile: the 10-point curve under the Gini "
        "coefficient already in the battery (reading: 'the top decile "
        "holds X%% of revenue'). Spend folds to exact integer cents "
        "per customer in one hash agg; the decile assignment is the "
        "bucket-offset global row number + the closed-form ANSI NTILE "
        "(scalable.py — no global sort, no customer-grain single-"
        "partition window), and the 10-row cumulative share is one "
        "shared division per point."
    ),
    tags=("agg", "funnel"),
)
def agg_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .scalable import bucketed_row_number, ntile_from_rn

    t = Tables(spark, sf_dir)
    spend = t.orders.groupBy("o_custkey").agg(
        F.expr("CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "cents"
        )
    ).localCheckpoint(eager=False)  # reused by the rank pass + the count
    n = spend.agg(F.count(F.lit(1)).alias("n"))
    tiled = (
        bucketed_row_number(
            spend,
            F.expr("cents DIV 1048576"),
            ["cents", "o_custkey"],
            out="rn",
        )
        .crossJoin(F.broadcast(n))
        .select("cents", ntile_from_rn("rn", "n", 10).alias("decile"))
    )
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.partitionBy()
    return per.select(
        "decile",
        "n_customers",
        "decile_cents",
        (
            F.sum("decile_cents").over(wc).cast("double")
            / F.sum("decile_cents").over(wt).cast("double")
        ).alias("cum_revenue_share"),
    ).orderBy("decile")


@register(
    "agg_growth_accounting_daily",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        first_ AS (
            SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id
        ),
        tagged AS (
            SELECT u.user_id, u.day, f.first_day,
                   EXISTS (SELECT 1 FROM ud p
                           WHERE p.user_id = u.user_id
                             AND p.day = u.day - INTERVAL 1 DAY)
                     AS active_yday
            FROM ud u JOIN first_ f ON u.user_id = f.user_id
        )
        SELECT day,
               CAST(SUM(CASE WHEN first_day = day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN first_day < day AND active_yday
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(SUM(CASE WHEN first_day < day AND NOT active_yday
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM tagged
        GROUP BY day
        ORDER BY day
    """,
    doc=(
        "A43: daily growth accounting — every active user classified "
        "as NEW (first-ever day), RETAINED (also active yesterday) or "
        "RESURRECTED (returning after a gap): the decomposition "
        "(active_t = new + retained + resurrected, with churn as "
        "yesterday's actives minus today's retained) that turns a "
        "flat DAU line into a growth diagnosis. The distinct "
        "(user, day) table self-joins on (user, day-1) — an equi-join "
        "on the activity key, never a window over user history — plus "
        "the first-seen MIN fold; all counts exact BIGINT from one "
        "conditional aggregate."
    ),
    tags=("agg", "funnel", "timeseries"),
)
def agg_growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ud = t.events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    first_ = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    prev = ud.select(
        "user_id", F.expr("date_add(day, 1)").alias("day"), F.lit(True).alias("ay")
    )
    tagged = (
        ud.join(first_, "user_id")
        .join(prev, ["user_id", "day"], "left")
        .select(
            "day",
            "first_day",
            F.coalesce(F.col("ay"), F.lit(False)).alias("active_yday"),
        )
    )
    return (
        tagged.groupBy("day")
        .agg(
            F.sum(F.when(F.col("first_day") == F.col("day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(
                F.when(
                    (F.col("first_day") < F.col("day")) & F.col("active_yday"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_retained"),
            F.sum(
                F.when(
                    (F.col("first_day") < F.col("day")) & ~F.col("active_yday"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_resurrected"),
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
        )
        .orderBy("day")
    )


@register(
    "agg_bitmap_distinct_rollup",
    oracle="""
        WITH words AS (
            SELECT event_type, user_id // 64 AS bucket,
                   bit_or(CAST(CASE WHEN (1::HUGEINT << CAST(user_id % 64 AS INT))
                                     >= 9223372036854775808::HUGEINT
                               THEN (1::HUGEINT << CAST(user_id % 64 AS INT))
                                    - 18446744073709551616::HUGEINT
                               ELSE (1::HUGEINT << CAST(user_id % 64 AS INT))
                               END AS BIGINT)) AS w
            FROM events GROUP BY event_type, user_id // 64
        ),
        per_type AS (
            SELECT event_type,
                   CAST(SUM(CAST(bit_count(w) AS BIGINT)) AS BIGINT)
                       AS n_distinct,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets
            FROM words GROUP BY event_type
        ),
        merged AS (
            SELECT bucket, bit_or(w) AS w FROM words GROUP BY bucket
        ),
        total AS (
            SELECT 'ALL' AS event_type,
                   CAST(SUM(CAST(bit_count(w) AS BIGINT)) AS BIGINT)
                       AS n_distinct,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets
            FROM merged
        )
        SELECT * FROM per_type
        UNION ALL SELECT * FROM total
        ORDER BY event_type
    """,
    doc=(
        "Bitmap-backed EXACT distinct rollup — the dense-id answer to "
        "'approx_count_distinct or nothing': pack user ids into "
        "64-bit bucket words (bucket = id DIV 64, one bit per id), "
        "bit_or per (type, bucket), popcount-sum per type. The payoff "
        "is the MERGE step the oracle also states: the ALL row "
        "re-aggregates the per-type word tables with another bit_or — "
        "distinct-across-overlapping-sets WITHOUT rescanning facts, "
        "the thing plain COUNT DISTINCT per group cannot give you. "
        "At 100 TB the word table is |id space|/64 longs per group — "
        "the mergeable exact sketch for dense surrogate keys, vs HLL "
        "when ids are sparse/wide. Verified against plain COUNT "
        "DISTINCT at both grains; the DuckDB mask is HUGEINT-built "
        "(1<<63 overflows its BIGINT) and bit_count's TINYINT return "
        "is cast before summing — the Bloom op's two's-complement "
        "lessons applied."
    ),
    tags=("agg", "sketch"),
)
def agg_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = t.events.groupBy(
        "event_type", F.expr("user_id DIV 64").alias("bucket")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT)))"
        ).alias("w")
    )
    per_type = words.groupBy("event_type").agg(
        F.expr("CAST(SUM(CAST(bit_count(w) AS BIGINT)) AS BIGINT)").alias(
            "n_distinct"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )
    merged = words.groupBy("bucket").agg(F.expr("bit_or(w)").alias("w"))
    total = merged.agg(
        F.lit("ALL").alias("event_type"),
        F.expr("CAST(SUM(CAST(bit_count(w) AS BIGINT)) AS BIGINT)").alias(
            "n_distinct"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )
    return per_type.unionByName(total).orderBy("event_type")


#: matrix-profile window length (days) and the trivial-match exclusion
#: zone (no partner within < _MP_M days — the standard MP convention)
_MP_M = 7

#: squared Euclidean distance between two _MP_M-day windows, as scalar
#: column arithmetic (a0..a6 vs b0..b6) — exact integers, shared text
_MP_DIST = " + ".join(f"(a{j} - b{j}) * (a{j} - b{j})" for j in range(_MP_M))


@register(
    "timeseries_matrix_profile_discord",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS dd,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        ),
        bounds AS (SELECT MIN(dd) AS lo, MAX(dd) AS hi FROM daily),
        grid AS (
            SELECT unnest(range((SELECT lo FROM bounds),
                                (SELECT hi FROM bounds) + 1)) AS d
        ),
        dense AS (
            SELECT d, COALESCE(y, 0) AS y
            FROM grid LEFT JOIN daily ON d = dd
        ),
        win AS (
            SELECT d,
                   y AS w0,
                   {", ".join(f"lead(y, {j}) OVER (ORDER BY d) AS w{j}" for j in range(1, _MP_M))}
            FROM dense
        ),
        full_w AS (SELECT * FROM win WHERE w{_MP_M - 1} IS NOT NULL),
        pairs AS (
            SELECT a.d AS i, b.d AS j,
                   {_MP_DIST.replace("a0", "a.w0").replace("b0", "b.w0")
                            .replace("a1", "a.w1").replace("b1", "b.w1")
                            .replace("a2", "a.w2").replace("b2", "b.w2")
                            .replace("a3", "a.w3").replace("b3", "b.w3")
                            .replace("a4", "a.w4").replace("b4", "b.w4")
                            .replace("a5", "a.w5").replace("b5", "b.w5")
                            .replace("a6", "a.w6").replace("b6", "b.w6")} AS dist
            FROM full_w a JOIN full_w b ON b.d >= a.d + {_MP_M}
        ),
        sym AS (
            SELECT i, j, dist FROM pairs
            UNION ALL
            SELECT j AS i, i AS j, dist FROM pairs
        ),
        mp AS (SELECT i, MIN(dist) AS mp_dist FROM sym GROUP BY i),
        nn AS (
            SELECT mp.i, mp.mp_dist, MIN(sym.j) AS nn_start
            FROM mp JOIN sym ON sym.i = mp.i AND sym.dist = mp.mp_dist
            GROUP BY 1, 2
        )
        SELECT i AS win_start,
               mp_dist,
               nn_start,
               CAST(rank() OVER (ORDER BY mp_dist DESC, i) AS BIGINT)
                   AS discord_rank
        FROM nn ORDER BY win_start
    """,
    doc=(
        "Matrix profile (UCR) over the daily purchase series — the "
        "modern time-series primitive behind motif and discord "
        "discovery: for every 7-day window, the distance to its "
        "nearest NON-TRIVIAL neighbor (no overlap: partners >= 7 days "
        "away). discord_rank 1 is the series' most anomalous week "
        "(largest nearest-neighbor distance), the profile minimum its "
        "strongest repeated motif. Exactness: windows are the "
        "gap-filled integer count vectors (zero-filled calendar "
        "grid), the distance is the exact integer squared-Euclidean "
        "written as scalar column arithmetic (no arrays, no folds), "
        "nearest neighbor resolved deterministically (MIN dist, then "
        "MIN partner index). Scale: the pair space is DAY-GRAIN — "
        "calendar-bounded like Theil-Sen's slope pairs (~66k pairs/"
        "year at any corpus size), reached by one bounded broadcast "
        "theta-join; the only single-partition windows are the "
        "calendar-grain lead() frame and the final discord rank."
    ),
    tags=("timeseries", "window"),
)
def timeseries_matrix_profile_discord(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    m = _MP_M
    daily = (
        t.events.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            ).alias("dd")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    grid = daily.agg(F.min("dd").alias("lo"), F.max("dd").alias("hi")).selectExpr(
        "explode(sequence(lo, hi)) AS d"
    )
    dense = grid.join(daily, grid["d"] == daily["dd"], "left").selectExpr(
        "d", "COALESCE(y, CAST(0 AS BIGINT)) AS y"
    )
    win = dense.selectExpr(
        "d",
        "y AS w0",
        *[f"lead(y, {j}) OVER (ORDER BY d) AS w{j}" for j in range(1, m)],
    ).filter(F.col(f"w{m - 1}").isNotNull())
    a = win.selectExpr("d AS i", *[f"w{j} AS a{j}" for j in range(m)])
    b = win.selectExpr("d AS j", *[f"w{j} AS b{j}" for j in range(m)])
    pairs = (
        a.crossJoin(b)
        .filter(F.col("j") >= F.col("i") + m)
        .selectExpr("i", "j", f"{_MP_DIST} AS dist")
    )
    sym = pairs.select("i", "j", "dist").union(
        pairs.selectExpr("j AS i", "i AS j", "dist")
    )
    mp = sym.groupBy("i").agg(F.min("dist").alias("mp_dist"))
    nn = (
        mp.join(sym, (sym["i"] == mp["i"]) & (sym["dist"] == mp["mp_dist"]))
        .groupBy(mp["i"], "mp_dist")
        .agg(F.min("j").alias("nn_start"))
    )
    return nn.selectExpr(
        "i AS win_start",
        "mp_dist",
        "nn_start",
        "CAST(rank() OVER (ORDER BY mp_dist DESC, i) AS BIGINT)"
        " AS discord_rank",
    ).orderBy("win_start")


#: DTW horizon (days) and Sakoe-Chiba band half-width
_DTW_N = 14
_DTW_BAND = 3
#: out-of-band sentinel (any real path cost is far below this)
_DTW_BIG = 1 << 60


def _dtw_in_band(i: int, j: int) -> bool:
    return 1 <= i <= _DTW_N and 1 <= j <= _DTW_N and abs(i - j) <= _DTW_BAND


def _dtw_layers() -> list[list[tuple[str, str]]]:
    """Banded DTW DP cells by anti-diagonal (the ROUGE-L layered-unroll
    contract): c_i_j = (a_i - b_j)^2 + min(preds), out-of-band
    predecessors replaced by the sentinel. Shared SQL text for both
    engines."""
    layers = []
    for d in range(2, 2 * _DTW_N + 1):
        cells = []
        for i in range(1, _DTW_N + 1):
            j = d - i
            if not _dtw_in_band(i, j):
                continue
            cost = f"(a_{i} - b_{j}) * (a_{i} - b_{j})"
            if (i, j) == (1, 1):
                cells.append(("c_1_1", cost))
                continue
            preds = [
                f"c_{pi}_{pj}" if _dtw_in_band(pi, pj) else str(_DTW_BIG)
                for pi, pj in ((i - 1, j), (i, j - 1), (i - 1, j - 1))
            ]
            cells.append((f"c_{i}_{j}", f"{cost} + least({', '.join(preds)})"))
        if cells:
            layers.append(cells)
    return layers


def _dtw_out_cols() -> list[str]:
    n = _DTW_N
    lockstep = " + ".join(f"(a_{i} - b_{i}) * (a_{i} - b_{i})" for i in range(1, n + 1))
    return [
        f"CAST({n} AS BIGINT) AS horizon_days",
        f"CAST({_DTW_BAND} AS BIGINT) AS band_width",
        f"CAST(c_{n}_{n} AS BIGINT) AS dtw_cost",
        f"CAST({lockstep} AS BIGINT) AS lockstep_cost",
        f"CAST(({lockstep}) - c_{n}_{n} AS DOUBLE)"
        f" / CAST(nullif({lockstep}, 0) AS DOUBLE) AS warping_gain",
    ]


@register(
    "timeseries_dtw_alignment",
    oracle=(
        lambda: (
            "WITH daily AS (\n"
            "    SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS dd,\n"
            "           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ya,\n"
            "           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS yb\n"
            "    FROM events WHERE event_type IN ('purchase', 'click')\n"
            "    GROUP BY 1\n"
            "),\n"
            "lo AS (SELECT MIN(dd) AS lo FROM daily),\n"
            "grid AS (SELECT unnest(range(1, " + str(_DTW_N + 1) + ")) AS rn),\n"
            "dense AS (\n"
            "    SELECT rn, COALESCE(ya, 0) AS ya, COALESCE(yb, 0) AS yb\n"
            "    FROM grid LEFT JOIN daily ON dd = (SELECT lo FROM lo) + rn - 1\n"
            "),\n"
            "l0 AS (SELECT "
            + ", ".join(
                f"MAX(CASE WHEN rn = {i} THEN ya END) AS a_{i}, "
                f"MAX(CASE WHEN rn = {i} THEN yb END) AS b_{i}"
                for i in range(1, _DTW_N + 1)
            )
            + " FROM dense),\n"
            + ",\n".join(
                f"l{k} AS (SELECT *, "
                + ", ".join(f"{sql} AS {name}" for name, sql in cells)
                + f" FROM l{k - 1})"
                for k, cells in enumerate(_dtw_layers(), start=1)
            )
            + "\nSELECT "
            + ", ".join(_dtw_out_cols())
            + f" FROM l{len(_dtw_layers())}"
        )
    )(),
    doc=(
        "Banded dynamic time warping (Sakoe-Chiba r=3) between the "
        "first 14 days of the purchase and click daily-count series — "
        "THE classical alignment distance for series that move "
        "together but out of phase; warping_gain = (lockstep - dtw) / "
        "lockstep says how much of the Euclidean mismatch is pure "
        "phase shift. Exactness: both 14-day windows are zero-filled "
        "integer count vectors pivoted to ONE row (conditional MAX "
        "over the dense calendar grid), costs are integer squared "
        "differences, and the banded DP unrolls as fixed anti-"
        "diagonal column layers (the ROUGE-L contract — no recursion, "
        "no list_reduce) with out-of-band predecessors pinned to a "
        "2^60 sentinel; dtw_cost is an exact BIGINT in both engines, "
        "warping_gain ONE double division. Scale: two day-grain "
        "conditional aggregates + a 14-row pivot — calendar-bounded "
        "metadata at any corpus size; the DP itself is 90 integer "
        "exprs on one row."
    ),
    tags=("timeseries",),
)
def timeseries_dtw_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    n = _DTW_N
    daily = (
        t.events.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy(
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            ).alias("dd")
        )
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("ya"),
            F.expr(
                "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("yb"),
        )
    )
    # rn = 1..14 over the zero-filled head of the common calendar
    lo = daily.agg(F.min("dd").alias("lo"))
    grid = lo.selectExpr(f"explode(sequence(lo, lo + {n - 1})) AS dd0", "lo")
    dense = (
        grid.join(daily, grid["dd0"] == daily["dd"], "left")
        .selectExpr(
            "CAST(dd0 - lo + 1 AS INT) AS rn",
            "COALESCE(ya, CAST(0 AS BIGINT)) AS ya",
            "COALESCE(yb, CAST(0 AS BIGINT)) AS yb",
        )
    )
    df = dense.agg(
        *[
            c
            for i in range(1, n + 1)
            for c in (
                F.expr(f"MAX(CASE WHEN rn = {i} THEN ya END)").alias(f"a_{i}"),
                F.expr(f"MAX(CASE WHEN rn = {i} THEN yb END)").alias(f"b_{i}"),
            )
        ]
    )
    for cells in _dtw_layers():
        df = df.selectExpr("*", *[f"{sql} AS {name}" for name, sql in cells])
    return df.selectExpr(*_dtw_out_cols())
