"""Relational core: scans, projections, filters, derived columns,
sorts/limits/top-k — the dashboard's query surface (SURVEY §2.2/§2.6)
generalized over the driver's star schema.

Reference parity notes (file:line cite the reference):
  P3 equality filter      iot_dashboard.py:147-150
  P4 null-drop            iot_dashboard.py:157,166,176,185
  P7 derived columns      iot_dashboard.py:111,125-130
  O1 sort by timestamp    iot_dashboard.py:112
  O3 limit / scan cap     iot_dashboard.py:58-66,94
  O5 most-recent-N top-k  iot_dashboard.py:46,94,134 [inferred]

Everything is declarative DataFrame API: Catalyst pushes the filters
and projections into the parquet scan (PushedFilters / ReadSchema),
and O5 plans as TakeOrderedAndProject (true top-k — no global sort),
which is what makes these safe at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register
from ._helpers import dsum_double


@register(
    "flagship_revenue_by_status_year",
    oracle="""
        SELECT o.o_orderstatus,
               CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(CAST(SUM(CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY o.o_orderstatus, CAST(year(o.o_orderdate) AS INT)
        ORDER BY o_orderstatus, o_year
    """,
    doc="Flagship: scan+join+filter+derived col+agg+sort in one query.",
    tags=("flagship", "join", "agg"),
)
def flagship_revenue_by_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus", F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum_double("l_extendedprice * (1 - l_discount)").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("o_orderstatus", "o_year")
    )


@register(
    "filter_project_lineitem",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity,
               l_extendedprice * (1 - l_discount) AS net_price
        FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity > 40
    """,
    doc="P2/P3/P7: pushed-down predicate + pruned projection + derived column.",
    tags=("filter", "project"),
)
def filter_project_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 40))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )


@register(
    "null_drop_and_filter",
    oracle="""
        SELECT event_id, user_id, value
        FROM events
        WHERE value IS NOT NULL AND event_type = 'click'
    """,
    doc="P4: na.drop before analysis (iot_dashboard.py:157).",
    tags=("filter",),
)
def null_drop_and_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.na.drop(subset=["value"])
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "value")
    )


@register(
    "order_by_limit",
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderdate
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    doc="O5: top-k — plans as TakeOrderedAndProject, not a global sort.",
    tags=("sort", "limit", "topk"),
)
def order_by_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .limit(10)
    )


@register(
    "recent_n_events",
    oracle="""
        SELECT event_id, ts, event_type
        FROM events
        ORDER BY ts DESC, event_id
        LIMIT 500
    """,
    doc="O5/S7: dashboard 'most recent N' working set (iot_dashboard.py:46,94).",
    tags=("sort", "limit", "topk"),
)
def recent_n_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.orderBy(F.desc("ts"), F.asc("event_id"))
        .select("event_id", "ts", "event_type")
        .limit(500)
    )


@register(
    "head_sample",
    oracle="""
        SELECT event_id, event_type
        FROM events
        ORDER BY event_id
        LIMIT 5
    """,
    doc=(
        "O4: head sample (iot_dashboard.py:138 df.head()) — the "
        "reference intent is just 'show 5 rows', so we pin a "
        "deterministic orderBy(event_id) to make it oracle-able with "
        "zero semantic loss. Still plans as TakeOrderedAndProject "
        "(per-partition top-5 + tiny driver merge, no global sort)."
    ),
    tags=("limit", "sample"),
)
def head_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.select("event_id", "event_type")
        .orderBy("event_id")
        .limit(5)
    )


@register(
    "distinct_sorted_keys",
    oracle="""
        SELECT DISTINCT event_type FROM events ORDER BY event_type
    """,
    doc="A2: distinct key list for the device selector (iot_dashboard.py:144).",
    tags=("distinct", "sort"),
)
def distinct_sorted_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.events.select("event_type").distinct().orderBy("event_type")


@register(
    "sql_api_revenue_by_nation",
    oracle="""
        SELECT n_name,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
               CAST(CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                    AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS revenue
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY n_name
        ORDER BY n_name
    """,
    doc=(
        "The SQL front door: this query is executed as a literal "
        "spark.sql() string whose {table} placeholders are bound to "
        "the tables as DataFrame arguments (io.Tables.sql; PySpark "
        "drops its per-query views after analysis, so the session "
        "catalog is untouched), not through the DataFrame builders — "
        "proving the engine's second API surface end-to-end (ANSI "
        "join syntax, decimal-exact aggregation) lands on the identical Catalyst "
        "plan and the identical hash as the DataFrame path would. "
        "Broadcast of nation happens via AQE size estimation here "
        "rather than an explicit hint — the declarative path."
    ),
    tags=("relational", "sql-api", "join", "agg"),
)
def sql_api_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT n_name,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                    AS DECIMAL(38,8))) AS DOUBLE) AS revenue
        FROM {customer}
        JOIN {nation} ON c_nationkey = n_nationkey
        JOIN {orders} ON o_custkey = c_custkey
        JOIN {lineitem} ON l_orderkey = o_orderkey
        GROUP BY n_name
        ORDER BY n_name
        """
    )


@register(
    "relational_global_row_number_scalable",
    oracle="""
        SELECT o_orderkey,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_id
        FROM orders
    """,
    doc=(
        "Global row numbering WITHOUT the single-partition global "
        "window (Spark warns and serializes on row_number() over an "
        "unpartitioned ORDER BY): rows bucket by a deterministic key "
        "range (o_orderkey DIV 4096), per-bucket counts roll into "
        "prefix offsets with one metadata-scale window, and each "
        "bucket numbers its rows locally in parallel — global id = "
        "bucket offset + local rank. Equivalent to ROW_NUMBER() OVER "
        "(ORDER BY key) because bucket order aligns with key order; "
        "the oracle IS that global window. This is zipWithIndex "
        "re-expressed as DataFrames, the standard two-pass trick for "
        "assigning stable ids to 10^12 rows; the only sequential step "
        "is the offsets window over the bucket-count table."
    ),
    tags=("relational", "window"),
)
def relational_global_row_number_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    b = t.orders.select("o_orderkey").withColumn(
        "bkt", F.expr("o_orderkey DIV 4096")
    )
    counts = b.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    # metadata-scale: one row per bucket; the unpartitioned window is fine HERE
    offs = counts.select(
        "bkt",
        F.coalesce(
            F.sum("n").over(
                W.partitionBy().orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
    )
    return (
        b.join(F.broadcast(offs), "bkt")
        .withColumn(
            "local", F.row_number().over(W.partitionBy("bkt").orderBy("o_orderkey"))
        )
        .select(
            "o_orderkey", (F.col("off") + F.col("local")).cast("bigint").alias("row_id")
        )
    )


@register(
    "relational_pareto_skyline_2d",
    oracle="""
        WITH pts AS (
            SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS d
            FROM orders
        ),
        grp AS (
            SELECT o_totalprice, MAX(d) AS gd
            FROM pts GROUP BY o_totalprice
        ),
        swept AS (
            SELECT o_totalprice,
                   MAX(gd) OVER (ORDER BY o_totalprice DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS best_d_above
            FROM grp
        )
        SELECT p.o_orderkey, p.o_totalprice, p.d AS o_orderdate
        FROM pts p
        JOIN grp g USING (o_totalprice)
        JOIN swept s USING (o_totalprice)
        WHERE p.d = g.gd
          AND (s.best_d_above IS NULL OR p.d > s.best_d_above)
    """,
    doc=(
        "2-D Pareto skyline (maximize price AND recency): collapse to "
        "per-price max dates, sweep the price groups descending, and "
        "keep a row iff it is its group's max date AND beats the "
        "running max date of every STRICTLY pricier group — standard "
        "weak dominance (>= both dims, > in one), O(n log n) vs the "
        "naive O(n^2) dominance self-join. The group level is the tie-"
        "correct construction: a 1 PRECEDING row frame over raw rows "
        "mishandles equal prices — caught by the sf0.01 dominance "
        "property test, where price ties actually occur. The sweep is "
        "the bucket-offset exclusive running max "
        "(operators/scalable.py, price-band buckets, DESC order) over "
        "the distinct-price table — no single-partition window even "
        "though a price column is near row-grain; the join back is a "
        "co-partitioned equi-join, never a pair explosion."
    ),
    tags=("relational", "window", "skyline"),
)
def relational_pareto_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_running_max_exclusive

    t = Tables(spark, sf_dir)
    pts = t.orders.select(
        "o_orderkey", "o_totalprice", F.col("o_orderdate").cast("date").alias("d")
    )
    grp = (
        pts.groupBy("o_totalprice")
        .agg(F.max("d").alias("gd"))
        .localCheckpoint(eager=False)  # reused by the sweep's 2 branches + join
    )
    swept = bucketed_running_max_exclusive(
        grp,
        F.floor(-F.col("o_totalprice") / 100).cast("bigint"),
        [F.desc("o_totalprice")],
        "gd",
        out="best_d_above",
    ).select("o_totalprice", "best_d_above")
    return (
        pts.join(grp, "o_totalprice")
        .join(swept, "o_totalprice")
        .filter(
            (F.col("d") == F.col("gd"))
            & (F.col("best_d_above").isNull() | (F.col("d") > F.col("best_d_above")))
        )
        .select("o_orderkey", "o_totalprice", F.col("d").alias("o_orderdate"))
    )


@register(
    "sql_api_filter_clause",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8)))
                         FILTER (WHERE o_orderpriority = '1-URGENT')
                    AS VARCHAR) AS DOUBLE) AS urgent_revenue
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc=(
        "ANSI FILTER-clause aggregates through the SQL front door: "
        "per-status counts with inline aggregate filters (the standard "
        "form of conditional aggregation, planned identically to the "
        "CASE-WHEN rewrite but without nesting the predicate inside "
        "the aggregate's argument). Executed as a literal spark.sql() "
        "string over tables bound as DataFrame arguments; the filtered "
        "decimal sum keeps the usual exactness discipline. One scan, "
        "one combine."
    ),
    tags=("relational", "sql-api", "agg"),
)
def sql_api_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8)))
                    FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)
                 AS urgent_revenue
        FROM {orders}
        GROUP BY o_orderstatus
        """
    )


#: shared recursive hierarchy walk: nations arranged as a binary tree by
#: key (parent(k) = floor((k-1)/2), root 0) — a synthetic org chart over
#: a real dimension table. FLOOR before the INT cast: DuckDB CAST rounds
#: while Spark truncates (the repo's documented cross-engine trap).
#: ``{nation}`` is the table's name for DuckDB, a bound DataFrame for Spark.
_RECURSIVE_WALK_SQL = """
    WITH RECURSIVE walk AS (
        SELECT n_nationkey AS node, n_nationkey AS cur,
               0 AS depth, n_name AS path
        FROM {nation}
        UNION ALL
        SELECT w.node,
               CAST(FLOOR((w.cur - 1) / 2) AS INTEGER) AS cur,
               w.depth + 1,
               w.path || '>' || p.n_name
        FROM walk w
        JOIN {nation} p
          ON p.n_nationkey = CAST(FLOOR((w.cur - 1) / 2) AS INTEGER)
        WHERE w.cur > 0
    )
    SELECT node AS n_nationkey,
           CAST(depth AS INT) AS depth_to_root,
           path AS path_to_root
    FROM walk WHERE cur = 0
"""


@register(
    "sql_api_recursive_cte",
    oracle=_RECURSIVE_WALK_SQL.format(nation="nation"),
    doc=(
        "Native WITH RECURSIVE through the SQL front door (Spark 4's "
        "recursive CTE support): every nation walks a synthetic binary-"
        "tree org hierarchy to the root, accumulating depth and the "
        "name path. The IDENTICAL recursive SQL text runs on both "
        "engines — the strongest possible parity statement for the "
        "iterative-query surface (the graph operators' Pregel-shaped "
        "DataFrame loops remain the 100 TB path; this is the "
        "declarative twin users reach for first). Termination is "
        "structural (cur strictly decreases to 0, max depth "
        "log2(25) ~ 5 rounds); each round is one equi-join against "
        "the 25-row dimension."
    ),
    tags=("relational", "sql-api", "recursive", "spark4"),
)
def sql_api_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(_RECURSIVE_WALK_SQL)


@register(
    "sql_api_group_by_all",
    oracle="""
        SELECT o_orderstatus,
               CAST(year(o_orderdate) AS INT) AS o_year,
               o_orderpriority,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
    doc=(
        "GROUP BY ALL / ORDER BY ALL (Spark 4 + DuckDB shared modern "
        "SQL sugar): every non-aggregate select item becomes a group "
        "key and the full output sorts by every column — the "
        "exploratory-analytics idiom that removes the copy-the-select-"
        "list drudgery. The identical text runs on both engines and "
        "plans exactly like the explicit GROUP BY (one hash aggregate, "
        "map-side combined)."
    ),
    tags=("relational", "sql-api", "agg", "spark4"),
)
def sql_api_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT o_orderstatus,
               CAST(year(o_orderdate) AS INT) AS o_year,
               o_orderpriority,
               COUNT(*) AS n_orders
        FROM {orders}
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@register(
    "sql_api_pipe_syntax",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    doc=(
        "SQL pipe syntax (Spark 4): the same revenue rollup written as "
        "a linear FROM |> WHERE |> AGGREGATE |> ORDER BY dataflow — "
        "the composable front door Google's SQL:2016-pipe proposal "
        "standardizes, parsed natively by Spark's ANSI parser. The "
        "oracle is the equivalent classic SELECT (DuckDB has no pipe "
        "parser), which also proves the two surfaces are semantically "
        "identical: same plan, same pushed filter, same decimal-exact "
        "aggregate discipline as every other oracled query."
    ),
    tags=("sql", "api", "spark4"),
)
def sql_api_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        FROM {lineitem}
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(38,8))) AS DOUBLE) AS revenue
           GROUP BY l_returnflag
        |> ORDER BY l_returnflag
        """
    ).select("l_returnflag", "n_items", "revenue")


@register(
    "sql_api_named_parameters",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8)))
                    AS VARCHAR) AS DOUBLE) AS total
        FROM orders
        WHERE o_totalprice > 150000.0
          AND o_orderstatus = 'O'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc=(
        "Parameterized SQL (Spark 4 named parameter markers): the "
        "query text carries :min_price / :status placeholders and the "
        "values travel OUT-OF-BAND via spark.sql(..., args=...) — the "
        "injection-safe surface a query service exposes instead of "
        "string interpolation. The oracle inlines the same literals, "
        "proving binding changes nothing semantically."
    ),
    tags=("sql", "api", "spark4"),
)
def sql_api_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) AS total
        FROM {orders}
        WHERE o_totalprice > :min_price
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"min_price": 150000.0, "status": "O"},
    )


@register(
    "sql_api_listagg_within_group",
    oracle="""
        SELECT r_name,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               listagg(n_name, ';' ORDER BY n_name DESC) AS nations_desc,
               CAST(length(listagg(n_name, ';' ORDER BY n_name DESC)) AS BIGINT)
                   AS list_len
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
    """,
    doc=(
        "ANSI SQL:2016 LISTAGG ... WITHIN GROUP (ORDER BY ...) through "
        "Spark 4's parser, plus a lateral column alias (the aggregate "
        "reused by name in the same SELECT) — the ordered string "
        "aggregation agg_collect_sorted builds from DataFrame "
        "primitives, now as the standard SQL text a ported workload "
        "ships as-is. The explicit in-aggregate ORDER BY makes the "
        "concatenation deterministic at any partitioning (an "
        "unordered listagg would be shuffle-order-dependent, exactly "
        "like collect_list)."
    ),
    tags=("sql", "api", "agg", "spark4"),
)
def sql_api_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT r_name,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               listagg(n_name, ';') WITHIN GROUP (ORDER BY n_name DESC)
                   AS nations_desc,
               CAST(length(nations_desc) AS BIGINT) AS list_len
        FROM {nation} JOIN {region} ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
        """
    )


@register(
    "sql_api_named_window_clause",
    oracle="""
        SELECT * FROM (
            SELECT o_custkey, o_orderkey,
                   CAST(row_number() OVER w AS BIGINT) AS rn,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
                        AS BIGINT) AS running_cents,
                   CAST(lag(o_orderkey) OVER w AS BIGINT) AS prev_orderkey
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        )
        WHERE rn <= 3
        ORDER BY o_custkey, rn
    """,
    doc=(
        "Named WINDOW clause (the modern-SQL window sugar "
        "both engines share): one window specification declared once "
        "and referenced by three functions, with a rank<=3 filter on the "
        "result. Catalyst folds the shared spec into ONE Window node "
        "(a repeated inline OVER would too, but the named form is what "
        "humans maintain). NOTE the filter cannot become a "
        "WindowGroupLimit local-top-k here BY DESIGN: the same spec "
        "also computes a running sum and lag over the FULL partition, "
        "so pre-filtering would change their values — the plan-audited "
        "top-k rewrite applies only to rank-only windows (QUALIFY "
        "itself: DuckDB yes, Spark 4.1 not yet — the subquery filter "
        "is the portable spelling). Running cents "
        "are exact integers; identical text runs on both engines."
    ),
    tags=("relational", "sql-api", "window", "spark4"),
)
def sql_api_named_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT * FROM (
            SELECT o_custkey, o_orderkey,
                   CAST(row_number() OVER w AS BIGINT) AS rn,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
                        AS BIGINT) AS running_cents,
                   CAST(lag(o_orderkey) OVER w AS BIGINT) AS prev_orderkey
            FROM {orders}
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        )
        WHERE rn <= 3
        ORDER BY o_custkey, rn
        """
    )


@register(
    "sql_api_unpivot_stack",
    oracle="""
        WITH wide AS (
            SELECT o_orderpriority AS priority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_finished
            FROM orders GROUP BY o_orderpriority
        )
        SELECT priority, metric, value FROM (
            SELECT priority, 'n_orders' AS metric, n_orders AS value FROM wide
            UNION ALL
            SELECT priority, 'n_customers', n_customers FROM wide
            UNION ALL
            SELECT priority, 'n_finished', n_finished FROM wide
        )
        ORDER BY priority, metric
    """,
    doc=(
        "SQL-API surface: UNPIVOT via stack() — the inverse of the "
        "pivot family: melt a wide per-priority metrics row into "
        "(priority, metric, value) long form, the shape every "
        "metrics store and chart library wants. Spark's stack(n, "
        "label1, col1, ...) generator emits the n rows per input row "
        "INSIDE whole-stage codegen — one projection, no join, no "
        "explode of a constructed array — and the ANSI UNPIVOT "
        "clause rewrites to exactly this. Oracle states the same "
        "melt as the portable UNION ALL. The wide source is one "
        "grouped aggregate; the unpivot adds zero shuffles."
    ),
    tags=("relational", "sql-api"),
)
def sql_api_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wide = t.orders.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_finished"),
    )
    return wide.selectExpr(
        "priority",
        "stack(3, 'n_orders', n_orders, 'n_customers', n_customers,"
        " 'n_finished', n_finished) AS (metric, value)",
    ).orderBy("priority", "metric")
