"""Dashboard-layer operators (SURVEY §2.2) + nested-data parity P1/P2.

The reference's defining data model is the nested reading —
``coordinates`` struct and ``readings`` map<sensor, struct<value,unit>>
(iot-data-stream.py:196-207) — flattened to a wide frame for CSV
(iot-data-stream.py:322-341) and extracted field-by-field in the
dashboard (iot_dashboard.py:117-130). The driver tables are flat, so
these queries CONSTRUCT the nested shape from ``events`` columns and
then flatten/extract it — both sides of the oracle build the same
nested value, so the final flat output hash-checks exactly while the
Spark plan genuinely exercises struct/map construction and traversal.

Also here: the dashboard's defensive operators — all-null predicate
(P5, iot_dashboard.py:156), column-existence guard (P6, :77-81), and
the result cache (S8, :45).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register


@register(
    "nested_flatten_wide",
    oracle="""
        WITH nested AS (
            SELECT event_id,
                   struct_pack(
                       device := 'user_' || CAST(user_id AS VARCHAR),
                       coordinates := struct_pack(
                           latitude := CAST(user_id AS DOUBLE) / 10.0,
                           longitude := value),
                       readings := MAP {
                           'temperature': struct_pack(v := value, u := 'C'),
                           'signal': struct_pack(v := CAST(user_id AS DOUBLE), u := 'dB')}
                   ) AS rec
            FROM events WHERE user_id <= 10 AND value IS NOT NULL
        )
        SELECT event_id,
               rec.device AS device,
               rec.coordinates.latitude AS latitude,
               rec.coordinates.longitude AS longitude,
               map_extract(rec.readings, 'temperature')[1].v AS temperature_value,
               map_extract(rec.readings, 'temperature')[1].u AS temperature_unit,
               map_extract(rec.readings, 'signal')[1].v AS signal_value,
               map_extract(rec.readings, 'signal')[1].u AS signal_unit
        FROM nested
    """,
    doc=(
        "P1: flatten nested→wide (iot-data-stream.py:322-341). Builds the "
        "reference's record shape (struct coordinates + map readings) and "
        "projects every leaf into a flat column — Catalyst collapses the "
        "construct-then-extract into direct column references."
    ),
    tags=("nested", "flatten"),
)
def nested_flatten_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    rec = F.struct(
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("device"),
        F.struct(
            (F.col("user_id").cast("double") / 10.0).alias("latitude"),
            F.col("value").alias("longitude"),
        ).alias("coordinates"),
        F.create_map(
            F.lit("temperature"),
            F.struct(F.col("value").alias("v"), F.lit("C").alias("u")),
            F.lit("signal"),
            F.struct(F.col("user_id").cast("double").alias("v"), F.lit("dB").alias("u")),
        ).alias("readings"),
    )
    nested = (
        t.events.filter((F.col("user_id") <= 10) & F.col("value").isNotNull())
        .select("event_id", rec.alias("rec"))
    )
    return nested.select(
        "event_id",
        F.col("rec.device").alias("device"),
        F.col("rec.coordinates.latitude").alias("latitude"),
        F.col("rec.coordinates.longitude").alias("longitude"),
        F.element_at(F.col("rec.readings"), "temperature").getField("v").alias("temperature_value"),
        F.element_at(F.col("rec.readings"), "temperature").getField("u").alias("temperature_unit"),
        F.element_at(F.col("rec.readings"), "signal").getField("v").alias("signal_value"),
        F.element_at(F.col("rec.readings"), "signal").getField("u").alias("signal_unit"),
    )


@register(
    "nested_extract_sparse_map",
    oracle="""
        WITH nested AS (
            SELECT event_id, event_type,
                   CASE WHEN event_type IN ('click', 'view')
                        THEN MAP {'temperature': struct_pack(v := value, u := 'C')}
                        ELSE MAP {'pressure': struct_pack(v := value, u := 'hPa')}
                   END AS readings
            FROM events WHERE user_id <= 10 AND value IS NOT NULL
        )
        SELECT event_id, event_type,
               map_extract(readings, 'temperature')[1].v AS temperature,
               map_extract(readings, 'pressure')[1].v AS pressure,
               CAST(len(map_keys(readings)) AS INT) AS n_sensors
        FROM nested
    """,
    doc=(
        "P2: null-safe extraction from a SPARSE map — key sets vary per "
        "row (the reference's 4-6-sensors-per-device regime, "
        "iot-data-stream.py:234-236); missing keys yield NULL exactly as "
        "the dashboard's .get() does (iot_dashboard.py:117-130)."
    ),
    tags=("nested", "extract"),
)
def nested_extract_sparse_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    temp_map = F.create_map(
        F.lit("temperature"), F.struct(F.col("value").alias("v"), F.lit("C").alias("u"))
    )
    pres_map = F.create_map(
        F.lit("pressure"), F.struct(F.col("value").alias("v"), F.lit("hPa").alias("u"))
    )
    nested = (
        t.events.filter((F.col("user_id") <= 10) & F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.when(F.col("event_type").isin("click", "view"), temp_map)
            .otherwise(pres_map)
            .alias("readings"),
        )
    )
    return nested.select(
        "event_id",
        "event_type",
        F.element_at("readings", F.lit("temperature")).getField("v").alias("temperature"),
        F.element_at("readings", F.lit("pressure")).getField("v").alias("pressure"),
        F.size(F.map_keys("readings")).alias("n_sensors"),
    )


@register(
    "dashboard_all_null_guard",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_rows,
               COUNT(value) AS n_present,
               COUNT(value) = 0 AS all_null
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc=(
        "P5: the dashboard's skip-plot-if-all-null predicate "
        "(iot_dashboard.py:156) as an aggregate — COUNT(col) ignores "
        "nulls in both engines."
    ),
    tags=("dashboard", "guard"),
)
def dashboard_all_null_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("value").alias("n_present"),
            (F.count("value") == 0).alias("all_null"),
        )
        .orderBy("event_type")
    )


def ensure_column(df: DataFrame, name: str, default: Column) -> DataFrame:
    """P6: schema-introspection guard — add ``name`` with ``default`` if
    the column is absent (iot_dashboard.py:77-81)."""
    return df if name in df.columns else df.withColumn(name, default)


@register(
    "dashboard_column_guard",
    oracle="""
        SELECT event_id, user_id, 'unknown_device' AS device_id
        FROM events WHERE user_id <= 5
    """,
    doc=(
        "P6: column-existence guard — events has no device_id, so "
        "ensure_column injects the reference's default "
        "(iot_dashboard.py:80-81). The guard itself is schema "
        "introspection, resolved at plan time."
    ),
    tags=("dashboard", "guard"),
)
def dashboard_column_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    df = t.events.filter(F.col("user_id") <= 5).select("event_id", "user_id")
    df = ensure_column(df, "device_id", F.lit("unknown_device"))
    df = ensure_column(df, "user_id", F.lit(-1))  # no-op: column exists
    return df


@register(
    "dashboard_cached_status_counts",
    oracle="""
        SELECT event_type, COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "S8: the dashboard's cached scan (iot_dashboard.py:45) as a lazy "
        "plan. The query persists nothing: the caller owns the result "
        "cache (cache.TTLCache.get_or_build, the st.cache_data(ttl=60) "
        "twin), so repeated dashboard interactions reuse one "
        "materialized aggregate until its TTL expires."
    ),
    tags=("dashboard", "cache"),
)
def dashboard_cached_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "dq_constraint_report",
    oracle="""
        SELECT 'orders_pk_unique' AS constraint_name,
               CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT)
                   AS n_violations
        UNION ALL
        SELECT 'orders_custkey_fk',
               CAST((SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
                     (SELECT c_custkey FROM customer)) AS BIGINT)
        UNION ALL
        SELECT 'lineitem_shipdate_not_null',
               CAST((SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL) AS BIGINT)
        UNION ALL
        SELECT 'lineitem_discount_domain',
               CAST((SELECT COUNT(*) FROM lineitem
                     WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
        UNION ALL
        SELECT 'customer_acctbal_non_negative',
               CAST((SELECT COUNT(*) FROM customer WHERE c_acctbal < 0) AS BIGINT)
        ORDER BY constraint_name
    """,
    doc=(
        "Data-quality constraint report (the dbt-test / Deequ pattern): "
        "primary-key uniqueness, referential integrity (anti join), "
        "non-null, and domain constraints, each as a violation count in "
        "one result frame. The acctbal rule genuinely fires in the test "
        "data (negative balances exist) so the report is non-vacuous. "
        "Each check is a scan-local aggregate or broadcast anti join — "
        "at 100 TB the whole report is one pass per table."
    ),
    tags=("quality", "dashboard"),
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    checks = [
        (
            "orders_pk_unique",
            t.orders.agg(
                (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n")
            ),
        ),
        (
            "orders_custkey_fk",
            t.orders.join(
                t.customer.select(F.col("c_custkey").alias("fk")),
                F.col("o_custkey") == F.col("fk"),
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("n")),
        ),
        (
            "lineitem_shipdate_not_null",
            t.lineitem.filter(F.col("l_shipdate").isNull()).agg(
                F.count(F.lit(1)).alias("n")
            ),
        ),
        (
            "lineitem_discount_domain",
            t.lineitem.filter(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
            ).agg(F.count(F.lit(1)).alias("n")),
        ),
        (
            "customer_acctbal_non_negative",
            t.customer.filter(F.col("c_acctbal") < 0).agg(
                F.count(F.lit(1)).alias("n")
            ),
        ),
    ]
    out = None
    for name, df in checks:
        row = df.select(
            F.lit(name).alias("constraint_name"),
            F.col("n").cast("bigint").alias("n_violations"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("constraint_name")


_LTTB_N = 100  # output points per series


def _lttb_downsample(pdf, n_out: int = _LTTB_N):
    """Largest-Triangle-Three-Buckets on one series (pandas, per key).

    Keeps the first and last points; buckets the interior and keeps,
    per bucket, the point forming the largest triangle with the
    previously kept point and the NEXT bucket's centroid — the
    standard shape-preserving decimation for plotting large series.
    Deterministic: ties resolve to the earliest point, and the
    centroid means use an explicit LEFT-TO-RIGHT fold (numpy's
    pairwise summation is order-unstable across block sizes, which
    would make the r4 DuckDB oracle unreplayable).
    """
    import numpy as np

    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    n = len(pdf)
    if n <= n_out:
        return pdf
    x = pdf["ts"].astype("int64").to_numpy(dtype="float64")
    y = pdf["value"].to_numpy(dtype="float64")
    # bucket boundaries over the interior points [1, n-1)
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)

    def _seq_mean(a) -> float:
        s = 0.0
        for v in a.tolist():
            s += v
        return s / len(a)

    keep = [0]
    prev = 0
    for b in range(n_out - 2):
        lo, hi = edges[b], edges[b + 1]
        nlo, nhi = (edges[b + 1], edges[b + 2]) if b + 2 < len(edges) else (n - 1, n)
        ax, ay = _seq_mean(x[nlo:nhi]), _seq_mean(y[nlo:nhi])
        area = np.abs(
            (x[prev] - ax) * (y[lo:hi] - y[prev]) - (x[prev] - x[lo:hi]) * (ay - y[prev])
        )
        prev = int(lo + np.argmax(area))  # argmax: first maximal index (det.)
        keep.append(prev)
    keep.append(n - 1)
    return pdf.iloc[keep]


def _lttb_oracle() -> str:
    """Exact DuckDB twin of ``dashboard_lttb_downsample`` (r4: was
    rows-only). Every step of the per-series selection replays: the
    np.linspace bucket edges (k*step+1 in float64, truncated, last
    edge pinned to n-1), the left-to-right centroid means (ordered
    list folds), the triangle areas in the identical IEEE order, and
    np.argmax's exact tie/NaN policy — first NaN wins outright, else
    greatest area with first-index ties (NOT EXISTS with an
    isnan-stratified better-than predicate, since DuckDB orders NaN
    ABOVE all values while numpy's scan never lets a later NaN lose).
    The sequential pick chain is a 98-step recursion per series."""
    area1 = "abs((w.xp - c.ax) * (p1.yv - w.yp) - (w.xp - p1.xv) * (c.ay - w.yp))"
    area2 = "abs((w.xp - c.ax) * (p2.yv - w.yp) - (w.xp - p2.xv) * (c.ay - w.yp))"
    nb = _LTTB_N - 1  # 99 edges, 98 interior buckets
    return f"""
        WITH RECURSIVE
        base AS MATERIALIZED (
            SELECT event_type, event_id, ts,
                   COALESCE(value, 'NaN'::DOUBLE) AS yv,
                   CAST(epoch_ns(ts) AS DOUBLE) AS xv,
                   row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS idx
            FROM events
        ),
        meta AS MATERIALIZED (
            SELECT event_type, COUNT(*) AS n FROM base GROUP BY event_type
        ),
        edges AS MATERIALIZED (
            SELECT m.event_type, k.k,
                   CASE WHEN k.k = {nb - 1} THEN m.n - 1
                        ELSE CAST(trunc(k.k * ((m.n - 2) / {nb - 1}.0) + 1) AS BIGINT) END AS e
            FROM meta m CROSS JOIN range(0, {nb}) k(k)
            WHERE m.n > {_LTTB_N}
        ),
        bk AS MATERIALIZED (
            SELECT b.event_type, CAST(b.k AS INT) AS b, b.e AS lo, h.e AS hi,
                   CASE WHEN b.k + 2 <= {nb - 1} THEN h.e ELSE m.n - 1 END AS nlo,
                   CASE WHEN b.k + 2 <= {nb - 1} THEN n2.e ELSE m.n END AS nhi
            FROM edges b
            JOIN edges h ON h.event_type = b.event_type AND h.k = b.k + 1
            LEFT JOIN edges n2 ON n2.event_type = b.event_type AND n2.k = b.k + 2
            JOIN meta m ON m.event_type = b.event_type
            WHERE b.k <= {nb - 2}
        ),
        cent AS MATERIALIZED (
            SELECT bk.event_type, bk.b, bk.lo, bk.hi,
                   list_reduce(list_prepend(0e0, list(p.xv ORDER BY p.idx)),
                               (a, v) -> a + v) / (bk.nhi - bk.nlo) AS ax,
                   list_reduce(list_prepend(0e0, list(p.yv ORDER BY p.idx)),
                               (a, v) -> a + v) / (bk.nhi - bk.nlo) AS ay
            FROM bk JOIN base p
              ON p.event_type = bk.event_type AND p.idx >= bk.nlo AND p.idx < bk.nhi
            GROUP BY bk.event_type, bk.b, bk.lo, bk.hi, bk.nhi, bk.nlo
        ),
        walk AS (
            SELECT b0.event_type, -1 AS b, 0::BIGINT AS prev, b0.xv AS xp, b0.yv AS yp
            FROM base b0 JOIN meta m ON m.event_type = b0.event_type
            WHERE b0.idx = 0 AND m.n > {_LTTB_N}
            UNION ALL
            SELECT w.event_type, c.b, p1.idx, p1.xv, p1.yv
            FROM walk w
            JOIN cent c ON c.event_type = w.event_type AND c.b = w.b + 1
            JOIN base p1
              ON p1.event_type = w.event_type AND p1.idx >= c.lo AND p1.idx < c.hi
            WHERE NOT EXISTS (
                SELECT 1 FROM base p2
                WHERE p2.event_type = w.event_type
                  AND p2.idx >= c.lo AND p2.idx < c.hi
                  AND (
                    (isnan({area2}) AND NOT isnan({area1}))
                    OR (isnan({area2}) = isnan({area1})
                        AND ({area2} > {area1}
                             OR ({area2} = {area1} AND p2.idx < p1.idx)))
                  )
            )
        ),
        kept AS (
            SELECT event_type, prev AS idx FROM walk
            UNION ALL
            SELECT event_type, n - 1 FROM meta WHERE n > {_LTTB_N}
            UNION ALL
            SELECT b.event_type, b.idx
            FROM base b JOIN meta m ON m.event_type = b.event_type
            WHERE m.n <= {_LTTB_N}
        )
        SELECT b.event_type, b.event_id, b.ts, b.yv AS value
        FROM kept k JOIN base b ON b.event_type = k.event_type AND b.idx = k.idx
    """


@register(
    "dashboard_lttb_downsample",
    oracle=_lttb_oracle(),  # + invariants in pytest
    doc=(
        "Shape-preserving time-series decimation (largest-triangle-"
        f"three-buckets) to {_LTTB_N} points per series — what a "
        "dashboard must do before plotting a 100 TB series (the "
        "reference plots raw rows, viable only at its 500-row scan "
        "cap). Selection is sequential WITHIN a series (each kept "
        "point depends on the previous) and parallel ACROSS series "
        "via applyInPandas on the series key — the packer/stateful-"
        "walk pattern again. pytest asserts point count, endpoint "
        "preservation, output-is-subset-of-input, and determinism."
    ),
    tags=("analytics", "dashboard", "timeseries"),
)
def dashboard_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    e = t.events.select("event_type", "event_id", "ts", "value")
    return e.groupBy("event_type").applyInPandas(
        lambda pdf: _lttb_downsample(pdf)[["event_type", "event_id", "ts", "value"]],
        "event_type string, event_id bigint, ts timestamp, value double",
    )


@register(
    "dashboard_day_over_day",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   COUNT(*) AS n_events
            FROM events GROUP BY day, event_type
        )
        SELECT day, event_type, n_events,
               lag(n_events) OVER (PARTITION BY event_type ORDER BY day)
                   AS prev_day,
               CAST(n_events AS DOUBLE) /
                   lag(n_events) OVER (PARTITION BY event_type ORDER BY day) - 1.0
                   AS dod_change
        FROM daily
    """,
    doc=(
        "Day-over-day movement per event type: daily counts, previous "
        "day via lag, relative change as ONE division of exact "
        "integers (hash-safe; first day yields NULL, as SQL semantics "
        "dictate). The lag window runs on the day-grain rollup — "
        "365 x |types| rows per year regardless of event volume — so "
        "the dashboard query costs one fact aggregate plus metadata-"
        "scale window work."
    ),
    tags=("analytics", "dashboard", "window"),
)
def dashboard_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    daily = (
        t.events.groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    prev = F.lag("n_events").over(w)
    return daily.select(
        "day",
        "event_type",
        "n_events",
        prev.alias("prev_day"),
        (F.col("n_events").cast("double") / prev - 1.0).alias("dod_change"),
    )


@register(
    "dashboard_heatmap_hour_dow",
    oracle="""
        SELECT CAST(dayofweek(CAST(date_trunc('day', ts) AS DATE)) AS INTEGER) AS dow,
               CAST(hour(ts) AS INTEGER) AS hour,
               COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY 1, 2
    """,
    doc=(
        "Hour-of-day x day-of-week activity heatmap — the dashboard "
        "staple for spotting diurnal/weekly cycles. 168 output cells "
        "regardless of input size, one shuffle. Cross-engine trap "
        "handled explicitly: Spark's dayofweek() is 1-based "
        "(1=Sunday) while DuckDB's is 0-based (0=Sunday), so the "
        "Spark side subtracts 1 to emit the 0=Sunday convention."
    ),
    tags=("dashboard", "agg", "timeseries"),
)
def dashboard_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "dq_freshness_lag_monitor",
    oracle="""
        WITH per_type AS (
            SELECT event_type,
                   MAX(ts) AS latest_ts,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type
        ),
        g_latest AS (SELECT MAX(ts) AS global_latest FROM events)
        SELECT event_type, latest_ts,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(date_diff('second', latest_ts, global_latest) AS BIGINT)
                   AS staleness_s,
               date_diff('second', latest_ts, global_latest) > 86400 AS is_stale
        FROM per_type CROSS JOIN g_latest
    """,
    doc=(
        "Pipeline freshness SLA monitor: each feed's (event_type's) "
        "latest event vs the globally freshest one, with a >24 h "
        "staleness flag — the first page of any ingestion dashboard; a "
        "feed that silently stops is caught by its growing lag, not by "
        "an error. One map-side-combined MAX per feed plus a 1-row "
        "global broadcast: metadata-scale everywhere, whatever the "
        "fact size."
    ),
    tags=("dashboard", "dq", "timeseries"),
)
def dq_freshness_lag_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    per_type = t.events.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    glob = t.events.agg(F.max("ts").alias("global_latest"))
    lag = F.unix_timestamp("global_latest") - F.unix_timestamp("latest_ts")
    return per_type.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "latest_ts",
        "n_events",
        lag.alias("staleness_s"),
        (lag > 86400).alias("is_stale"),
    )


@register(
    "dashboard_dataset_card",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
               CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
                   AS dup_rate,
               CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
                   AS avg_doc_tokens
        FROM documents
    """,
    doc=(
        "Dataset card in one row: corpus size, token & char mass, "
        "language/source diversity, exact-duplicate rate, mean doc "
        "length — the summary block published with every training-data "
        "release. One scan; the distinct counts expand-rewrite into a "
        "single shuffle round; every output is integers or one "
        "division of integers, so the card is hash-exact. At 100 TB "
        "the same query runs with approx_count_distinct swapped in "
        "where 2% error is acceptable (see sketch_approx_count_"
        "distinct) — the exact form here doubles as its accuracy "
        "oracle."
    ),
    tags=("dashboard", "llm", "agg"),
)
def dashboard_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    n_tokens = F.sum(F.size(F.split("text", " ")))
    n_dist = F.countDistinct(F.md5("text"))
    return t.documents.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        n_dist.cast("bigint").alias("n_unique_texts"),
        (
            (F.count(F.lit(1)) - n_dist).cast("double") / F.count(F.lit(1))
        ).alias("dup_rate"),
        (n_tokens.cast("double") / F.count(F.lit(1))).alias("avg_doc_tokens"),
    )


@register(
    "dq_key_skew_profile",
    oracle="""
        WITH c AS (
            SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
        ),
        t AS (
            SELECT CAST(SUM(n) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS nk
            FROM c
        )
        SELECT c.user_id,
               CAST(c.n AS BIGINT) AS n_events,
               CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE)
                   * CAST(100 AS DOUBLE) AS share_pct,
               CAST(c.n AS DOUBLE) * CAST(t.nk AS DOUBLE)
                   / CAST(t.total AS DOUBLE) AS skew_x_avg
        FROM c, t
        ORDER BY c.n DESC, c.user_id
        LIMIT 10
    """,
    doc=(
        "Shuffle-skew audit: the 10 heaviest join/group keys with their "
        "share of total rows and their multiple of the average key "
        "load — the report a pipeline runs BEFORE a big keyed join to "
        "decide between a plain shuffle, broadcast, or the salted plan "
        "(join_salted_skew_segments). One aggregation over the fact "
        "table, then window totals + top-k on the keys-sized result "
        "(TakeOrderedAndProject; never a global sort of raw data). "
        "Ratios are single divisions of exact integer counts in a "
        "pinned operation order, so the profile is hash-exact."
    ),
    tags=("dq", "agg", "window"),
)
def dq_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    counts = t.events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    everything = Window.partitionBy()  # frameless: one total per partition-all
    profiled = counts.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.sum("n").over(everything).alias("total"),
        F.count(F.lit(1)).over(everything).alias("nk"),
    ).select(
        "user_id",
        "n_events",
        F.expr(
            "CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) * CAST(100 AS DOUBLE)"
        ).alias("share_pct"),
        F.expr(
            "CAST(n_events AS DOUBLE) * CAST(nk AS DOUBLE) / CAST(total AS DOUBLE)"
        ).alias("skew_x_avg"),
    )
    return profiled.orderBy(F.col("n_events").desc(), "user_id").limit(10)


@register(
    "dashboard_topn_with_others",
    oracle="""
        WITH rev AS (
            SELECT n_name, SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS r
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        ),
        ranked AS (
            SELECT n_name, r,
                   ROW_NUMBER() OVER (ORDER BY r DESC, n_name) AS rk
            FROM rev
        )
        SELECT CASE WHEN rk <= 5 THEN n_name ELSE 'Other' END AS bucket,
               CAST(CAST(SUM(r) AS VARCHAR) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM ranked
        GROUP BY bucket
    """,
    doc=(
        "The classic dashboard pie/bar shape: revenue by nation, top 5 "
        "named, everything else collapsed into one 'Other' bucket. "
        "Decimal revenue sums are exact and associative, so the "
        "re-aggregation of the non-top rows is lossless and the final "
        "DOUBLE cast hash-matches the oracle. The ranking window runs "
        "on the already-aggregated nations-sized table (metadata "
        "scale), never on the fact table — the plan is one fact "
        "shuffle for the group-by, then driver-trivial work; at 100 TB "
        "only the first aggregation grows."
    ),
    tags=("dashboard", "agg", "window"),
)
def dashboard_topn_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ._helpers import dsum

    t = Tables(spark, sf_dir)
    rev = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum("o_totalprice").alias("r"))
    )
    ranked = rev.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy().orderBy(F.col("r").desc(), "n_name")),
    )
    return (
        ranked.select(
            F.when(F.col("rk") <= 5, F.col("n_name")).otherwise("Other").alias("bucket"),
            "r",
        )
        .groupBy("bucket")
        .agg(
            F.expr("CAST(SUM(r) AS DOUBLE)").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        )
    )


#: shared z-score closed form over identically-cast double window sums
_RC_Z = (
    "CASE WHEN cd = 7.0 AND (qd / cd - (sd / cd) * (sd / cd)) > 0.0 "
    "THEN (nd - sd / cd) / sqrt(qd / cd - (sd / cd) * (sd / cd)) "
    "ELSE NULL END"
)


@register(
    "dq_rowcount_trend_monitor",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY event_type, d
        ),
        win AS (
            SELECT event_type, d, n,
                   CAST(n AS DOUBLE) AS nd,
                   CAST(SUM(n) OVER w AS DOUBLE) AS sd,
                   CAST(SUM(n * n) OVER w AS DOUBLE) AS qd,
                   CAST(COUNT(*) OVER w AS DOUBLE) AS cd
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, d AS day, n AS n_events,
               {_RC_Z} AS z_score
        FROM win
    """,
    doc=(
        "Pipeline-health monitor: each day's ingest row count per feed "
        "scored against its own trailing week (mean/std from integer "
        "window power sums over the 7 preceding days, current day "
        "excluded) — the data-volume anomaly check every production "
        "ingest runs to catch silent upstream drops or duplicate "
        "replays before they poison downstream tables. The windowed "
        "table is days × feeds (metadata scale after one map-combined "
        "rollup shuffle); the z closed form runs on identically-cast "
        "doubles from exact integer sums, so scores are hash-exact. "
        "Days without a full trailing week score NULL on both engines."
    ),
    tags=("dq", "window", "timeseries", "anomaly"),
)
def dq_rowcount_trend_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type", F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = W.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    win = daily.select(
        "event_type",
        "d",
        "n",
        F.col("n").cast("double").alias("nd"),
        F.sum("n").over(w).cast("double").alias("sd"),
        F.sum(F.expr("n * n")).over(w).cast("double").alias("qd"),
        F.count(F.lit(1)).over(w).cast("double").alias("cd"),
    )
    return win.select(
        "event_type",
        F.col("d").alias("day"),
        F.col("n").alias("n_events"),
        F.expr(_RC_Z).alias("z_score"),
    )


@register(
    "dashboard_share_of_parent",
    oracle="""
        WITH leaf AS (
            SELECT r_name AS region, n_name AS nation,
                   SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS rev_dec
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        ),
        shared AS (
            SELECT region, nation, rev_dec,
                   SUM(rev_dec) OVER (PARTITION BY region) AS region_dec,
                   SUM(rev_dec) OVER () AS grand_dec
            FROM leaf
        )
        SELECT region, nation,
               CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
               CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(region_dec AS VARCHAR) AS DOUBLE) AS share_of_region,
               CAST(CAST(region_dec AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(grand_dec AS VARCHAR) AS DOUBLE) AS region_share_of_total
        FROM shared
    """,
    doc=(
        "Hierarchical share-of-parent rollup (nation within region, "
        "region within total): one decimal-exact leaf aggregation, then "
        "two frameless windows over the nation-grain result. The window "
        "input is dimension-sized (<=25 rows) at ANY fact scale, so the "
        "unpartitioned grand-total window is metadata work, not a "
        "single-reducer bottleneck. The windows sum the DECIMAL leaf "
        "values (frameless-window accumulation order is engine-"
        "arbitrary, so double window sums would not reproduce); doubles "
        "appear only in the final ratios."
    ),
    tags=("dashboard", "window", "agg"),
)
def dashboard_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    leaf = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.expr("SUM(CAST(o_totalprice AS DECIMAL(38,8)))").alias("rev_dec"))
    )
    shared = leaf.select(
        "region",
        "nation",
        "rev_dec",
        F.sum("rev_dec").over(W.partitionBy("region")).alias("region_dec"),
        F.sum("rev_dec").over(W.partitionBy()).alias("grand_dec"),
    )
    return shared.select(
        "region",
        "nation",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.expr("CAST(rev_dec AS DOUBLE) / CAST(region_dec AS DOUBLE)").alias(
            "share_of_region"
        ),
        F.expr("CAST(region_dec AS DOUBLE) / CAST(grand_dec AS DOUBLE)").alias(
            "region_share_of_total"
        ),
    )


_KANON_K = 5


@register(
    "dq_k_anonymity_audit",
    oracle=f"""
        WITH classes AS (
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
            FROM customer GROUP BY c_nationkey, c_mktsegment
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_small_classes,
               CAST(MIN(class_size) AS BIGINT) AS min_class_size,
               CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN class_size ELSE 0 END) AS BIGINT)
                 AS n_rows_at_risk,
               CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN class_size ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(class_size) AS DOUBLE) AS frac_rows_at_risk
        FROM classes
    """,
    doc=(
        "k-anonymity audit over the (nationkey, mktsegment) quasi-"
        "identifier: equivalence-class sizes in one map-side-combined "
        "groupBy, then a one-row release-gate report — how many classes "
        "fall below k=5, the minimum class size, and the fraction of "
        "rows re-identifiable through small classes. The standard "
        "pre-release privacy check on any user-grain extract; integer "
        "counts end-to-end with one final double ratio."
    ),
    tags=("dq", "privacy", "agg"),
)
def dq_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    classes = t.customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    k = _KANON_K
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.expr(
            f"CAST(SUM(CASE WHEN class_size < {k} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_small_classes"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.expr(
            f"CAST(SUM(CASE WHEN class_size < {k} THEN class_size ELSE 0 END) AS BIGINT)"
        ).alias("n_rows_at_risk"),
        F.expr(
            f"CAST(SUM(CASE WHEN class_size < {k} THEN class_size ELSE 0 END) AS DOUBLE)"
            " / CAST(SUM(class_size) AS DOUBLE)"
        ).alias("frac_rows_at_risk"),
    )


#: two-sided-geometric (discrete Laplace) inverse-CDF thresholds for
#: epsilon=1 (alpha = e^-1), support ordered 0,+1,-1,...,+6,-6, scaled
#: to 1e6 — noise is drawn by EXACT integer comparison, no engine libm.
#: The residual 0.13% tail maps to +7 (a truncated mechanism variant).
_DP_THRESHOLDS = (
    (0, 462117), (1, 632121), (-1, 802124), (2, 864665), (-2, 927205),
    (3, 950213), (-3, 973220), (4, 981684), (-4, 990148), (5, 993262),
    (-5, 996376), (6, 997521), (-6, 998667),
)


def _dp_noise_case(h: str) -> str:
    branches = " ".join(
        f"WHEN ({h}) < {t} THEN {v}" for v, t in _DP_THRESHOLDS
    )
    return f"CASE {branches} ELSE 7 END"


_DP_H_SPARK = (
    "CAST(conv(substr(md5('dp:' || event_type), 1, 14), 16, 10) AS BIGINT)"
    " % 1000000"
)
_DP_H_DUCK = (
    "CAST(('0x' || substr(md5('dp:' || event_type), 1, 14)) AS BIGINT)"
    " % 1000000"
)


@register(
    "dq_dp_noisy_counts",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) + {_dp_noise_case(_DP_H_DUCK)} AS BIGINT)
                 AS noisy_count
        FROM events
        GROUP BY event_type
    """,
    doc=(
        "DETERMINISTIC SIMULATION of the two-sided-geometric (discrete "
        "Laplace) noise mechanism used for epsilon=1 DP count releases: "
        "noise is drawn by comparing an md5 slice of the release key "
        "against fixed integer inverse-CDF thresholds — the same exact-"
        "integer construction as the Poisson bootstrap, so the draw is "
        "bit-identical on every engine and oracle-able. NOT actual "
        "differential privacy: the 'noise' here is a public function of "
        "the released group key, so anyone can recompute and subtract "
        "it (DP requires randomness kept secret from the adversary). A "
        "real deployment derives the hash from a secret per-release "
        "seed held outside the published artifact; this operator "
        "demonstrates the mechanism's plan shape (noise as a per-group "
        "scalar expression over a map-side-combined aggregation) with "
        "a test-harness-determinism stand-in for the secret draw."
    ),
    tags=("dq", "privacy", "agg"),
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.events.groupBy("event_type").agg(
        F.expr(
            f"CAST(COUNT(1) + {_dp_noise_case(_DP_H_SPARK)} AS BIGINT)"
        ).alias("noisy_count")
    )


@register(
    "geo_grid_hotspots",
    oracle="""
        WITH coords AS (
            SELECT event_id,
                   ((user_id * 7919) % 18000
                     + (event_id % 21)) % 18000 - 9000 AS lat_centi,
                   ((user_id * 104729) % 36000
                     + (event_id % 17)) % 36000 - 18000 AS lon_centi
            FROM events
        ),
        cells AS (
            SELECT CAST(floor(lat_centi / 100.0) AS BIGINT) AS cell_lat,
                   CAST(floor(lon_centi / 100.0) AS BIGINT) AS cell_lon,
                   COUNT(*) AS n_events
            FROM coords
            GROUP BY 1, 2
        )
        SELECT cell_lat, cell_lon, n_events
        FROM cells
        ORDER BY n_events DESC, cell_lat, cell_lon
        LIMIT 15
    """,
    doc=(
        "Geospatial grid-cell hotspot rollup — the reference's "
        "coordinate model (station base + per-reading jitter, "
        "iot-data-stream.py:139-257) re-derived deterministically from "
        "(user_id, event_id) in centidegrees, binned into 1-degree "
        "cells, top-15 by density. All coordinate arithmetic is "
        "integer; the float appears only inside floor(x/100.0), which "
        "is exact (centidegree magnitudes are far below 2^53). The "
        "grid-cell bin is the scalable first stage of every spatial "
        "pipeline: density maps, geofence joins, and DBSCAN-style "
        "clustering all start from this |cells|-bounded rollup."
    ),
    tags=("dashboard", "geo", "agg", "topk"),
)
def geo_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    coords = t.events.select(
        F.expr(
            "((user_id * 7919) % 18000 + (event_id % 21)) % 18000 - 9000"
        ).alias("lat_centi"),
        F.expr(
            "((user_id * 104729) % 36000 + (event_id % 17)) % 36000 - 18000"
        ).alias("lon_centi"),
    )
    return (
        coords.groupBy(
            F.expr("CAST(floor(lat_centi / 100.0) AS BIGINT)").alias("cell_lat"),
            F.expr("CAST(floor(lon_centi / 100.0) AS BIGINT)").alias("cell_lon"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), "cell_lat", "cell_lon")
        .limit(15)
    )


@register(
    "dq_interarrival_profile",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   CAST(datediff('second',
                        lag(ts) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id),
                        ts) AS BIGINT) AS gap_s
            FROM events
        ),
        ranked AS (
            SELECT event_type, gap_s,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY gap_s, event_type) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM gaps WHERE gap_s IS NOT NULL
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_gaps,
               MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                        THEN gap_s END) AS p50_gap_s,
               MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                        THEN gap_s END) AS p95_gap_s,
               MAX(gap_s) AS max_gap_s
        FROM ranked
        GROUP BY event_type
    """,
    doc=(
        "Arrival-rate health profile: per event type, the p50/p95/max "
        "inter-arrival gap in whole seconds — the monitor that catches "
        "a stalled producer (p95 blows up) or a runaway one (p50 "
        "collapses) before volume alarms fire. One lag() per type "
        "partition, integer gaps, exact rank-based discrete "
        "percentiles (the winsorize construction — no approx sketch, "
        "no float percentile semantics to disagree on)."
    ),
    tags=("dq", "window", "timeseries"),
)
def dq_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    gaps = t.events.select(
        "event_type",
        F.expr(
            "CAST(unix_timestamp(ts) - unix_timestamp(lag(ts) OVER "
            "(PARTITION BY event_type ORDER BY ts, event_id)) AS BIGINT)"
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    ranked = gaps.select(
        "event_type",
        "gap_s",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("gap_s", "event_type"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.max(
            F.expr("CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN gap_s END")
        ).alias("p50_gap_s"),
        F.max(
            F.expr("CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN gap_s END")
        ).alias("p95_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


def profile_table(df: DataFrame) -> DataFrame:
    """Generic one-pass column profiler: per column — null count,
    distinct count, and numeric min/max (NULL for non-numeric types).
    The per-column expressions are built by a METADATA
    loop over df.schema (driver-side codegen, not a data loop); the
    data is scanned once for the wide agg row, which then unpivots to
    the long profile."""
    num_types = {"int", "bigint", "double", "float", "smallint", "tinyint", "decimal"}
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for f in df.schema.fields:
        c = f.name
        is_num = f.dataType.simpleString().split("(")[0] in num_types
        aggs.append(F.count(F.col(c)).alias(f"{c}__nn"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__nd"))
        if is_num:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"{c}__mn"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"{c}__mx"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__mn"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__mx"))
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"'{f.name}', '{f.dataType.simpleString()}', "
        f"`{f.name}__nn`, `{f.name}__nd`, `{f.name}__mn`, `{f.name}__mx`"
        for f in df.schema.fields
    )
    n_cols = len(df.schema.fields)
    return wide.selectExpr(
        "__n_rows AS n_rows",
        f"stack({n_cols}, {stack}) AS "
        "(column_name, data_type, n_present, n_distinct, min_num, max_num)",
    ).select(
        "column_name",
        "data_type",
        "n_rows",
        (F.col("n_rows") - F.col("n_present")).cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "min_num",
        "max_num",
    )


@register(
    "dq_column_profile",
    oracle="""
        WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
        SELECT * FROM (
            SELECT 'o_orderkey' AS column_name, 'bigint' AS data_type, n_rows,
                   n_rows - COUNT(o_orderkey) AS n_nulls,
                   COUNT(DISTINCT o_orderkey) AS n_distinct,
                   CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
                   CAST(MAX(o_orderkey) AS DOUBLE) AS max_num
            FROM orders, n GROUP BY n_rows
            UNION ALL
            SELECT 'o_custkey', 'bigint', n_rows,
                   n_rows - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
                   CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
            FROM orders, n GROUP BY n_rows
            UNION ALL
            SELECT 'o_orderstatus', 'string', n_rows,
                   n_rows - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM orders, n GROUP BY n_rows
            UNION ALL
            SELECT 'o_totalprice', 'double', n_rows,
                   n_rows - COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
                   MIN(o_totalprice), MAX(o_totalprice)
            FROM orders, n GROUP BY n_rows
            UNION ALL
            SELECT 'o_orderdate', 'timestamp', n_rows,
                   n_rows - COUNT(o_orderdate), COUNT(DISTINCT o_orderdate),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM orders, n GROUP BY n_rows
            UNION ALL
            SELECT 'o_orderpriority', 'string', n_rows,
                   n_rows - COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM orders, n GROUP BY n_rows
        )
    """,
    doc=(
        "Generic table profiler applied to orders: per column — nulls, "
        "distincts, numeric min/max — computed in ONE scan by a "
        "metadata loop that code-generates the wide aggregation row, "
        "then stack()-unpivoted to the long profile. The first thing "
        "an engine runs against an unfamiliar 100 TB table; the "
        "distinct counts swap to approx_count_distinct at scale "
        "(documented, sketch family already present)."
    ),
    tags=("dq", "profile", "agg"),
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return profile_table(t.orders)


@register(
    "dashboard_rate_volume_decomposition",
    oracle="""
        WITH monthly AS (
            SELECT o_orderpriority AS segment,
                   CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                        THEN 'base' ELSE 'curr' END AS period,
                   COUNT(*) AS q,
                   SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS r
            FROM orders
            WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
            GROUP BY 1, 2
        ),
        wide AS (
            SELECT segment,
                   CAST(MAX(CASE WHEN period = 'base' THEN q END) AS BIGINT) AS q0,
                   CAST(MAX(CASE WHEN period = 'curr' THEN q END) AS BIGINT) AS q1,
                   CAST(CAST(MAX(CASE WHEN period = 'base' THEN r END) AS VARCHAR) AS DOUBLE) AS r0,
                   CAST(CAST(MAX(CASE WHEN period = 'curr' THEN r END) AS VARCHAR) AS DOUBLE) AS r1
            FROM monthly GROUP BY segment
        ),
        rates AS (
            SELECT segment, q0, q1, r0, r1,
                   r0 / CAST(q0 AS DOUBLE) AS p0,
                   r1 / CAST(q1 AS DOUBLE) AS p1
            FROM wide
            WHERE q0 > 0 AND q1 > 0
        )
        SELECT segment, q0, q1, r0, r1,
               r1 - r0 AS delta_revenue,
               CAST(q1 - q0 AS DOUBLE) * p0 AS volume_effect,
               CAST(q0 AS DOUBLE) * (p1 - p0) AS rate_effect,
               CAST(q1 - q0 AS DOUBLE) * (p1 - p0) AS mix_effect
        FROM rates
    """,
    doc=(
        "Rate-volume(-mix) decomposition of revenue change per order "
        "priority between 1997 (base) and 1998+ (current): "
        "delta_R = dQ*P0 + Q0*dP + dQ*dP — the BI bridge that tells a "
        "revenue reviewer whether movement came from order COUNT or "
        "order VALUE. Counts are integers, revenues are decimal-exact "
        "until the shared double closed forms; the three effects sum "
        "to delta_revenue by construction (an auditor can check in the "
        "output). One scan, one segment-grain combine."
    ),
    tags=("dashboard", "agg", "bi"),
)
def dashboard_rate_volume_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    monthly = (
        t.orders.filter(F.expr("CAST(o_orderdate AS DATE) >= DATE '1997-01-01'"))
        .groupBy(
            F.col("o_orderpriority").alias("segment"),
            F.expr(
                "CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'"
                " THEN 'base' ELSE 'curr' END"
            ).alias("period"),
        )
        .agg(
            F.count(F.lit(1)).alias("q"),
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(38,8)))").alias("r"),
        )
    )
    wide = monthly.groupBy("segment").agg(
        F.expr("CAST(MAX(CASE WHEN period = 'base' THEN q END) AS BIGINT)").alias("q0"),
        F.expr("CAST(MAX(CASE WHEN period = 'curr' THEN q END) AS BIGINT)").alias("q1"),
        F.expr("CAST(MAX(CASE WHEN period = 'base' THEN r END) AS DOUBLE)").alias("r0"),
        F.expr("CAST(MAX(CASE WHEN period = 'curr' THEN r END) AS DOUBLE)").alias("r1"),
    )
    rates = wide.filter((F.col("q0") > 0) & (F.col("q1") > 0)).select(
        "segment",
        "q0",
        "q1",
        "r0",
        "r1",
        F.expr("r0 / CAST(q0 AS DOUBLE)").alias("p0"),
        F.expr("r1 / CAST(q1 AS DOUBLE)").alias("p1"),
    )
    return rates.select(
        "segment",
        "q0",
        "q1",
        "r0",
        "r1",
        F.expr("r1 - r0").alias("delta_revenue"),
        F.expr("CAST(q1 - q0 AS DOUBLE) * p0").alias("volume_effect"),
        F.expr("CAST(q0 AS DOUBLE) * (p1 - p0)").alias("rate_effect"),
        F.expr("CAST(q1 - q0 AS DOUBLE) * (p1 - p0)").alias("mix_effect"),
    )


@register(
    "metrics_layer_revenue_by_nation",
    oracle="""
        SELECT n_name AS nation,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n_orders,
               CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS aov
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    doc=(
        "The semantic metrics layer end-to-end (metrics.py): revenue, "
        "n_orders, and the DERIVED aov requested at the nation grain "
        "resolve to one fact scan + broadcast dim joins + a single "
        "aggregation, with the ratio projected post-agg. The same "
        "definitions answer any grain — pytest asserts roll-up "
        "consistency (per-nation revenues sum EXACTLY to the ungrouped "
        "total, which only holds because leaf aggregates accumulate in "
        "DECIMAL), the property that makes a metric trustworthy across "
        "dashboards."
    ),
    tags=("dashboard", "metrics", "agg"),
)
def metrics_layer_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..metrics import resolve

    return resolve(spark, sf_dir, ["revenue", "n_orders", "aov"], ["nation"])


#: Benford first-digit expectations log10(1 + 1/d), precomputed in Python
#: and embedded as literals in BOTH engines' SQL: java.lang.Math.log10 and
#: libm log10 are each correctly rounded here, but relying on two separate
#: runtimes to agree on transcendental ulps is not a contract — identical
#: literals are.
_BENFORD_P = {
    1: "0.3010299956639812", 2: "0.17609125905568124", 3: "0.12493873660829992",
    4: "0.09691001300805642", 5: "0.07918124604762482", 6: "0.06694678963061322",
    7: "0.05799194697768673", 8: "0.05115252244738129", 9: "0.04575749056067514",
}
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD_P.items()
) + " END"


@register(
    "dq_benford_first_digit",
    oracle=f"""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS INTEGER) AS digit
            FROM orders
        ),
        counts AS (
            SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
        ),
        tot AS (SELECT SUM(n) AS total FROM counts)
        SELECT digit,
               CAST(n AS BIGINT) AS n_orders,
               CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS observed_share,
               {_BENFORD_CASE} AS benford_share,
               CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - {_BENFORD_CASE}
                 AS deviation
        FROM counts, tot
    """,
    doc=(
        "Benford's-law first-digit audit of order values — the classic "
        "fraud/synthetic-data detector: naturally occurring multi-scale "
        "amounts follow P(d) = log10(1 + 1/d); uniform or fabricated "
        "values do not (this table's generator is uniform, and the "
        "audit SHOWS it: digit 1 lands far under 30.1%). First digit is "
        "extracted on the integer path (floor -> BIGINT -> first char, "
        "no float formatting); the nine expectations are Python-"
        "precomputed literals shared by both engines, so observed/"
        "expected/deviation are all one shared IEEE expression. One "
        "map-side-combined aggregate + a broadcast 1-row total."
    ),
    tags=("dq", "stats", "agg"),
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    digits = t.orders.select(
        F.expr(
            "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING),"
            " 1, 1) AS INT) AS digit"
        )
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    share = "CAST(n AS DOUBLE) / CAST(total AS DOUBLE)"
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("bigint").alias("n_orders"),
        F.expr(share).alias("observed_share"),
        F.expr(_BENFORD_CASE).alias("benford_share"),
        F.expr(f"{share} - {_BENFORD_CASE}").alias("deviation"),
    )


_DRIFT_COLS = ("user_id", "event_type", "value", "props")


@register(
    "dq_null_rate_drift",
    oracle=f"""
        WITH bounds AS (
            SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS tmid_us
            FROM events
        ),
        halves AS (
            SELECT CASE WHEN epoch_us(ts) < tmid_us THEN 1 ELSE 2 END AS half,
                   user_id, event_type, value, props
            FROM events, bounds
        )
        {" UNION ALL ".join(
            f'''SELECT '{c}' AS col,
                   CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS n1,
                   CAST(COUNT(CASE WHEN half = 1 AND {c} IS NULL THEN 1 END)
                        AS BIGINT) AS nulls1,
                   CAST(COUNT(CASE WHEN half = 2 THEN 1 END) AS BIGINT) AS n2,
                   CAST(COUNT(CASE WHEN half = 2 AND {c} IS NULL THEN 1 END)
                        AS BIGINT) AS nulls2,
                   CAST(nulls1 AS DOUBLE) / n1
                     - CAST(nulls2 AS DOUBLE) / n2 AS null_rate_drift
            FROM halves''' for c in _DRIFT_COLS)}
    """,
    doc=(
        "Null-rate drift monitor: per column, the null fraction of the "
        "stream's first half minus its second half (midpoint-of-time "
        "split, the stats_tvd_category_drift convention) — the "
        "upstream-breakage detector that fires when a producer starts "
        "dropping a field. One conditional-aggregate scan per column "
        "batch (the per-column expressions are a metadata loop, the "
        "data is scanned once via the union's shared subtree + "
        "exchange reuse); all counts integer-exact, one double "
        "division pair per column at the end."
    ),
    tags=("quality", "dashboard", "agg"),
)
def dq_null_rate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    bounds = t.events.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) DIV 2").alias("tmid_us")
    )
    halves = t.events.crossJoin(F.broadcast(bounds)).select(
        F.expr("CASE WHEN unix_micros(ts) < tmid_us THEN 1 ELSE 2 END").alias("half"),
        *_DRIFT_COLS,
    )
    out = None
    for c in _DRIFT_COLS:
        row = halves.agg(
            F.lit(c).alias("col"),
            F.expr("CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT)").alias("n1"),
            F.expr(
                f"CAST(COUNT(CASE WHEN half = 1 AND {c} IS NULL THEN 1 END) AS BIGINT)"
            ).alias("nulls1"),
            F.expr("CAST(COUNT(CASE WHEN half = 2 THEN 1 END) AS BIGINT)").alias("n2"),
            F.expr(
                f"CAST(COUNT(CASE WHEN half = 2 AND {c} IS NULL THEN 1 END) AS BIGINT)"
            ).alias("nulls2"),
        ).withColumn(
            "null_rate_drift",
            F.expr("CAST(nulls1 AS DOUBLE) / n1 - CAST(nulls2 AS DOUBLE) / n2"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# -- grid-bucketed nearest-hub spatial join (r4) -----------------------------

_GEO_LAT_CELL, _GEO_LON_CELL = 3600, 7200  # centidegrees; 5x5 hub grid
_GEO_GRID = 5


def _geo_hubs() -> list[tuple[int, int, int]]:
    """25 hubs at the centers of a 5x5 grid over the coordinate domain."""
    return [
        (
            i * _GEO_GRID + j,
            -9000 + _GEO_LAT_CELL * i + _GEO_LAT_CELL // 2,
            -18000 + _GEO_LON_CELL * j + _GEO_LON_CELL // 2,
        )
        for i in range(_GEO_GRID)
        for j in range(_GEO_GRID)
    ]


def _geo_service_rows() -> list[tuple[int, int, int, int, int]]:
    """Static (cell_i, cell_j, hub_id, hub_lat, hub_lon) replication:
    each cell is served by the hubs of its 3x3 neighborhood.  With hubs
    at cell centers, any hub two cells away is at squared distance
    >= (1.5 * cell)^2 = 29.16e6 while the own-cell hub is within
    (cell/2)^2 + (cell)^2 = 16.2e6 < that, so the true nearest hub is
    ALWAYS among these candidates — the brute-force oracle proves it."""
    out = []
    for hub_id, hlat, hlon in _geo_hubs():
        i, j = hub_id // _GEO_GRID, hub_id % _GEO_GRID
        for ci in range(max(0, i - 1), min(_GEO_GRID, i + 2)):
            for cj in range(max(0, j - 1), min(_GEO_GRID, j + 2)):
                out.append((ci, cj, hub_id, hlat, hlon))
    return out


_GEO_COORD_SQL = """
    SELECT event_id,
           ((user_id * 7919) % 18000 + (event_id % 21)) % 18000 - 9000 AS lat_centi,
           ((user_id * 104729) % 36000 + (event_id % 17)) % 36000 - 18000 AS lon_centi
    FROM events
"""


def _geo_nearest_oracle() -> str:
    hubs = ", ".join(f"({h}, {la}, {lo})" for h, la, lo in _geo_hubs())
    d2 = (
        "(c.lat_centi - h.hub_lat) * (c.lat_centi - h.hub_lat)"
        " + (c.lon_centi - h.hub_lon) * (c.lon_centi - h.hub_lon)"
    )
    return f"""
        WITH coords AS ({_GEO_COORD_SQL}),
        hubs(hub_id, hub_lat, hub_lon) AS (VALUES {hubs}),
        ranked AS (
            SELECT c.event_id, h.hub_id, h.hub_lat, h.hub_lon,
                   {d2} AS d2,
                   row_number() OVER (
                       PARTITION BY c.event_id
                       ORDER BY {d2}, h.hub_id) AS rn
            FROM coords c CROSS JOIN hubs h
        )
        SELECT hub_id, hub_lat, hub_lon,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(SUM(d2) AS BIGINT) AS sum_d2,
               CAST(MIN(d2) AS BIGINT) AS min_d2,
               CAST(MAX(d2) AS BIGINT) AS max_d2
        FROM ranked WHERE rn = 1
        GROUP BY hub_id, hub_lat, hub_lon
        ORDER BY hub_id
    """


@register(
    "geo_nearest_hub_grid",
    oracle=_geo_nearest_oracle(),
    doc=(
        "Grid-bucketed nearest-neighbor spatial join (r4) — assign "
        "every event to its nearest hub and roll up per-hub load "
        "stats. The scalable form of the geofence/nearest-facility "
        "join: each point equi-joins a BROADCAST static service table "
        "(cell -> 3x3-neighborhood hubs, <=225 rows) instead of cross "
        "joining all hubs; the per-point argmin collapses map-side "
        "(min over <=9 candidates via partial aggregation) before one "
        "keyed shuffle. Squared equirectangular centidegree distance "
        "keeps everything integer-exact, and ties at cell boundaries "
        "resolve by (d2, hub_id) identically on both engines. The "
        "DuckDB oracle is the BRUTE-FORCE all-hubs ranking, so the "
        "hash match PROVES the 3x3 candidate set always contains the "
        "true nearest hub — the completeness guarantee every "
        "grid-pruned spatial join rests on at 100 TB."
    ),
    tags=("dashboard", "geo", "join", "agg"),
)
def geo_nearest_hub_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    coords = t.events.select(
        "event_id",
        F.expr("((user_id * 7919) % 18000 + (event_id % 21)) % 18000 - 9000").alias(
            "lat_centi"
        ),
        F.expr("((user_id * 104729) % 36000 + (event_id % 17)) % 36000 - 18000").alias(
            "lon_centi"
        ),
    ).withColumns(
        {
            "ci": F.expr(f"CAST((lat_centi + 9000) / {_GEO_LAT_CELL} AS INT)"),
            "cj": F.expr(f"CAST((lon_centi + 18000) / {_GEO_LON_CELL} AS INT)"),
        }
    )
    service = spark.createDataFrame(
        _geo_service_rows(), "ci int, cj int, hub_id int, hub_lat int, hub_lon int"
    )
    cand = coords.join(F.broadcast(service), ["ci", "cj"]).withColumn(
        "d2",
        (F.col("lat_centi") - F.col("hub_lat")) * (F.col("lat_centi") - F.col("hub_lat"))
        + (F.col("lon_centi") - F.col("hub_lon")) * (F.col("lon_centi") - F.col("hub_lon")),
    )
    nearest = cand.groupBy("event_id").agg(
        F.min(F.struct("d2", "hub_id", "hub_lat", "hub_lon")).alias("nh")
    )
    return (
        nearest.groupBy(
            F.col("nh.hub_id").alias("hub_id"),
            F.col("nh.hub_lat").alias("hub_lat"),
            F.col("nh.hub_lon").alias("hub_lon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("nh.d2").cast("bigint").alias("sum_d2"),
            F.min("nh.d2").cast("bigint").alias("min_d2"),
            F.max("nh.d2").cast("bigint").alias("max_d2"),
        )
        .orderBy("hub_id")
    )


#: FK edges of the star/snowflake schema: (edge label, child table,
#: child key, parent table, parent key).  Parent keys are primary keys,
#: so the orphan check is a plain existence test.
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)

#: dims small enough to broadcast to every executor at ANY scale factor
_FK_BROADCAST_PARENTS = {"nation", "region", "supplier", "part"}


def _fk_oracle() -> str:
    parts = []
    for label, child, ck, parent, pk in _FK_EDGES:
        parts.append(f"""
        SELECT '{label}' AS fk_edge,
               CAST(COUNT(*) AS BIGINT) AS n_child,
               CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_orphans,
               CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS orphan_rate
        FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
          ON c.{ck} = p.{pk}""")
    return " UNION ALL ".join(parts)


@register(
    "dq_referential_integrity_audit",
    oracle=_fk_oracle(),
    doc=(
        "Referential-integrity audit over every FK edge of the schema "
        "(lineitem->orders/part/supplier, orders->customer, customer/"
        "supplier->nation, nation->region): child row count, orphan "
        "count (child key with no parent row), orphan rate. THE first "
        "report to run on any newly-landed snapshot — silent FK rot is "
        "how joins start dropping revenue rows without any job failing. "
        "Each edge is a left join against the DISTINCT parent keys "
        "counting null hits in one aggregate: dims (nation, region, "
        "supplier, part) broadcast so five of seven edges are "
        "shuffle-free on the probe side; orders/customer edges shuffle "
        "on the key they'd join on anyway. The seven per-edge "
        "one-row aggregates union into the report — counts are exact "
        "integers, the rate is one double division."
    ),
    tags=("dq", "join", "agg"),
)
def dq_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # r12 (guide §2.4/§6.2): one scan per CHILD table instead of one per
    # edge — lineitem carries three FK edges and was scanned (and
    # aggregated) three times. Chaining the parent left joins preserves
    # the child row count exactly (each parent side is a DISTINCT
    # primary key), so every per-edge SUM(pk IS NULL) is unchanged; one
    # single-row aggregate per child emits all of its edges, exploded
    # back to edge grain. _FK_EDGES lists each child's edges
    # contiguously, so the union order is byte-identical to before.
    groups: list[tuple[str, list[tuple[str, str, str, str]]]] = []
    for label, child, ck, parent, pk in _FK_EDGES:
        if not groups or groups[-1][0] != child:
            groups.append((child, []))
        groups[-1][1].append((label, ck, parent, pk))
    out = None
    for child, edges in groups:
        joined = getattr(t, child).select(*[ck for _, ck, _, _ in edges])
        for _, ck, parent, pk in edges:
            par = getattr(t, parent).select(pk).distinct()
            if parent in _FK_BROADCAST_PARENTS:
                par = F.broadcast(par)
            joined = joined.join(par, on=F.col(ck) == F.col(pk), how="left")
        aggs = [F.count(F.lit(1)).cast("bigint").alias("n_child")]
        for i, (_, ck, parent, pk) in enumerate(edges):
            aggs.append(
                F.expr(
                    f"CAST(SUM(CASE WHEN {pk} IS NULL THEN 1 ELSE 0 END)"
                    " AS BIGINT)"
                ).alias(f"n_orphans_{i}")
            )
            aggs.append(
                F.expr(
                    f"CAST(SUM(CASE WHEN {pk} IS NULL THEN 1 ELSE 0 END)"
                    " AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
                ).alias(f"orphan_rate_{i}")
            )
        one = getattr(joined, "agg")(*aggs)
        rows = one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(label).alias("fk_edge"),
                            F.col("n_child"),
                            F.col(f"n_orphans_{i}").alias("n_orphans"),
                            F.col(f"orphan_rate_{i}").alias("orphan_rate"),
                        )
                        for i, (label, _, _, _) in enumerate(edges)
                    ]
                )
            ).alias("r")
        ).select("r.fk_edge", "r.n_child", "r.n_orphans", "r.orphan_rate")
        out = rows if out is None else out.unionAll(rows)
    return out


_SNAPDRIFT_SPLIT = "DATE '2024-01-16'"  # snapshot A = before, B = on/after
_SNAPDRIFT_COLS = ("event_id", "user_id", "event_type", "value", "props")


def _drift_oracle() -> str:
    parts = []
    for c in _SNAPDRIFT_COLS:
        parts.append(f"""
        SELECT '{c}' AS column_name,
               CAST(SUM(CASE WHEN snap = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN snap = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN snap = 'A' AND {c} IS NULL THEN 1 ELSE 0 END)
                    AS DOUBLE)
                 / CAST(SUM(CASE WHEN snap = 'A' THEN 1 ELSE 0 END) AS DOUBLE)
                 AS null_rate_a,
               CAST(SUM(CASE WHEN snap = 'B' AND {c} IS NULL THEN 1 ELSE 0 END)
                    AS DOUBLE)
                 / CAST(SUM(CASE WHEN snap = 'B' THEN 1 ELSE 0 END) AS DOUBLE)
                 AS null_rate_b,
               CAST(COUNT(DISTINCT CASE WHEN snap = 'A' THEN {c} END) AS BIGINT)
                 AS n_distinct_a,
               CAST(COUNT(DISTINCT CASE WHEN snap = 'B' THEN {c} END) AS BIGINT)
                 AS n_distinct_b
        FROM (SELECT CASE WHEN CAST(ts AS DATE) < {_SNAPDRIFT_SPLIT}
                          THEN 'A' ELSE 'B' END AS snap, *
              FROM events)""")
    return " UNION ALL ".join(parts)


@register(
    "dq_schema_drift_two_snapshots",
    oracle=_drift_oracle(),
    doc=(
        "Column-level profile drift between two snapshots of the same "
        "table (events split at 2024-01-16: A = first half-month, B = "
        "second): per column, row counts, null rates, and distinct "
        "cardinalities side by side — the check a landing pipeline "
        "runs when yesterday's load 'succeeded' but a producer quietly "
        "started emitting nulls or collapsed an enum. One scan tags "
        "each row with its snapshot, then per-column conditional "
        "aggregates (null counts are map-side combinable; the distinct "
        "counts are exact COUNT(DISTINCT CASE ...) — at petabyte grain "
        "swap those two columns for HLL sketches, which is why they sit "
        "last in the row). Counts and rates are exact integers and "
        "single divisions, hash-exact on both engines."
    ),
    tags=("dq", "agg"),
)
def dq_schema_drift_two_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    tagged = t.events.withColumn(
        "snap",
        F.expr(f"CASE WHEN CAST(ts AS DATE) < {_SNAPDRIFT_SPLIT} THEN 'A' ELSE 'B' END"),
    )
    out = None
    for c in _SNAPDRIFT_COLS:
        agg = tagged.agg(
            F.expr("CAST(SUM(CASE WHEN snap = 'A' THEN 1 ELSE 0 END) AS BIGINT)").alias(
                "n_a"
            ),
            F.expr("CAST(SUM(CASE WHEN snap = 'B' THEN 1 ELSE 0 END) AS BIGINT)").alias(
                "n_b"
            ),
            F.expr(
                f"CAST(SUM(CASE WHEN snap = 'A' AND {c} IS NULL THEN 1 ELSE 0 END)"
                " AS DOUBLE) / CAST(SUM(CASE WHEN snap = 'A' THEN 1 ELSE 0 END)"
                " AS DOUBLE)"
            ).alias("null_rate_a"),
            F.expr(
                f"CAST(SUM(CASE WHEN snap = 'B' AND {c} IS NULL THEN 1 ELSE 0 END)"
                " AS DOUBLE) / CAST(SUM(CASE WHEN snap = 'B' THEN 1 ELSE 0 END)"
                " AS DOUBLE)"
            ).alias("null_rate_b"),
            F.expr(
                f"CAST(COUNT(DISTINCT CASE WHEN snap = 'A' THEN {c} END) AS BIGINT)"
            ).alias("n_distinct_a"),
            F.expr(
                f"CAST(COUNT(DISTINCT CASE WHEN snap = 'B' THEN {c} END) AS BIGINT)"
            ).alias("n_distinct_b"),
        ).select(
            F.lit(c).alias("column_name"),
            "n_a",
            "n_b",
            "null_rate_a",
            "null_rate_b",
            "n_distinct_a",
            "n_distinct_b",
        )
        out = agg if out is None else out.unionAll(agg)
    return out


_LUHN_CAP = 20000  # bounded output slice
_LUHN_TAMPER_POS = 3  # payload digit flipped in the tampered variant


def _luhn_sum(pan_col: str, n_digits: int) -> str:
    """Luhn weighted digit sum over a left-padded digit string: double
    every digit at ODD left index (== even distance from the check
    digit), subtract 9 on overflow. Identical 1-based substring +
    integer CASE arithmetic on both engines."""
    terms = []
    for i in range(1, n_digits + 1):
        d = f"CAST(substring({pan_col}, {i}, 1) AS INT)"
        if i % 2 == 1:
            terms.append(f"(2 * {d} - CASE WHEN {d} >= 5 THEN 9 ELSE 0 END)")
        else:
            terms.append(d)
    return " + ".join(terms)


def _luhn_sql() -> str:
    tamper_d = f"CAST(substring(pan15, {_LUHN_TAMPER_POS}, 1) AS INT)"
    return f"""
        WITH base AS (
            SELECT o_orderkey, lpad(CAST(o_orderkey AS VARCHAR), 15, '0') AS pan15
            FROM orders WHERE o_orderkey <= {_LUHN_CAP}
        ),
        chk AS (
            SELECT o_orderkey, pan15,
                   (10 - ({_luhn_sum('pan15', 15)}) % 10) % 10 AS check_digit,
                   o_orderkey % 7 = 0 AS tampered
            FROM base
        ),
        pan AS (
            SELECT o_orderkey, check_digit, tampered,
                   CASE WHEN tampered THEN
                        substring(pan15, 1, {_LUHN_TAMPER_POS - 1})
                        || CAST(({tamper_d} + 1) % 10 AS VARCHAR)
                        || substring(pan15, {_LUHN_TAMPER_POS + 1},
                                     {15 - _LUHN_TAMPER_POS})
                        ELSE pan15 END || CAST(check_digit AS VARCHAR) AS pan16
            FROM chk
        )
        SELECT o_orderkey, pan16, CAST(check_digit AS INT) AS check_digit, tampered,
               ({_luhn_sum('pan16', 16)}) % 10 = 0 AS luhn_valid
        FROM pan
    """


@register(
    "dq_luhn_checksum_audit",
    oracle=_luhn_sql(),
    doc=(
        "Luhn (mod-10) checksum audit — the validity gate for "
        "card-number-, IMEI- and account-id-shaped columns, and the "
        "single cheapest PII-quality signal a landing zone can "
        "compute: synthesize a 16-digit PAN per order (15-digit "
        "zero-padded payload + computed Luhn check digit), tamper "
        "with one payload digit on every 7th key AFTER the check "
        "digit is fixed, then re-validate. A single-digit flip always "
        "breaks Luhn (that is the code's design guarantee), so "
        "luhn_valid == NOT tampered exactly — making the oracle hash "
        "a proof the doubled-digit arithmetic is right, not just "
        "reproducible. The weighted sum is an unrolled 15/16-term "
        "integer expression over substring digits (shared generator "
        "_luhn_sum), fully codegen, zero shuffle, row-local."
    ),
    tags=("dq", "scalar", "quality"),
)
def dq_luhn_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    base = t.orders.filter(F.col("o_orderkey") <= _LUHN_CAP).select(
        "o_orderkey",
        F.expr("lpad(CAST(o_orderkey AS STRING), 15, '0')").alias("pan15"),
    )
    chk = base.select(
        "o_orderkey",
        "pan15",
        F.expr(f"(10 - ({_luhn_sum('pan15', 15)}) % 10) % 10").alias("check_digit"),
        F.expr("o_orderkey % 7 = 0").alias("tampered"),
    )
    tamper_d = f"CAST(substring(pan15, {_LUHN_TAMPER_POS}, 1) AS INT)"
    pan = chk.select(
        "o_orderkey",
        "check_digit",
        "tampered",
        F.expr(
            f"CASE WHEN tampered THEN"
            f" substring(pan15, 1, {_LUHN_TAMPER_POS - 1})"
            f" || CAST(({tamper_d} + 1) % 10 AS STRING)"
            f" || substring(pan15, {_LUHN_TAMPER_POS + 1}, {15 - _LUHN_TAMPER_POS})"
            f" ELSE pan15 END || CAST(check_digit AS STRING)"
        ).alias("pan16"),
    )
    return pan.select(
        "o_orderkey",
        "pan16",
        F.col("check_digit").cast("int").alias("check_digit"),
        "tampered",
        F.expr(f"({_luhn_sum('pan16', 16)}) % 10 = 0").alias("luhn_valid"),
    )


_RECON_TOP = 15


@register(
    "dq_order_total_reconciliation",
    oracle=f"""
        WITH li AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                            * CAST(round((1 - l_discount) * 100) AS BIGINT)
                            * CAST(round((1 + l_tax) * 100) AS BIGINT))
                        AS BIGINT) AS computed_e6
            FROM lineitem GROUP BY l_orderkey
        ),
        j AS (
            SELECT o.o_orderkey,
                   CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000
                       AS stated_e6,
                   li.computed_e6,
                   abs(CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000
                       - li.computed_e6) AS abs_diff_e6
            FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
        )
        SELECT o_orderkey,
               CAST(stated_e6 AS DOUBLE) / 1000000.0 AS stated_total,
               CAST(computed_e6 AS DOUBLE) / 1000000.0 AS computed_total,
               CAST(abs_diff_e6 AS DOUBLE) / 1000000.0 AS abs_diff
        FROM j
        ORDER BY abs_diff_e6 DESC, o_orderkey
        LIMIT {_RECON_TOP}
    """,
    doc=(
        "Cross-table financial reconciliation: recompute each order's "
        "total from its line items (extendedprice x (1-discount) x "
        "(1+tax), the TPC-H pricing identity) in exact 1e-6 fixed "
        "point and rank the largest absolute discrepancies against "
        "the stated o_totalprice — the audit that catches silent "
        "drift between a fact table and its denormalized rollup "
        "(double-posted lines, missed updates, rounding-policy "
        "mismatches between producers). Price carries 2 decimals and "
        "the two rate factors 2 each, so the per-line product is an "
        "exact integer at 1e-6 scale (<= 1e13 per term, BIGINT-safe; "
        "order sums far below 2^63); the comparison is integer "
        "subtraction, the output a single exact scaling division. One "
        "orderkey-grain aggregate + one join on the key both tables "
        "already shard by; top-15 discrepancies via TakeOrdered."
    ),
    tags=("dq", "join", "agg"),
)
def dq_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    li = t.lineitem.groupBy("l_orderkey").agg(
        F.expr(
            "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " * CAST(round((1 - l_discount) * 100) AS BIGINT)"
            " * CAST(round((1 + l_tax) * 100) AS BIGINT)) AS BIGINT)"
        ).alias("computed_e6")
    )
    j = t.orders.join(li, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) * 10000").alias("stated_e6"),
        "computed_e6",
        F.expr(
            "abs(CAST(round(o_totalprice * 100) AS BIGINT) * 10000 - computed_e6)"
        ).alias("abs_diff_e6"),
    )
    return (
        j.select(
            "o_orderkey",
            F.expr("CAST(stated_e6 AS DOUBLE) / 1000000.0").alias("stated_total"),
            F.expr("CAST(computed_e6 AS DOUBLE) / 1000000.0").alias("computed_total"),
            F.expr("CAST(abs_diff_e6 AS DOUBLE) / 1000000.0").alias("abs_diff"),
            "abs_diff_e6",
        )
        .orderBy(F.desc("abs_diff_e6"), "o_orderkey")
        .limit(_RECON_TOP)
        .drop("abs_diff_e6")
    )


@register(
    "dq_temporal_order_audit",
    oracle="""
        WITH j AS (
            SELECT CAST(o.o_orderdate AS DATE) AS od,
                   CAST(l.l_shipdate AS DATE) AS sd
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN sd < od THEN 1 ELSE 0 END) AS BIGINT)
                       AS v_ship_before_order,
                   CAST(SUM(CASE WHEN datediff('day', od, sd) > 180
                            THEN 1 ELSE 0 END) AS BIGINT) AS v_lag_over_180d,
                   CAST(SUM(CASE WHEN od IS NULL OR sd IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS v_null_date
            FROM j
        )
        SELECT 'ship_before_order' AS check_name, n AS n_checked,
               v_ship_before_order AS n_violations,
               CAST(v_ship_before_order AS DOUBLE) / CAST(n AS DOUBLE)
                   AS violation_rate
        FROM agg
        UNION ALL
        SELECT 'ship_lag_over_180d', n, v_lag_over_180d,
               CAST(v_lag_over_180d AS DOUBLE) / CAST(n AS DOUBLE) FROM agg
        UNION ALL
        SELECT 'null_order_or_ship_date', n, v_null_date,
               CAST(v_null_date AS DOUBLE) / CAST(n AS DOUBLE) FROM agg
        ORDER BY check_name
    """,
    doc=(
        "DQ12: temporal-ordering audit across the order->lineitem "
        "lifecycle — a shipment must not precede its order, must not "
        "lag it absurdly (>180d), and both dates must exist. The dbt-"
        "style 'event sequence sanity' test every warehouse runs "
        "before trusting latency metrics. ONE fact join + one "
        "conditional aggregate produce all three checks (no per-check "
        "rescan); the three-row report unpivots from that single row. "
        "Exact integer counts, one shared rate division."
    ),
    tags=("dq", "audit"),
)
def dq_temporal_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    li, o = t.lineitem, t.orders
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderdate").cast("date").alias("od"),
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("sd") < F.col("od"), 1).otherwise(0))
        .cast("bigint")
        .alias("v_ship_before_order"),
        F.sum(F.when(F.datediff(F.col("sd"), F.col("od")) > 180, 1).otherwise(0))
        .cast("bigint")
        .alias("v_lag_over_180d"),
        F.sum(F.when(F.col("od").isNull() | F.col("sd").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("v_null_date"),
    )
    return agg.selectExpr(
        """stack(3,
            'ship_before_order', v_ship_before_order,
            'ship_lag_over_180d', v_lag_over_180d,
            'null_order_or_ship_date', v_null_date
        ) AS (check_name, n_violations)""",
        "n AS n_checked",
    ).select(
        "check_name",
        "n_checked",
        "n_violations",
        F.expr("CAST(n_violations AS DOUBLE) / CAST(n_checked AS DOUBLE)").alias(
            "violation_rate"
        ),
    ).orderBy("check_name")


_ACCEPTED = (
    ("orders.o_orderstatus", "orders", "o_orderstatus", ("O", "F", "P")),
    ("lineitem.l_returnflag", "lineitem", "l_returnflag", ("A", "N", "R")),
    ("lineitem.l_linestatus", "lineitem", "l_linestatus", ("O", "F")),
    (
        "events.event_type",
        "events",
        "event_type",
        ("click", "error", "purchase", "signup", "view"),
    ),
    ("documents.lang", "documents", "lang", ("de", "en", "es", "fr", "zh")),
)


def _accepted_values_oracle() -> str:
    parts = []
    for label, table, col, vals in _ACCEPTED:
        inlist = ", ".join(f"'{v}'" for v in vals)
        parts.append(
            f"""
            SELECT '{label}' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN {col} IS NULL
                                 OR {col} NOT IN ({inlist})
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                   CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct
            FROM {table}"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


@register(
    "dq_accepted_values_audit",
    oracle=_accepted_values_oracle(),
    doc=(
        "DQ13: accepted-values conformance audit (the dbt "
        "accepted_values test) over every enum-like column in the "
        "schema — order status, return flag, line status, event type, "
        "document language — one row per column with row count, "
        "violation count (NULL counts as a violation: an enum column "
        "must be populated), and observed distinct cardinality (a "
        "cheap drift tripwire even while violations are zero). Each "
        "column is one map-side-combined aggregate over its own table; "
        "the report is their union — five metadata-scale rows."
    ),
    tags=("dq", "audit"),
)
def dq_accepted_values_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    outs = []
    for label, table, col, vals in _ACCEPTED:
        df = getattr(t, table)
        outs.append(
            df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(
                    F.when(
                        F.col(col).isNull() | ~F.col(col).isin(*vals), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("n_violations"),
                F.countDistinct(col).cast("bigint").alias("n_distinct"),
            ).select(
                F.lit(label).alias("column_name"),
                "n_rows",
                "n_violations",
                "n_distinct",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("column_name")


#: (table, pk column) pairs audited for uniqueness — the schema's
#: declared primary keys
_PK_AUDIT = (
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
)


@register(
    "dq_primary_key_uniqueness_audit",
    oracle="\n        UNION ALL\n".join(
        f"""
        SELECT '{tbl}' AS table_name, '{col}' AS pk_column,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
               CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               COUNT(*) = COUNT(DISTINCT {col})
                 AND SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) = 0
                 AS pk_valid
        FROM {tbl}"""
        for tbl, col in _PK_AUDIT
    )
    + "\n        ORDER BY table_name",
    doc=(
        "DQ14: primary-key uniqueness audit across all nine keyed "
        "tables — row count vs distinct-key count vs null-key count "
        "with a per-table validity verdict: the dbt `unique` + "
        "`not_null` test pair as one nine-row report, the first gate "
        "of any warehouse load (a duplicated or null PK silently "
        "corrupts every downstream join). Each table contributes one "
        "hash aggregate (count-distinct at key grain — the only "
        "shuffle, per table); lineitem is deliberately absent (its "
        "key is the composite (orderkey, linenumber), audited by "
        "dq_referential_integrity_audit)."
    ),
    tags=("dq", "agg"),
)
def dq_primary_key_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    parts = []
    for tbl, col in _PK_AUDIT:
        parts.append(
            getattr(t, tbl).agg(
                F.lit(tbl).alias("table_name"),
                F.lit(col).alias("pk_column"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct(col).cast("bigint").alias("n_distinct"),
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_null"),
                (
                    (F.count(F.lit(1)) == F.countDistinct(col))
                    & (
                        F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)) == 0
                    )
                ).alias("pk_valid"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


@register(
    "dq_date_sequence_violations",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
               CAST(SUM(CASE WHEN l.l_shipdate IS NULL OR o.o_orderdate IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS null_dates,
               CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                        THEN 1 ELSE 0 END) AS BIGINT) AS ship_before_order,
               CAST(SUM(CASE WHEN l.l_shipdate
                               > o.o_orderdate + INTERVAL 180 DAY
                        THEN 1 ELSE 0 END) AS BIGINT) AS ship_lag_over_180d,
               CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE)))
                    AS BIGINT) AS max_ship_lag_days,
               CAST(SUM(CASE WHEN l.l_shipdate IS NULL OR o.o_orderdate IS NULL
                              OR l.l_shipdate < o.o_orderdate
                        THEN 1 ELSE 0 END) AS BIGINT) AS rows_violating
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc=(
        "DQ15: cross-field date-sequence audit — physical-causality "
        "contracts a landing zone asserts before trusting dates across "
        "a join: nothing ships before it is ordered, no date is NULL "
        "on a shipped line, and a 180-day ship-lag fence localizes "
        "stragglers; the max observed lag is reported so the fence can "
        "be tuned from the audit itself. One fact-fact equi-join on "
        "the order key plus one conditional aggregate — per-rule "
        "counts localize a contract break to its rule without a second "
        "scan. Complements dq_temporal_order_audit, which orders "
        "WITHIN a key stream; this one checks BETWEEN columns."
    ),
    tags=("dq", "join"),
)
def dq_date_sequence_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    j = t.lineitem.select("l_orderkey", "l_shipdate").join(
        t.orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        flag(F.col("l_shipdate").isNull() | F.col("o_orderdate").isNull()).alias(
            "null_dates"
        ),
        flag(F.col("l_shipdate") < F.col("o_orderdate")).alias("ship_before_order"),
        flag(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 180 DAY")
        ).alias("ship_lag_over_180d"),
        F.max(
            F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        )
        .cast("bigint")
        .alias("max_ship_lag_days"),
        flag(
            F.col("l_shipdate").isNull()
            | F.col("o_orderdate").isNull()
            | (F.col("l_shipdate") < F.col("o_orderdate"))
        ).alias("rows_violating"),
    )


@register(
    "dq_calendar_completeness_by_source",
    oracle="""
        WITH bounds AS (
            SELECT CAST(MIN(CAST(ts AS DATE)) AS DATE) AS d0,
                   CAST(MAX(CAST(ts AS DATE)) AS DATE) AS d1
            FROM events
        ),
        cal AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                       AS day
            FROM bounds
        ),
        present AS (
            SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
        ),
        grid AS (
            SELECT t.event_type, cal.day
            FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN cal
        )
        SELECT g.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days_expected,
               CAST(SUM(CASE WHEN p.day IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_days_present,
               CAST(SUM(CASE WHEN p.day IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_days_missing,
               CAST(MIN(CASE WHEN p.day IS NULL THEN g.day END) AS DATE)
                   AS first_missing_day,
               CAST(SUM(CASE WHEN p.day IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS completeness
        FROM grid g
        LEFT JOIN present p ON p.event_type = g.event_type AND p.day = g.day
        GROUP BY g.event_type
        ORDER BY g.event_type
    """,
    doc=(
        "DQ16: calendar completeness — every (event_type, day) cell of "
        "the observed date range audited for presence: the partition-"
        "completeness check a landing zone runs before declaring a "
        "backfill done (a missing day in one stream is invisible to "
        "row-count monitors when other streams are healthy that day). "
        "The expected grid is |types| x |calendar days| — metadata "
        "scale at any corpus size — LEFT-joined against the distinct "
        "observed cells; per-type missing counts, the first gap date, "
        "and the completeness ratio are exact."
    ),
    tags=("dq", "timeseries"),
)
def dq_calendar_completeness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    bounds = t.events.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    cal = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    types = t.events.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(cal))
    present = t.events.select(
        "event_type", F.col("ts").cast("date").alias("day")
    ).distinct()
    return (
        grid.join(present.withColumn("hit", F.lit(1)), ["event_type", "day"], "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days_expected"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_days_present"),
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_days_missing"),
            F.min(F.when(F.col("hit").isNull(), F.col("day"))).alias(
                "first_missing_day"
            ),
            (
                F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("completeness"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Round-8 addition (SURVEY §2.18 GEO3): grid-density DBSCAN — the scale
# path for spatial clustering (cell rollup -> density threshold ->
# connected components over the bounded cell lattice), composed from
# the spatial tier's shared cells (operators/stats.py) and the dedup
# tier's min-label component machinery (operators/dedup.py).
# ---------------------------------------------------------------------------


def _geo_dbscan_oracle() -> str:
    from .stats import _GEO_CELLS_SQL

    return f"""
        WITH RECURSIVE {_GEO_CELLS_SQL},
        tot AS (SELECT CAST(SUM(x) AS BIGINT) AS s FROM cells),
        ids AS (
            SELECT (cell_lat + 9) * 100 + (cell_lon + 18) AS cid, x,
                   648 * x > (SELECT s FROM tot) AS is_core
            FROM cells
        ),
        core AS (SELECT cid, x FROM ids WHERE is_core),
        e AS (
            SELECT a.cid AS src, b.cid AS dst
            FROM core a
            JOIN (VALUES (100), (-100), (1), (-1)) o(doff) ON TRUE
            JOIN core b ON b.cid = a.cid + o.doff
        ),
        reach(src, dst) AS (
            SELECT src, dst FROM e
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
        ),
        comp AS (
            SELECT c.cid,
                   COALESCE(LEAST(c.cid, m.mn), c.cid) AS cluster_id,
                   c.x
            FROM core c
            LEFT JOIN (SELECT src, MIN(dst) AS mn FROM reach GROUP BY src) m
                   ON m.src = c.cid
        ),
        clusters AS (
            SELECT cluster_id,
                   CAST(COUNT(*) AS BIGINT) AS n_cells,
                   CAST(SUM(x) AS BIGINT) AS n_events
            FROM comp GROUP BY cluster_id
        ),
        noise AS (
            SELECT CAST(-1 AS BIGINT) AS cluster_id,
                   CAST(COUNT(*) AS BIGINT) AS n_cells,
                   CAST(COALESCE(SUM(x), 0) AS BIGINT) AS n_events
            FROM ids WHERE NOT is_core
        )
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id, n_cells, n_events
        FROM clusters
        UNION ALL
        SELECT cluster_id, n_cells, n_events FROM noise
        ORDER BY cluster_id
    """


@register(
    "geo_dbscan_grid_clusters",
    oracle=_geo_dbscan_oracle(),
    doc=(
        "GEO3: grid-density DBSCAN over the 10-degree lattice — core "
        "cells are those whose event count exceeds the full-lattice "
        "mean (an EXACT integer threshold: 648*x > total, no float at "
        "the density boundary), clusters are rook-connected components "
        "of core cells, and everything else rolls into one noise row "
        "(cluster_id = -1). This is how DBSCAN actually scales: the "
        "event-grain table collapses to a <= 648-row cell rollup FIRST "
        "(one shuffle), then neighborhood tests become cell-key "
        "equi-joins and the component loop runs on the bounded "
        "lattice — epsilon-ball cross joins never exist at any corpus "
        "size. Components via the dedup tier's min-label fold "
        "(operators/dedup.py:min_label_components): the <= 648-cell "
        "core graph is gathered into one row and its labels fold for "
        "up to n - 1 steps, so the lattice's long snaking components "
        "converge and the query stays one lazy plan. Proven against "
        "the oracle's recursive-CTE reachable-set fold; cluster_id is "
        "the component's minimum cell id, so labels are deterministic "
        "on both engines."
    ),
    tags=("geo", "dashboard", "graph"),
)
def geo_dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import min_label_components
    from .stats import _geo_cells

    t = Tables(spark, sf_dir)
    cells = _geo_cells(t)
    tot = cells.agg(F.sum("x").cast("bigint").alias("s"))
    ids = cells.crossJoin(F.broadcast(tot)).select(
        F.expr("(cell_lat + 9) * 100 + (cell_lon + 18)").alias("cid"),
        "x",
        F.expr("648 * x > s").alias("is_core"),
    )
    core = ids.filter("is_core").select("cid", "x")
    nbrs = core.select(
        "cid", F.explode(F.expr("array(100, -100, 1, -1)")).alias("doff")
    )
    other = core.select(F.col("cid").alias("dst"))
    edges = nbrs.join(
        other, F.col("dst") == F.col("cid") + F.col("doff")
    ).select(F.col("cid").alias("src"), "dst")
    comps = min_label_components(edges).withColumnRenamed("doc_id", "cid2")
    labeled = core.join(
        comps, core["cid"] == comps["cid2"], "left"
    ).select(
        "cid",
        "x",
        F.coalesce(F.least("cid", "component"), F.col("cid")).alias("cluster_id"),
    )
    clusters = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("x").cast("bigint").alias("n_events"),
    )
    noise = ids.filter(~F.col("is_core")).agg(
        F.lit(-1).cast("bigint").alias("cluster_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("n_events"),
    )
    return (
        clusters.select(F.col("cluster_id").cast("bigint"), "n_cells", "n_events")
        .unionAll(noise)
        .orderBy("cluster_id")
    )


@register(
    "dq_sequence_monotonicity_audit",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   CASE WHEN event_id < lag(event_id)
                             OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id)
                        THEN 1 ELSE 0 END AS inv,
                   CASE WHEN lag(event_id)
                             OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id) IS NULL
                        THEN 0 ELSE 1 END AS has_prev
            FROM events
        )
        SELECT event_type,
               CAST(SUM(has_prev) AS BIGINT) AS n_steps,
               CAST(SUM(inv) AS BIGINT) AS n_inversions,
               CAST(SUM(inv) AS DOUBLE) / CAST(SUM(has_prev) AS DOUBLE)
                   AS inversion_rate,
               SUM(inv) = 0 AS monotone_ok
        FROM seq
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc=(
        "DQ17: sequence-ID monotonicity audit — per event type, count "
        "the time-ordered steps where the event_id goes BACKWARD: the "
        "health check for any 'id should grow with time' producer "
        "contract (auto-increment keys, Kafka offsets, snowflake ids); "
        "inversions mean clock skew, multi-writer races, or replayed "
        "batches, and they silently corrupt every as-of join and "
        "incremental watermark downstream. One lag() per type "
        "partition (the inter-arrival-profile shape), exact integer "
        "counts, one shared rate division, and an exact boolean "
        "verdict per type. The r8 generator interleaves ids across "
        "types, so non-zero inversion counts are expected and pin the "
        "detector as non-vacuous."
    ),
    tags=("dq", "quality"),
)
def dq_sequence_monotonicity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seq = t.events.select(
        "event_type",
        F.expr(
            "CASE WHEN event_id < lag(event_id) OVER (PARTITION BY event_type"
            " ORDER BY ts, event_id) THEN 1 ELSE 0 END"
        ).alias("inv"),
        F.when(F.lag("event_id").over(w).isNull(), 0).otherwise(1).alias("has_prev"),
    )
    return (
        seq.groupBy("event_type")
        .agg(
            F.sum("has_prev").cast("bigint").alias("n_steps"),
            F.sum("inv").cast("bigint").alias("n_inversions"),
            F.expr(
                "CAST(SUM(inv) AS DOUBLE) / CAST(SUM(has_prev) AS DOUBLE)"
            ).alias("inversion_rate"),
            F.expr("SUM(inv) = 0").alias("monotone_ok"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Round-9 additions (SURVEY §2.19): three more DQ audits — the
# second-digit Benford screen, a declared functional-dependency audit,
# and Tukey-fence outlier days on the exact integer-hinge path.
# ---------------------------------------------------------------------------

#: Benford second-significant-digit expectations P(d2) =
#: sum over d1 of log10(1 + 1/(10*d1 + d2)) — Python-precomputed
#: literals shared by both engines (the first-digit op's contract)
_BENFORD2_P = {
    0: "0.11967926859688073", 1: "0.1138901034075564",
    2: "0.10882149900550823", 3: "0.10432956023095939",
    4: "0.10030820226757937", 5: "0.09667723580232243",
    6: "0.09337473578303615", 7: "0.09035198926960332",
    8: "0.08757005357886138", 9: "0.08499735205769224",
}
#: e-notation pins the literal to DOUBLE in both engines (DuckDB parses
#: a bare decimal literal as DECIMAL and double-rounds on the cast)
_BENFORD2_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({p}e0 AS DOUBLE)" for d, p in _BENFORD2_P.items()
) + " END"


@register(
    "dq_benford_second_digit",
    oracle=f"""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 2, 1) AS INTEGER) AS digit
            FROM orders
            WHERE floor(o_totalprice) >= 10
        ),
        counts AS (
            SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
        ),
        tot AS (SELECT SUM(n) AS total FROM counts)
        SELECT digit,
               CAST(n AS BIGINT) AS n_orders,
               CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS observed_share,
               {_BENFORD2_CASE} AS benford_share,
               CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - {_BENFORD2_CASE}
                 AS deviation
        FROM counts, tot
    """,
    doc=(
        "Benford's-law SECOND-digit audit of order values — the "
        "forensic follow-up to the first-digit screen: second digits "
        "are nearly flat (11.97% for 0 down to 8.50% for 9), so "
        "round-number fabrication (trailing 0/5 padding) shows here "
        "when the first-digit test passes. Digit extracted on the "
        "integer path (floor -> BIGINT -> second char, values < 10 "
        "excluded); the ten expectations are Python-precomputed "
        "literals shared by both engines. One map-side-combined "
        "aggregate + a broadcast 1-row total."
    ),
    tags=("dq",),
)
def dq_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    digits = t.orders.filter(
        F.expr("floor(o_totalprice) >= 10")
    ).select(
        F.expr(
            "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING),"
            " 2, 1) AS INT) AS digit"
        )
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("bigint").alias("n_orders"),
        (F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "observed_share"
        ),
        F.expr(_BENFORD2_CASE).alias("benford_share"),
        (
            F.col("n").cast("double") / F.col("total").cast("double")
            - F.expr(_BENFORD2_CASE)
        ).alias("deviation"),
    )


#: declared within-table functional dependencies to audit:
#: (slug, table, determinant col, dependent col). The list deliberately
#: mixes FDs that HOLD on TPC-H-shaped data (nation/region keys,
#: lineitem FK-derived) with ones that do NOT (a nation does not pin a
#: market segment), so the audit's verdict column is non-vacuous.
_FD_RULES = (
    ("nation_region", "nation", "n_nationkey", "n_regionkey"),
    ("customer_nation_segment", "customer", "c_nationkey", "c_mktsegment"),
    ("orders_cust_priority", "orders", "o_custkey", "o_orderpriority"),
    ("lineitem_order_shipdate", "lineitem", "l_orderkey", "l_shipdate"),
    ("supplier_nation", "supplier", "s_suppkey", "s_nationkey"),
)


def _fd_audit_oracle() -> str:
    parts = []
    for slug, tbl, det, dep in _FD_RULES:
        parts.append(f"""
        SELECT '{slug}' AS fd_rule,
               CAST(COUNT(*) AS BIGINT) AS n_determinants,
               CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_determinants,
               CAST(SUM(CASE WHEN n_dep > 1 THEN n_rows ELSE 0 END) AS BIGINT)
                   AS n_rows_in_violation,
               SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) = 0 AS holds
        FROM (
            SELECT {det},
                   CAST(COUNT(DISTINCT {dep}) AS BIGINT) AS n_dep,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM {tbl} GROUP BY {det}
        )""")
    return " UNION ALL ".join(parts) + " ORDER BY fd_rule"


@register(
    "dq_functional_dependency_audit",
    oracle=_fd_audit_oracle(),
    doc=(
        "Declared functional-dependency audit — for each rule "
        "determinant -> dependent, count determinant values bound to "
        "more than one distinct dependent (the FD violation), the "
        "rows they cover, and the holds verdict. The rule list mixes "
        "true FDs (key-determined columns: supplier_nation, "
        "nation_region) with deliberately false ones "
        "(customer_nation_segment: a nation does NOT pin a market "
        "segment), so both verdict values appear. Each rule is one "
        "two-level aggregation — groupBy(determinant) with a distinct "
        "count, then one summary row — map-side combined, no joins; "
        "the five rules union into a single report. The schema-"
        "on-read world's answer to relational theory's normalization "
        "check, and the audit that catches silent denormalization "
        "drift in a 100 TB lake."
    ),
    tags=("dq",),
)
def dq_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    out = None
    for slug, tbl, det, dep in _FD_RULES:
        per_det = (
            getattr(t, tbl)
            .groupBy(det)
            .agg(
                F.countDistinct(dep).cast("bigint").alias("n_dep"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            )
        )
        summary = per_det.agg(
            F.lit(slug).alias("fd_rule"),
            F.count(F.lit(1)).cast("bigint").alias("n_determinants"),
            F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_determinants"),
            F.sum(F.when(F.col("n_dep") > 1, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_in_violation"),
            (
                F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0)) == 0
            ).alias("holds"),
        )
        out = summary if out is None else out.unionByName(summary)
    return out.orderBy("fd_rule")


@register(
    "dq_tukey_fence_outlier_days",
    oracle="""
        WITH daily AS (
            SELECT o_orderpriority AS priority, o_orderdate AS day,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS rev_c
            FROM orders GROUP BY 1, 2
        ),
        ranked AS (
            SELECT priority, day, rev_c,
                   row_number() OVER (PARTITION BY priority ORDER BY rev_c, day)
                       AS i,
                   COUNT(*) OVER (PARTITION BY priority) AS n
            FROM daily
        ),
        hingepos AS (
            SELECT priority, n,
                   (n + 3) // 2 // 2 AS lo_i,
                   ((n + 3) // 2 % 2) AS lo_frac,
                   n + 1 - ((n + 3) // 2 // 2) - ((n + 3) // 2 % 2) AS hi_i
            FROM (SELECT DISTINCT priority, n FROM ranked)
        ),
        hinges AS (
            SELECT h.priority,
                   CAST(MAX(CASE WHEN r.i = h.lo_i THEN r.rev_c END)
                        + MAX(CASE WHEN r.i = h.lo_i + h.lo_frac
                                   THEN r.rev_c END) AS BIGINT) AS h1_x2,
                   CAST(MAX(CASE WHEN r.i = h.hi_i THEN r.rev_c END)
                        + MAX(CASE WHEN r.i = h.hi_i + h.lo_frac
                                   THEN r.rev_c END) AS BIGINT) AS h3_x2
            FROM hingepos h JOIN ranked r ON r.priority = h.priority
            GROUP BY h.priority
        )
        SELECT d.priority, d.day,
               CAST(d.rev_c AS DOUBLE) / 100.0 AS daily_revenue,
               CAST(h.h1_x2 AS DOUBLE) / 200.0 AS q1_hinge,
               CAST(h.h3_x2 AS DOUBLE) / 200.0 AS q3_hinge,
               4 * d.rev_c < 5 * h.h1_x2 - 3 * h.h3_x2 AS below_fence,
               4 * d.rev_c > 5 * h.h3_x2 - 3 * h.h1_x2 AS above_fence
        FROM daily d JOIN hinges h ON h.priority = d.priority
        WHERE 4 * d.rev_c < 5 * h.h1_x2 - 3 * h.h3_x2
           OR 4 * d.rev_c > 5 * h.h3_x2 - 3 * h.h1_x2
        ORDER BY d.priority, d.day
    """,
    doc=(
        "Tukey-fence outlier days — per order priority, flag days "
        "whose revenue falls outside [H1 - 1.5*IQR, H3 + 1.5*IQR]. "
        "Exactness comes from never materializing a quartile as a "
        "float: Tukey HINGES at position (n+3)/2 / 2 are either a "
        "data point or the average of two adjacent ones, so DOUBLED "
        "hinges (h1_x2, h3_x2) are exact integer cents, and both "
        "fences clear the remaining 1.5 factor by comparing "
        "4*value against 5*h1_x2 - 3*h3_x2 — pure integer "
        "comparisons; the only divisions are display columns. Daily "
        "revenue per priority is calendar-bounded day grain, windows "
        "partition by priority, and the hinge selection is two "
        "conditional MAXes over the ranked day table — no percentile "
        "function of either engine is trusted anywhere."
    ),
    tags=("dq", "stats"),
)
def dq_tukey_fence_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("rev_c")
    )
    wr = W.partitionBy("priority").orderBy("rev_c", "day")
    ranked = daily.select(
        "priority",
        "day",
        "rev_c",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy("priority")).alias("n"),
    )
    hingepos = ranked.select("priority", "n").distinct().select(
        "priority",
        F.expr("(n + 3) DIV 2 DIV 2").alias("lo_i"),
        F.expr("((n + 3) DIV 2) % 2").alias("lo_frac"),
        F.expr("n + 1 - ((n + 3) DIV 2 DIV 2) - (((n + 3) DIV 2) % 2)").alias(
            "hi_i"
        ),
    )
    hinges = (
        hingepos.join(ranked.select("priority", "i", "rev_c"), "priority")
        .groupBy("priority")
        .agg(
            (
                F.max(F.when(F.col("i") == F.col("lo_i"), F.col("rev_c")))
                + F.max(
                    F.when(
                        F.col("i") == F.col("lo_i") + F.col("lo_frac"),
                        F.col("rev_c"),
                    )
                )
            )
            .cast("bigint")
            .alias("h1_x2"),
            (
                F.max(F.when(F.col("i") == F.col("hi_i"), F.col("rev_c")))
                + F.max(
                    F.when(
                        F.col("i") == F.col("hi_i") + F.col("lo_frac"),
                        F.col("rev_c"),
                    )
                )
            )
            .cast("bigint")
            .alias("h3_x2"),
        )
    )
    return (
        daily.join(hinges, "priority")
        .filter(
            F.expr(
                "4 * rev_c < 5 * h1_x2 - 3 * h3_x2"
                " OR 4 * rev_c > 5 * h3_x2 - 3 * h1_x2"
            )
        )
        .select(
            "priority",
            "day",
            F.expr("CAST(rev_c AS DOUBLE) / 100.0").alias("daily_revenue"),
            F.expr("CAST(h1_x2 AS DOUBLE) / 200.0").alias("q1_hinge"),
            F.expr("CAST(h3_x2 AS DOUBLE) / 200.0").alias("q3_hinge"),
            F.expr("4 * rev_c < 5 * h1_x2 - 3 * h3_x2").alias("below_fence"),
            F.expr("4 * rev_c > 5 * h3_x2 - 3 * h1_x2").alias("above_fence"),
        )
        .orderBy("priority", "day")
    )


#: geofence polygon in centidegrees — a NON-convex dart, so the
#: even-odd rule is genuinely exercised (a convex fence never needs
#: more than 2 crossings). Closed implicitly: each tuple is one edge.
_FENCE_EDGES = (
    (-4000, -3000, 0, 5000),
    (0, 5000, 4000, -3000),
    (4000, -3000, 0, -1000),
    (0, -1000, -4000, -3000),
)


def _fence_edges_sql(dialect: str) -> str:
    if dialect == "spark":
        items = ", ".join(
            f"named_struct('x1', {x1}L, 'y1', {y1}L, 'x2', {x2}L, 'y2', {y2}L)"
            for x1, y1, x2, y2 in _FENCE_EDGES
        )
        return f"array({items})"
    items = ", ".join(
        "{" + f"x1: {x1}::BIGINT, y1: {y1}::BIGINT,"
        f" x2: {x2}::BIGINT, y2: {y2}::BIGINT" + "}"
        for x1, y1, x2, y2 in _FENCE_EDGES
    )
    return f"[{items}]"


#: integer-only even-odd ray cast: edge crosses the rightward ray from
#: (px, py) iff the edge straddles py (half-open, so shared vertices
#: never double-count) and the signed area term t = (x2-x1)(py-y1) -
#: (px-x1)(y2-y1) places the intersection right of px — the division-
#: free cross-multiplied form, sign-corrected by the edge direction.
_CROSSING = (
    "(e.y1 > py) != (e.y2 > py) AND"
    " (((e.x2 - e.x1) * (py - e.y1) - (px - e.x1) * (e.y2 - e.y1)) > 0)"
    " = (e.y2 > e.y1)"
)


@register(
    "geo_point_in_polygon_fence",
    oracle=f"""
        WITH coords AS (
            SELECT event_type,
                   ((user_id * 7919) % 18000
                     + (event_id % 21)) % 18000 - 9000 AS py,
                   ((user_id * 104729) % 36000
                     + (event_id % 17)) % 36000 - 18000 AS px
            FROM events
        ),
        hits AS (
            SELECT event_type,
                   len(list_filter({_fence_edges_sql('duckdb')},
                       e -> {_CROSSING})) % 2 = 1 AS inside
            FROM coords
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_inside,
               CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS inside_share
        FROM hits GROUP BY event_type
        ORDER BY event_type
    """,
    doc=(
        "GEO4: point-in-polygon geofence classification — the even-odd "
        "ray cast against a NON-convex literal fence (a dart: convex "
        "fences never exercise >2 crossings), with the intersection "
        "test in the DIVISION-FREE cross-multiplied integer form "
        "t = (x2-x1)(py-y1) - (px-x1)(y2-y1), sign-corrected by edge "
        "direction — no float ever touches a coordinate, so the "
        "crossing arithmetic is exact in both engines. Points exactly "
        "ON an edge (t = 0) are resolved deterministically by the "
        "half-open sign convention (a boundary crossing counts only "
        "for downward edges), NOT by geometric containment — the "
        "standard even-odd tie-break, engine-consistent by "
        "construction (r9 advice: doc reworded). The crossing count "
        "is a higher-order "
        "filter over the 4-edge literal array: row-local, zero joins, "
        "zero shuffles before the per-type rollup — the geofence "
        "stage of a spatial pipeline at fact grain. Coordinates are "
        "the established centidegree synthesis (geo_grid_hotspots)."
    ),
    tags=("dashboard", "geo"),
)
def geo_point_in_polygon_fence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    hits = t.events.selectExpr(
        "event_type",
        "((user_id * 7919) % 18000 + (event_id % 21)) % 18000 - 9000 AS py",
        "((user_id * 104729) % 36000 + (event_id % 17)) % 36000 - 18000 AS px",
    ).selectExpr(
        "event_type",
        f"size(filter({_fence_edges_sql('spark')},"
        f" e -> {_CROSSING})) % 2 = 1 AS inside",
    )
    return (
        hits.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("inside"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_inside"),
        )
        .select(
            "event_type",
            "n_events",
            "n_inside",
            (
                F.col("n_inside").cast("double")
                / F.col("n_events").cast("double")
            ).alias("inside_share"),
        )
        .orderBy("event_type")
    )
