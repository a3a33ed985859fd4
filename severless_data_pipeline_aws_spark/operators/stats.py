"""Distributed statistics from exact sums.

Built-in ``corr``/``covar_samp`` stream co-moments in accumulation
order, so their double outputs are not reproducible across engines or
even across partitionings. The scalable-and-exact alternative: reduce
each group to its DECIMAL power sums (order-independent, mergeable —
one map-side-combined shuffle), convert the handful of finals to
DOUBLE, and evaluate the closed forms driver-free in one projection.
The same six sums yield correlation AND the least-squares line, which
is why pretraining-data audits compute them together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register
from ._helpers import ddbl, ddbl_sql, dsum_double, dsum_double_sql, spread

_CALC = """
        SELECT {key}, n, corr_xy,
               cov_num / var_x AS slope,
               (sy - (cov_num / var_x) * sx) / nd AS intercept
        FROM (
            SELECT {key}, n, nd, sx, sy,
                   cov_num / (sqrt(var_x) * sqrt(var_y)) AS corr_xy,
                   cov_num, var_x
            FROM (
                SELECT {key}, n, nd, sx, sy,
                       nd * sxy - sx * sy AS cov_num,
                       nd * sxx - sx * sx AS var_x,
                       nd * syy - sy * sy AS var_y
                FROM sums
            )
        )
"""


@register(
    "stats_corr_regression_exact",
    oracle=f"""
        WITH sums AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   {dsum_double_sql("l_quantity")} AS sx,
                   {dsum_double_sql("l_extendedprice")} AS sy,
                   {dsum_double_sql("l_quantity * l_quantity")} AS sxx,
                   {dsum_double_sql("l_extendedprice * l_extendedprice")} AS syy,
                   {dsum_double_sql("l_quantity * l_extendedprice")} AS sxy
            FROM lineitem
            GROUP BY l_returnflag
        )
        {_CALC.format(key="l_returnflag")}
    """,
    doc=(
        "Exact distributed correlation + least-squares fit of "
        "extendedprice on quantity per returnflag: DECIMAL power sums "
        "(order-independent, one shuffle) -> DOUBLE closed forms. "
        "Reproducible where built-in corr()/covar() are accumulation-"
        "order-dependent."
    ),
    tags=("stats", "agg"),
)
def stats_corr_regression_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    sums = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        dsum_double("l_quantity").alias("sx"),
        dsum_double("l_extendedprice").alias("sy"),
        dsum_double("l_quantity * l_quantity").alias("sxx"),
        dsum_double("l_extendedprice * l_extendedprice").alias("syy"),
        dsum_double("l_quantity * l_extendedprice").alias("sxy"),
    )
    moments = sums.select(
        "l_returnflag",
        "n",
        "nd",
        "sx",
        "sy",
        F.expr("nd * sxy - sx * sy").alias("cov_num"),
        F.expr("nd * sxx - sx * sx").alias("var_x"),
        F.expr("nd * syy - sy * sy").alias("var_y"),
    )
    return moments.select(
        "l_returnflag",
        "n",
        F.expr("cov_num / (sqrt(var_x) * sqrt(var_y))").alias("corr_xy"),
        F.expr("cov_num / var_x").alias("slope"),
        F.expr("(sy - (cov_num / var_x) * sx) / nd").alias("intercept"),
    )


@register(
    "stats_winsorize_clip",
    oracle="""
        WITH ranked AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ),
        cuts AS (
            SELECT event_type,
                   MAX(CASE WHEN rn = CAST(ceil(0.01 * n) AS BIGINT)
                            THEN value END) AS p01,
                   MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                            THEN value END) AS p99,
                   MAX(n) AS n_rows
            FROM ranked GROUP BY event_type
        )
        SELECT r.event_type, c.p01, c.p99,
               CAST(c.n_rows AS BIGINT) AS n_rows,
               COUNT(CASE WHEN r.value < c.p01 THEN 1 END) AS n_clipped_low,
               COUNT(CASE WHEN r.value > c.p99 THEN 1 END) AS n_clipped_high
        FROM ranked r JOIN cuts c USING (event_type)
        GROUP BY r.event_type, c.p01, c.p99, c.n_rows
    """,
    doc=(
        "Winsorization cuts per group via exact rank-based percentiles "
        "(percentile_disc computed manually: the value at row_number = "
        "ceil(q*n) in value order) — no float interpolation, so the "
        "cuts are actual data values and bit-identical across engines. "
        "The per-type cut table is group-cardinality-sized and "
        "broadcast back onto the fact for the clip counts; both the "
        "rank window and the count agg shuffle on the same key. The "
        "standard outlier-clipping prep for numeric features at scale "
        "(interpolating percentiles cannot be hash-verified across "
        "engines; disc percentiles can)."
    ),
    tags=("stats", "window", "quality"),
)
def stats_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    e = t.events.select("event_id", "event_type", "value")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .alias("n"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.ceil(0.01 * F.col("n")).cast("bigint"), F.col("value"))
        ).alias("p01"),
        F.max(
            F.when(F.col("rn") == F.ceil(0.99 * F.col("n")).cast("bigint"), F.col("value"))
        ).alias("p99"),
        F.max("n").cast("bigint").alias("n_rows"),
    )
    return (
        ranked.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "p01", "p99", "n_rows")
        .agg(
            F.count(F.when(F.col("value") < F.col("p01"), 1)).alias("n_clipped_low"),
            F.count(F.when(F.col("value") > F.col("p99"), 1)).alias("n_clipped_high"),
        )
    )


# chi-square pieces shared verbatim by both engines: expected count and
# the squared-deviation contribution are each ONE double expression over
# exact integer totals, so the values are bit-identical
_CHI_EXP = "(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))"
_CHI_CONTRIB = (
    f"((CAST(obs AS DOUBLE) - {_CHI_EXP}) * (CAST(obs AS DOUBLE) - {_CHI_EXP}))"
    f" / {_CHI_EXP}"
)


@register(
    "stats_chi_square_independence",
    oracle=f"""
        WITH cells AS (
            SELECT event_type,
                   CAST(dayofweek(CAST(date_trunc('day', ts) AS DATE)) AS INTEGER)
                       AS dow,
                   COUNT(*) AS obs
            FROM events
            GROUP BY event_type, dow
        ),
        tot AS (
            SELECT event_type, dow, obs,
                   SUM(obs) OVER (PARTITION BY event_type) AS rt,
                   SUM(obs) OVER (PARTITION BY dow) AS ct,
                   SUM(obs) OVER () AS n
            FROM cells
        )
        SELECT event_type, dow, CAST(obs AS BIGINT) AS obs,
               {_CHI_EXP} AS expected,
               {_CHI_CONTRIB} AS chi2_contrib
        FROM tot
    """,
    doc=(
        "Independence diagnostic for the event stream: the event_type x "
        "day-of-week contingency table with each cell's expected count "
        "and chi-square contribution — the standard drift/seasonality "
        "check before trusting a traffic mix. Marginals come from three "
        "frameless windows OVER the 35-row cell table (metadata-scale "
        "after the one fact aggregation — the windows never see raw "
        "rows), and the double arithmetic is a shared expression over "
        "exact integer counts, so the output is bit-reproducible. The "
        "final chi-square statistic is the SUM of a 35-row column — "
        "left to the caller because a float fold's value depends on "
        "add order; the cells themselves are exact."
    ),
    tags=("stats", "agg", "window"),
)
def stats_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    cells = t.events.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("int").alias("dow")
    ).agg(F.count(F.lit(1)).alias("obs"))
    tot = cells.select(
        "event_type",
        "dow",
        "obs",
        F.sum("obs").over(W.partitionBy("event_type")).alias("rt"),
        F.sum("obs").over(W.partitionBy("dow")).alias("ct"),
        F.sum("obs").over(W.partitionBy()).alias("n"),
    )
    return tot.select(
        "event_type",
        "dow",
        F.col("obs").cast("bigint").alias("obs"),
        F.expr(_CHI_EXP).alias("expected"),
        F.expr(_CHI_CONTRIB).alias("chi2_contrib"),
    )


@register(
    "stats_gini_coefficient",
    oracle="""
        WITH ranked AS (
            SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                   row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS i,
                   COUNT(*) OVER () AS n
            FROM orders
        ),
        sums AS (
            SELECT MAX(n) AS n,
                   SUM(CAST(cents AS DECIMAL(38,0))) AS s,
                   SUM(CAST(i AS DECIMAL(38,0)) * cents) AS si
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               CAST((2.0 * CAST(CAST(si AS VARCHAR) AS DOUBLE)
                     - (CAST(n AS DOUBLE) + 1.0) * CAST(CAST(s AS VARCHAR) AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(CAST(s AS VARCHAR) AS DOUBLE))
                    AS DOUBLE) AS gini
        FROM sums
    """,
    doc=(
        "Exact Gini inequality coefficient of order values: "
        "G = (2*Σ i·x_(i) − (n+1)·Σ x_(i)) / (n·Σ x_(i)) over the "
        "ascending sort — the single-number companion to the Lorenz "
        "deciles (funnel_pareto_revenue_concentration). Everything "
        "before the final expression is integer-exact: values become "
        "cents, the rank-weighted and plain sums accumulate in "
        "DECIMAL(38,0) (order-independent, map-side-combinable), and "
        "ONE shared double expression finishes — hash-exact. The "
        "global rank uses the bucket-offset two-pass construction "
        "(operators/scalable.py — price-range buckets, per-bucket "
        "counts, prefix offsets, parallel local numbering), so no "
        "single-partition window ever sees the fact table."
    ),
    tags=("stats", "window", "agg"),
)
def stats_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_row_number

    t = Tables(spark, sf_dir)
    ranked = bucketed_row_number(
        t.orders.select("o_orderkey", "o_totalprice"),
        F.floor(F.col("o_totalprice") / 100).cast("bigint"),
        ["o_totalprice", "o_orderkey"],
        out="i",
    ).select(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"), "i")
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("s"),
        F.sum(F.expr("CAST(i AS DECIMAL(38,0)) * cents")).alias("si"),
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.expr(
            "CAST((2.0 * CAST(si AS DOUBLE)"
            " - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) AS DOUBLE)"
        ).alias("gini"),
    )


@register(
    "stats_simpson_diversity",
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, COUNT(*) AS k
            FROM events GROUP BY user_id, event_type
        ),
        per_user AS (
            SELECT user_id,
                   SUM(k) AS n,
                   SUM(k * k) AS sum_k2,
                   COUNT(*) AS n_types
            FROM c GROUP BY user_id
        )
        SELECT user_id,
               CAST(n AS BIGINT) AS n_events,
               CAST(n_types AS BIGINT) AS n_types,
               1.0 - CAST(sum_k2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                   AS simpson_diversity
        FROM per_user
    """,
    doc=(
        "Gini–Simpson behavioral diversity per user: 1 − Σp_i² — the "
        "probability two random actions differ in type. The "
        "log-free diversity index: Shannon entropy needs ln() (never "
        "bit-reproducible across engines), while Simpson is a pure "
        "rational of integer counts — one shared double expression, "
        "hash-exact. Low diversity at high volume flags single-action "
        "bots; the two-level aggregate (user×type counts, then user "
        "rollup) is map-side combined on both levels."
    ),
    tags=("stats", "agg", "quality"),
)
def stats_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    c = t.events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("k"))
    per_user = c.groupBy("user_id").agg(
        F.sum("k").alias("n"),
        F.sum(F.col("k") * F.col("k")).alias("sum_k2"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return per_user.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("n_types").cast("bigint").alias("n_types"),
        F.expr(
            "1.0 - CAST(sum_k2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
        ).alias("simpson_diversity"),
    )


# -- two-sample distribution comparison ---------------------------------------

#: shared Spark/DuckDB closed form for the binned KS statistic. Integer
#: cross-multiplication (|cum1*n2 - cum2*n1|) keeps the max exact; the single
#: division at the end is one deterministic double op.
_KS_D = "CAST(MAX(dev) AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"


@register(
    "stats_ks_two_sample_binned",
    oracle=f"""
        WITH src AS (
            SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bin,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_f
            FROM orders WHERE o_orderstatus IN ('F', 'O')
        ),
        bins AS (
            SELECT bin,
                   CAST(SUM(is_f) AS BIGINT) AS c1,
                   CAST(SUM(1 - is_f) AS BIGINT) AS c2
            FROM src GROUP BY bin
        ),
        cum AS (
            SELECT bin,
                   CAST(SUM(c1) OVER (ORDER BY bin) AS BIGINT) AS a1,
                   CAST(SUM(c2) OVER (ORDER BY bin) AS BIGINT) AS a2
            FROM bins
        ),
        tot AS (
            SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2
            FROM bins
        ),
        devs AS (
            SELECT bin, n1, n2, ABS(a1 * n2 - a2 * n1) AS dev
            FROM cum, tot
        ),
        marked AS (
            SELECT bin, n1, n2, dev, MAX(dev) OVER () AS mdev FROM devs
        )
        SELECT n1, n2, {_KS_D} AS d_stat,
               CAST(MIN(CASE WHEN dev = mdev THEN bin END) AS BIGINT) AS d_bin
        FROM marked
        GROUP BY n1, n2
    """,
    doc=(
        "Two-sample Kolmogorov-Smirnov D between the F and O order "
        "price distributions, on a fixed-width binned ECDF. The binned "
        "form IS the 100 TB form: per-bin counts are one map-side-"
        "combined shuffle keyed by bin, and the cumulative/max pass "
        "runs over the bounded bin axis (~500 rows, metadata scale) — "
        "no global sort of the raw data, unlike the classic pooled-"
        "rank KS. D is found by integer cross-multiplication "
        "|cum1*n2 - cum2*n1| (exact), divided once at the end. d_bin "
        "locates the maximum divergence."
    ),
    tags=("stats", "agg", "window"),
)
def stats_ks_two_sample_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    src = t.orders.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.expr("CAST(floor(o_totalprice / 1000.0) AS BIGINT)").alias("bin"),
        F.expr("CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END").alias("is_f"),
    )
    bins = src.groupBy("bin").agg(
        F.sum("is_f").cast("bigint").alias("c1"),
        F.sum(F.expr("1 - is_f")).cast("bigint").alias("c2"),
    )
    # window over the bounded bin axis only — single partition is deliberate
    cum = bins.select(
        "bin",
        F.sum("c1").over(W.orderBy("bin")).cast("bigint").alias("a1"),
        F.sum("c2").over(W.orderBy("bin")).cast("bigint").alias("a2"),
    )
    # totals are the cumulative maxima (a1/a2 are monotone), so the whole
    # statistic stays in ONE plan branch — no second orders scan for a
    # separate totals aggregate, no join. All windows run on the bin axis.
    m = cum.select(
        "bin",
        "a1",
        "a2",
        F.max("a1").over(W.partitionBy()).alias("n1"),
        F.max("a2").over(W.partitionBy()).alias("n2"),
    ).withColumn("dev", F.expr("ABS(a1 * n2 - a2 * n1)"))
    mx = m.withColumn("mdev", F.max("dev").over(W.partitionBy()))
    return mx.groupBy("n1", "n2").agg(
        F.expr(_KS_D).alias("d_stat"),
        F.expr("CAST(MIN(CASE WHEN dev = mdev THEN bin END) AS BIGINT)").alias("d_bin"),
    )


#: Welch's t closed form over per-group (n, sum, sum-of-squares) — identical
#: text evaluated by both engines on identical double inputs.
_WELCH = """
    SELECT n1, n2, m1, m2,
           (m1 - m2) / sqrt(v1 / nd1 + v2 / nd2) AS t_stat,
           (v1 / nd1 + v2 / nd2) * (v1 / nd1 + v2 / nd2)
             / ((v1 / nd1) * (v1 / nd1) / (nd1 - 1.0)
                + (v2 / nd2) * (v2 / nd2) / (nd2 - 1.0)) AS df_welch
    FROM (
        SELECT n1, n2, nd1, nd2,
               s1 / nd1 AS m1, s2 / nd2 AS m2,
               (q1 - s1 * s1 / nd1) / (nd1 - 1.0) AS v1,
               (q2 - s2 * s2 / nd2) / (nd2 - 1.0) AS v2
        FROM {src}
    )
"""


@register(
    "stats_welch_t_test",
    oracle=f"""
        WITH sums AS (
            SELECT
                CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n1,
                CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n2,
                CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE) AS nd1,
                CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS DOUBLE) AS nd2,
                {dsum_double_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS s1,
                {dsum_double_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")} AS s2,
                {dsum_double_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice * o_totalprice ELSE 0 END")} AS q1,
                {dsum_double_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice * o_totalprice ELSE 0 END")} AS q2
            FROM orders WHERE o_orderstatus IN ('F', 'O')
        )
        {_WELCH.format(src='sums')}
    """,
    doc=(
        "Welch's unequal-variance t-test (A/B testing primitive) "
        "between F and O order values: one conditional-aggregate scan "
        "reduces each arm to DECIMAL power sums (order-independent, "
        "map-side combined), then mean/variance/t/Welch-Satterthwaite "
        "df evaluate as one shared double expression — sqrt and / are "
        "IEEE-exact, so the statistic is bit-identical to the oracle "
        "with no accumulation-order dependence at any partitioning."
    ),
    tags=("stats", "agg"),
)
def stats_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    sums = t.orders.filter(F.col("o_orderstatus").isin("F", "O")).agg(
        F.expr("CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)").alias("n1"),
        F.expr("CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT)").alias("n2"),
        F.expr("CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE)").alias("nd1"),
        F.expr("CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS DOUBLE)").alias("nd2"),
        dsum_double("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END").alias("s1"),
        dsum_double("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END").alias("s2"),
        dsum_double(
            "CASE WHEN o_orderstatus = 'F' THEN o_totalprice * o_totalprice ELSE 0 END"
        ).alias("q1"),
        dsum_double(
            "CASE WHEN o_orderstatus = 'O' THEN o_totalprice * o_totalprice ELSE 0 END"
        ).alias("q2"),
    )
    return spark.sql(_WELCH, src=sums)


@register(
    "stats_benford_first_digit",
    oracle="""
        WITH d AS (
            SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM orders
        )
        SELECT digit,
               COUNT(*) AS n,
               CAST(COUNT(*) AS DOUBLE)
                   / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
        FROM d GROUP BY digit ORDER BY digit
    """,
    doc=(
        "Benford's-law first-significant-digit audit of order values — "
        "the classic fabricated-data screen. The digit is taken "
        "numerically (exact integer cents -> integer stringify, never "
        "stringifying a raw double, whose shortest-representation "
        "rendering differs across engines); shares are one double "
        "division of exact counts. Single scan, 9-row output; the "
        "expected log10(1+1/d) curve is left to the caller because ln/"
        "log10 are not bit-reproducible across engines."
    ),
    tags=("stats", "agg", "quality"),
)
def stats_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    d = t.orders.select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.withColumn("tot", F.sum("n").over(W.partitionBy()))
        .select(
            "digit",
            "n",
            F.expr("CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)").alias("share"),
        )
        .orderBy("digit")
    )


@register(
    "stats_tvd_category_drift",
    oracle="""
        WITH bounds AS (
            SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS tmid_us
            FROM events
        ),
        c AS (
            SELECT event_type,
                   CAST(COUNT(CASE WHEN epoch_us(ts) < tmid_us THEN 1 END)
                        AS BIGINT) AS n1,
                   CAST(COUNT(CASE WHEN epoch_us(ts) >= tmid_us THEN 1 END)
                        AS BIGINT) AS n2
            FROM events, bounds
            GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2
            FROM c
        )
        SELECT t1 AS n_first_half, t2 AS n_second_half,
               CAST(SUM(ABS(n1 * t2 - n2 * t1)) AS DOUBLE)
                   / (2.0 * CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE)) AS tvd,
               CAST(COUNT(*) AS BIGINT) AS n_categories
        FROM c, tot
        GROUP BY t1, t2
    """,
    doc=(
        "Total-variation distance between the event-type mixes of the "
        "first and second half of the stream — the log-free drift "
        "metric (PSI/KL need ln(), never bit-reproducible across "
        "engines; TVD = ½·Σ|p−q| is a pure rational). Computed "
        "entirely in integers via cross-multiplication "
        "Σ|n1_i·N2 − n2_i·N1| / (2·N1·N2): one conditional-aggregate "
        "scan to the bounded category table, one category-axis sum, "
        "one double division. The retrain-trigger statistic a feature "
        "store monitors per batch; at 100 TB the shuffle carries only "
        "|event_types| rows after partial agg."
    ),
    tags=("stats", "agg", "quality"),
)
def stats_tvd_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    bounds = t.events.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) DIV 2").alias("tmid_us")
    )
    c = (
        t.events.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.expr(
                "CAST(COUNT(CASE WHEN unix_micros(ts) < tmid_us THEN 1 END) AS BIGINT)"
            ).alias("n1"),
            F.expr(
                "CAST(COUNT(CASE WHEN unix_micros(ts) >= tmid_us THEN 1 END) AS BIGINT)"
            ).alias("n2"),
        )
    )
    # totals via frameless windows over the bounded category table — one
    # plan branch, so events is scanned once for bounds and once for
    # counts, never re-executed for a separate totals aggregate
    return (
        c.withColumn("t1", F.sum("n1").over(W.partitionBy()).cast("bigint"))
        .withColumn("t2", F.sum("n2").over(W.partitionBy()).cast("bigint"))
        .groupBy("t1", "t2")
        .agg(
            F.expr(
                "CAST(SUM(ABS(n1 * t2 - n2 * t1)) AS DOUBLE)"
                " / (2.0 * CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE))"
            ).alias("tvd"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_categories"),
        )
        .selectExpr(
            "t1 AS n_first_half", "t2 AS n_second_half", "tvd", "n_categories"
        )
    )


#: shared closed form for the rolling least-squares slope over exact
#: integer window sums (y in fixed-point 1e-4 units; one double division)
_ROLL_SLOPE = (
    "CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE "
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 10000.0 END"
)


@register(
    "stats_rolling_trend_slope",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   date_diff('day', DATE '2024-01-01',
                             CAST(date_trunc('day', ts) AS DATE)) AS day_idx,
                   CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
                       AS y
            FROM events
            GROUP BY event_type, day_idx
        ),
        win AS (
            SELECT event_type, day_idx,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(SUM(day_idx) OVER w AS BIGINT) AS sx,
                   CAST(SUM(day_idx * day_idx) OVER w AS BIGINT) AS sxx,
                   CAST(SUM(y) OVER w AS BIGINT) AS sy,
                   CAST(SUM(day_idx * y) OVER w AS BIGINT) AS sxy
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day_idx, n AS n_days,
               {_ROLL_SLOPE} AS slope_7d
        FROM win
    """,
    doc=(
        "Rolling 7-day least-squares trend slope of daily value volume "
        "per event_type — the dashboard trend-arrow / regression-based "
        "burst detector. Everything before the final division is exact "
        "integer arithmetic: daily totals in fixed-point 1e-4 units "
        "(the source doubles carry <=4 true decimal digits), window "
        "power sums over a RANGE frame of integer day indices — so "
        "the slope is bit-identical across engines and partitionings "
        "with no decimal precision-promotion divergence. One shuffle "
        "to daily grain (map-side combined), one window on the same "
        "key; the windowed table is days x types (metadata scale)."
    ),
    tags=("stats", "window", "timeseries"),
)
def stats_rolling_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type",
        F.expr("datediff(CAST(date_trunc('day', ts) AS DATE), DATE '2024-01-01')").alias(
            "day_idx"
        ),
    ).agg(
        F.expr("CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)").alias("y")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day_idx")
        .rangeBetween(-6, W.currentRow)
    )
    win = daily.select(
        "event_type",
        "day_idx",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("day_idx").over(w).cast("bigint").alias("sx"),
        F.sum(F.expr("day_idx * day_idx")).over(w).cast("bigint").alias("sxx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.expr("day_idx * y")).over(w).cast("bigint").alias("sxy"),
    )
    return win.select(
        "event_type",
        "day_idx",
        F.col("n").alias("n_days"),
        F.expr(_ROLL_SLOPE).alias("slope_7d"),
    )


#: shared closed form over the already-cast double power sums — identical
#: text on both engines, so every multiply/divide/sqrt is the same IEEE op
_AC1_FORMULA = (
    "CASE WHEN (n_d * sxx_d - sx_d * sx_d) > 0.0 "
    "AND (n_d * syy_d - sy_d * sy_d) > 0.0 "
    "THEN (n_d * sxy_d - sx_d * sy_d) "
    "/ (sqrt(n_d * sxx_d - sx_d * sx_d) * sqrt(n_d * syy_d - sy_d * sy_d)) "
    "ELSE NULL END"
)


@register(
    "stats_autocorrelation_lag1",
    oracle=f"""
        WITH v AS (
            SELECT event_type,
                   CAST(round(value * 10000) AS BIGINT) AS y,
                   LAG(CAST(round(value * 10000) AS BIGINT)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id) AS x
            FROM events
        ),
        p AS (SELECT * FROM v WHERE x IS NOT NULL),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(COUNT(*) AS DOUBLE) AS n_d,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx_d,
                   CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy_d,
                   CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxy_d,
                   CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx_d,
                   CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS syy_d
            FROM p GROUP BY event_type
        )
        SELECT event_type, n_pairs, {_AC1_FORMULA} AS autocorr_lag1
        FROM s
    """,
    doc=(
        "Lag-1 autocorrelation of the value series per event_type — the "
        "burstiness / regime-persistence statistic behind seasonality "
        "detection and anomaly-detector calibration (white noise ~ 0, "
        "trending ~ +1, mean-reverting ~ -1). One window pass pairs "
        "each value with its predecessor (ts, event_id order — fully "
        "deterministic), then per-type power sums accumulate as "
        "DECIMAL(38,0) over exact 1e-4 fixed-point integers (value "
        "carries <=4 decimal digits; BIGINT products, decimal sums — "
        "overflow-safe past 10^18 where a raw BIGINT sum of squares "
        "dies at corpus scale). The Pearson closed form then runs on "
        "identically-cast doubles, so the coefficient is bit-exact. "
        "One shuffle for the window, map-side combine for the sums."
    ),
    tags=("stats", "window", "timeseries"),
)
def stats_autocorrelation_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    fixed = F.expr("CAST(round(value * 10000) AS BIGINT)")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = (
        t.events.select("event_type", "ts", "event_id", fixed.alias("y"))
        .withColumn("x", F.lag("y").over(w))
        .filter(F.col("x").isNotNull())
    )
    sums = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count(F.lit(1)).cast("double").alias("n_d"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE)").alias("sx_d"),
        F.expr("CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)").alias("sy_d"),
        F.expr("CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE)").alias("sxy_d"),
        F.expr("CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE)").alias("sxx_d"),
        F.expr("CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE)").alias("syy_d"),
    )
    return sums.select("event_type", "n_pairs", F.expr(_AC1_FORMULA).alias("autocorr_lag1"))


@register(
    "stats_cusum_drift_detector",
    oracle="""
        WITH base AS (
            SELECT event_type, event_id, ts,
                   CAST(round(value * 10000) AS BIGINT) AS x
            FROM events
        ),
        tot AS (
            SELECT event_type, CAST(SUM(x) AS BIGINT) AS sx, COUNT(*) AS n
            FROM base GROUP BY event_type
        ),
        y AS (
            SELECT b.event_type, b.event_id, b.ts,
                   b.x * t.n - t.sx AS yv, t.n AS n
            FROM base b JOIN tot t USING (event_type)
        ),
        p AS (
            SELECT event_type, event_id, ts, n,
                   CAST(SUM(yv) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pt
            FROM y
        ),
        m AS (
            SELECT event_type, event_id, n, pt,
                   LEAST(CAST(0 AS BIGINT),
                         MIN(pt) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)) AS mt
            FROM p
        )
        SELECT event_type, event_id,
               CAST(CAST(pt - mt AS VARCHAR) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE)) AS cusum
        FROM m
    """,
    doc=(
        "One-sided CUSUM drift statistic per event_type: S_t = "
        "max(0, S_{t-1} + x_t - mean) — the classic sequential "
        "change-point detector. The recurrence LOOKS unvectorizable "
        "(like EWMA), but over the max-plus identity S_t = P_t - "
        "min(0, min_{j<=t} P_j) it becomes a running sum plus a "
        "running min on ONE sorted window pass — fully parallel, no "
        "applyInPandas, no per-row Python. Exactness: deviations are "
        "scaled through by n (y = n*x - sum(x), all BIGINT in 1e-4 "
        "fixed point), so prefix sums and mins are integers and the "
        "single double division per row happens identically on both "
        "engines. One shuffle for the totals join (broadcast, "
        "type-cardinality) and one for the window sort. The EWMA twin "
        "shows the opposite case: a recurrence whose FLOAT rounding "
        "order is semantic must stay sequential — CUSUM's integer "
        "algebra is why it gets the window rewrite."
    ),
    tags=("stats", "window", "timeseries", "anomaly"),
)
def stats_cusum_drift_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    base = t.events.select(
        "event_type",
        "event_id",
        "ts",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("x"),
    )
    tot = base.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    y = base.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "event_id",
        "ts",
        (F.col("x") * F.col("n") - F.col("sx")).alias("yv"),
        "n",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = y.select(
        "event_type",
        "event_id",
        "ts",
        "n",
        F.sum("yv").over(w).cast("bigint").alias("pt"),
    )
    m = p.select(
        "event_type",
        "event_id",
        "n",
        "pt",
        F.least(F.lit(0).cast("bigint"), F.min("pt").over(w)).alias("mt"),
    )
    return m.select(
        "event_type",
        "event_id",
        F.expr(
            "CAST(pt - mt AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE))"
        ).alias("cusum"),
    )


@register(
    "stats_skewness_kurtosis_exact",
    oracle="""
        WITH sums AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(SUM(q) AS DOUBLE) AS s1,
                   CAST(SUM(q * q) AS DOUBLE) AS s2,
                   CAST(SUM(q * q * q) AS DOUBLE) AS s3,
                   CAST(SUM(q * q * q * q) AS DOUBLE) AS s4
            FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
                  FROM lineitem)
            GROUP BY l_returnflag
        ),
        raw AS (
            SELECT l_returnflag, n, s1 / nd AS mean,
                   s2 / nd AS r2, s3 / nd AS r3, s4 / nd AS r4
            FROM sums
        ),
        cm AS (
            SELECT l_returnflag, n, mean,
                   r2 - mean * mean AS m2,
                   r3 - 3 * mean * r2 + 2 * mean * mean * mean AS m3,
                   r4 - 4 * mean * r3 + 6 * mean * mean * r2
                      - 3 * mean * mean * mean * mean AS m4
            FROM raw
        )
        SELECT l_returnflag, n, mean,
               m3 / (m2 * sqrt(m2)) AS skewness,
               m4 / (m2 * m2) - 3 AS kurtosis_excess
        FROM cm
    """,
    doc=(
        "Exact distributed skewness + excess kurtosis per returnflag "
        "from BIGINT power sums (l_quantity is integral): one map-side-"
        "combined shuffle, order-independent, then identical IEEE closed "
        "forms on both engines. Built-in skewness()/kurtosis() stream "
        "double central moments in accumulation order and are not "
        "reproducible across engines or partitionings. No pow(): "
        "m2*sqrt(m2) keeps every step correctly rounded."
    ),
    tags=("stats", "agg"),
)
def stats_skewness_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    base = t.lineitem.select(
        "l_returnflag", F.expr("CAST(l_quantity AS BIGINT)").alias("q")
    )
    sums = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("q").cast("double").alias("s1"),
        F.expr("CAST(SUM(q * q) AS DOUBLE)").alias("s2"),
        F.expr("CAST(SUM(q * q * q) AS DOUBLE)").alias("s3"),
        F.expr("CAST(SUM(q * q * q * q) AS DOUBLE)").alias("s4"),
    )
    raw = sums.select(
        "l_returnflag",
        "n",
        F.expr("s1 / nd").alias("mean"),
        F.expr("s2 / nd").alias("r2"),
        F.expr("s3 / nd").alias("r3"),
        F.expr("s4 / nd").alias("r4"),
    )
    cm = raw.select(
        "l_returnflag",
        "n",
        "mean",
        F.expr("r2 - mean * mean").alias("m2"),
        F.expr("r3 - 3 * mean * r2 + 2 * mean * mean * mean").alias("m3"),
        F.expr(
            "r4 - 4 * mean * r3 + 6 * mean * mean * r2"
            " - 3 * mean * mean * mean * mean"
        ).alias("m4"),
    )
    return cm.select(
        "l_returnflag",
        "n",
        "mean",
        F.expr("m3 / (m2 * sqrt(m2))").alias("skewness"),
        F.expr("m4 / (m2 * m2) - 3").alias("kurtosis_excess"),
    )


@register(
    "stats_rolling_corr_pair",
    oracle="""
        WITH daily AS (
            SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
            FROM events GROUP BY 1
        ),
        win AS (
            SELECT d, x, y,
                   COUNT(*)      OVER w AS n,
                   SUM(x)        OVER w AS sx,
                   SUM(y)        OVER w AS sy,
                   SUM(x * x)    OVER w AS sxx,
                   SUM(y * y)    OVER w AS syy,
                   SUM(x * y)    OVER w AS sxy
            FROM daily
            WINDOW w AS (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        ),
        full_windows AS (
            SELECT d,
                   CAST(n AS DOUBLE) AS nd,
                   CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
                   CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
                   CAST(sxy AS DOUBLE) AS sxy,
                   n * sxx - sx * sx AS ivx, n * syy - sy * sy AS ivy
            FROM win WHERE n = 7
        )
        SELECT d AS epoch_day,
               (nd * sxy - sx * sy)
                 / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)) AS corr_7d
        FROM full_windows
        WHERE ivx > 0 AND ivy > 0
    """,
    doc=(
        "Rolling 7-day Pearson correlation between the click and "
        "purchase daily-count series: one events scan -> per-day "
        "conditional counts (integer-exact), BIGINT power sums over a "
        "calendar RANGE frame (gap-correct, unlike a ROWS frame), then "
        "one shared double closed form. Degenerate windows (partial or "
        "zero-variance) are filtered on integers, so the double "
        "expression is only evaluated where it is well-defined. "
        "Scale: the window input is the day-grain rollup — metadata-"
        "sized at any corpus scale; the single wide-table sort is "
        "trivially small."
    ),
    tags=("stats", "window", "timeseries"),
)
def stats_rolling_corr_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            ).alias("d"),
            "event_type",
        )
        .groupBy("d")
        .agg(
            F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")).alias("x"),
            F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")).alias("y"),
        )
    )
    w = W.orderBy("d").rangeBetween(-6, 0)
    win = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.expr("x * x")).over(w).alias("sxx"),
        F.sum(F.expr("y * y")).over(w).alias("syy"),
        F.sum(F.expr("x * y")).over(w).alias("sxy"),
    )
    full = win.filter(F.col("n") == 7).select(
        "d",
        F.col("n").cast("double").alias("nd"),
        F.expr("n * sxx - sx * sx").alias("ivx"),
        F.expr("n * syy - sy * sy").alias("ivy"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.col("sxx").cast("double").alias("sxxd"),
        F.col("syy").cast("double").alias("syyd"),
        F.col("sxy").cast("double").alias("sxyd"),
    )
    return full.filter((F.col("ivx") > 0) & (F.col("ivy") > 0)).select(
        F.col("d").alias("epoch_day"),
        F.expr(
            "(nd * sxyd - sxd * syd)"
            " / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd))"
        ).alias("corr_7d"),
    )


@register(
    "stats_quantile_normalize_sources",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM documents
        ),
        gvals AS (
            SELECT n_chars AS gval,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS grank
            FROM documents
        ),
        gn AS (SELECT COUNT(*) AS total FROM documents),
        pos AS (
            SELECT doc_id, source, n_chars,
                   (CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                     * CAST(total - 1 AS DOUBLE) AS p
            FROM ranked CROSS JOIN gn
            WHERE n > 1
        ),
        idx AS (
            SELECT doc_id, source, n_chars, p,
                   CAST(floor(p) AS BIGINT) + 1 AS lo,
                   CAST(ceil(p) AS BIGINT) + 1 AS hi,
                   p - floor(p) AS frac
            FROM pos
        )
        SELECT i.doc_id, i.source, i.n_chars,
               CAST(glo.gval AS DOUBLE)
                 + i.frac * (CAST(ghi.gval AS DOUBLE) - CAST(glo.gval AS DOUBLE))
                 AS normalized
        FROM idx i
        JOIN gvals glo ON i.lo = glo.grank
        JOIN gvals ghi ON i.hi = ghi.grank
    """,
    doc=(
        "Quantile normalization across sources (batch-effect removal, "
        "the feature-engineering step that maps every source's n_chars "
        "distribution onto the global distribution): per-source rank "
        "percentile (rn-1)/(n-1) -> target position on the globally "
        "ranked value axis -> linear interpolation between the two "
        "bracketing global order statistics. All rank arithmetic is "
        "integer; the lerp is the shared IEEE expression. The global "
        "rank uses the bucket-offset two-pass construction "
        "(operators/scalable.py bucketed_row_number over n_chars-range "
        "buckets) — the per-source windows stay partitioned, and no "
        "single-partition window sees the corpus. Single-doc sources "
        "are excluded on an integer guard (their percentile is "
        "undefined)."
    ),
    tags=("stats", "window", "ml"),
)
def stats_quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .scalable import bucketed_row_number

    t = Tables(spark, sf_dir)
    d = t.documents
    ranked = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(W.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n"),
    )
    glob = bucketed_row_number(
        d.select(F.col("n_chars").alias("gval"), "doc_id"),
        F.floor(F.col("gval") / 16).cast("bigint"),
        ["gval", "doc_id"],
        out="grank",
    ).select("gval", "grank")
    gn = d.agg(F.count(F.lit(1)).alias("total"))
    pos = (
        ranked.filter(F.col("n") > 1)
        .crossJoin(F.broadcast(gn))
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr(
                "(CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))"
                " * CAST(total - 1 AS DOUBLE)"
            ).alias("p"),
        )
    )
    idx = pos.select(
        "doc_id",
        "source",
        "n_chars",
        "p",
        (F.expr("CAST(floor(p) AS BIGINT)") + 1).alias("lo"),
        (F.expr("CAST(ceil(p) AS BIGINT)") + 1).alias("hi"),
        F.expr("p - floor(p)").alias("frac"),
    )
    glo = glob.select(F.col("grank").alias("lo"), F.col("gval").alias("glo"))
    ghi = glob.select(F.col("grank").alias("hi"), F.col("gval").alias("ghi"))
    return (
        idx.join(glo, "lo")
        .join(ghi, "hi")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr(
                "CAST(glo AS DOUBLE) + frac * (CAST(ghi AS DOUBLE) - CAST(glo AS DOUBLE))"
            ).alias("normalized"),
        )
    )


@register(
    "stats_mann_whitney_u",
    oracle="""
        WITH pooled AS (
            SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
                   value
            FROM events
            WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
        ),
        ranked AS (
            SELECT grp,
                   2 * rank() OVER (ORDER BY value)
                     + COUNT(*) OVER (PARTITION BY value) - 1 AS rank2
            FROM pooled
        ),
        sums AS (
            SELECT
                CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                CAST(SUM(CASE WHEN grp = 1 THEN rank2 ELSE 0 END) AS BIGINT) AS r1x2
            FROM ranked
        )
        SELECT n1, n2,
               CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u_stat,
               (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS effect_cl
        FROM sums
    """,
    doc=(
        "Mann-Whitney U (the nonparametric A/B test — rank-sum instead "
        "of means, robust to the heavy tails that break the t-test): "
        "pool both samples, midrank ties exactly as 2*rank + ties - 1 "
        "(an INTEGER, so tie handling never touches floats), reduce to "
        "doubled rank sums in one pass, and emit U plus the common-"
        "language effect size U/(n1*n2). Ranks come from the per-"
        "distinct-value (cnt_less, cnt_eq) table (operators/scalable.py "
        "value_rank_table — midrank2 = 2*cnt_less + cnt_eq + 1), so the "
        "whole statistic reduces at distinct-value grain with bucketed "
        "prefix sums: no global-order window touches row-grain data, "
        "and every quantity is integer until the two final shared "
        "double expressions."
    ),
    tags=("stats", "window", "ab"),
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import value_rank_table

    t = Tables(spark, sf_dir)
    pooled = t.events.filter(
        F.col("event_type").isin("click", "purchase") & F.col("value").isNotNull()
    ).select(
        F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 2 END").alias("grp"),
        "value",
    )
    vr = value_rank_table(pooled, "value", F.floor(F.col("value")).cast("bigint"))
    per_vg = pooled.groupBy("value", "grp").agg(F.count(F.lit(1)).alias("k"))
    ranked = per_vg.join(vr, "value").select(
        "grp",
        "k",
        (2 * F.col("cnt_less") + F.col("cnt_eq") + 1).alias("rank2"),
    )
    sums = ranked.agg(
        F.expr("CAST(SUM(CASE WHEN grp = 1 THEN k ELSE 0 END) AS BIGINT)").alias("n1"),
        F.expr("CAST(SUM(CASE WHEN grp = 2 THEN k ELSE 0 END) AS BIGINT)").alias("n2"),
        F.expr("CAST(SUM(CASE WHEN grp = 1 THEN k * rank2 ELSE 0 END) AS BIGINT)").alias(
            "r1x2"
        ),
    )
    return sums.select(
        "n1",
        "n2",
        F.expr("CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2").alias("u_stat"),
        F.expr(
            "(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2)"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
        ).alias("effect_cl"),
    )


@register(
    "stats_trimmed_mean",
    oracle="""
        WITH ranked AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events WHERE value IS NOT NULL
        )
        SELECT event_type,
               CAST(COUNT(CASE WHEN rn > CAST(floor(0.1 * n) AS BIGINT)
                                AND rn <= CAST(n - floor(0.1 * n) AS BIGINT)
                               THEN 1 END) AS BIGINT) AS n_used,
               CAST(CAST(SUM(CASE WHEN rn > CAST(floor(0.1 * n) AS BIGINT)
                                   AND rn <= CAST(n - floor(0.1 * n) AS BIGINT)
                                  THEN CAST(value AS DECIMAL(38,8)) END)
                         AS VARCHAR) AS DOUBLE)
                 / CAST(COUNT(CASE WHEN rn > CAST(floor(0.1 * n) AS BIGINT)
                                    AND rn <= CAST(n - floor(0.1 * n) AS BIGINT)
                                   THEN 1 END) AS DOUBLE) AS trimmed_mean
        FROM ranked
        GROUP BY event_type
    """,
    doc=(
        "10% two-sided trimmed mean per event type — the robust "
        "location estimate between the outlier-fragile mean and the "
        "information-discarding median (the metric SLO dashboards "
        "should use for latency-like columns): rank each value, keep "
        "the central 80% by exact integer rank bounds, accumulate in "
        "DECIMAL, one final double division. One sort per type "
        "partition; the trim bounds are integers, so both engines trim "
        "the identical row set."
    ),
    tags=("stats", "window", "agg"),
)
def stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    ranked = t.events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "value",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    inside = (
        "rn > CAST(floor(0.1 * n) AS BIGINT)"
        " AND rn <= CAST(n - floor(0.1 * n) AS BIGINT)"
    )
    return ranked.groupBy("event_type").agg(
        F.expr(f"CAST(COUNT(CASE WHEN {inside} THEN 1 END) AS BIGINT)").alias(
            "n_used"
        ),
        F.expr(
            f"CAST(SUM(CASE WHEN {inside} THEN CAST(value AS DECIMAL(38,8)) END) AS DOUBLE)"
            f" / CAST(COUNT(CASE WHEN {inside} THEN 1 END) AS DOUBLE)"
        ).alias("trimmed_mean"),
    )


@register(
    "stats_spearman_rank_corr",
    oracle="""
        WITH ranked AS (
            SELECT
                2 * rank() OVER (ORDER BY l_quantity)
                  + COUNT(*) OVER (PARTITION BY l_quantity) - 1 AS rx2,
                2 * rank() OVER (ORDER BY l_extendedprice)
                  + COUNT(*) OVER (PARTITION BY l_extendedprice) - 1 AS ry2
            FROM lineitem
        ),
        sums AS (
            SELECT COUNT(*) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(rx2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(ry2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(CAST(rx2 AS DECIMAL(38,0)) * rx2) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(CAST(ry2 AS DECIMAL(38,0)) * ry2) AS VARCHAR) AS DOUBLE) AS syy,
                   CAST(CAST(SUM(CAST(rx2 AS DECIMAL(38,0)) * ry2) AS VARCHAR) AS DOUBLE) AS sxy
            FROM ranked
        )
        SELECT n,
               (nd * sxy - sx * sy)
                 / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
                 AS spearman_rho
        FROM sums
    """,
    doc=(
        "Spearman rank correlation between quantity and extended price "
        "— Pearson over midranks, the monotone-association measure "
        "that survives the nonlinearities and outliers plain Pearson "
        "chokes on. Tie midranks use the integer 2*rank + ties - 1 "
        "doubling (no float tie averaging); doubled-rank power sums "
        "accumulate in DECIMAL(38,0) (BIGINT squares overflow past "
        "~10^9 rows), then the one shared Pearson closed form. Both "
        "rank tables are per-distinct-value with bucketed prefix sums "
        "(operators/scalable.py): quantity's 50-value table broadcasts, "
        "price's re-joins on value — no global-order window anywhere; "
        "the doubling cancels in the ratio."
    ),
    tags=("stats", "window"),
)
def stats_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import value_rank_table

    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_quantity", "l_extendedprice")
    midrank2 = (2 * F.col("cnt_less") + F.col("cnt_eq") + 1).alias("mr2")
    vrx = value_rank_table(
        li, "l_quantity", F.floor(F.col("l_quantity")).cast("bigint")
    ).select("l_quantity", midrank2.alias("rx2"))
    vry = value_rank_table(
        li, "l_extendedprice", F.floor(F.col("l_extendedprice") / 100).cast("bigint")
    ).select("l_extendedprice", midrank2.alias("ry2"))
    ranked = (
        li.join(F.broadcast(vrx), "l_quantity")
        .join(vry, "l_extendedprice")
        .select("rx2", "ry2")
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr("CAST(SUM(CAST(rx2 AS DECIMAL(38,0))) AS DOUBLE)").alias("sx"),
        F.expr("CAST(SUM(CAST(ry2 AS DECIMAL(38,0))) AS DOUBLE)").alias("sy"),
        F.expr("CAST(SUM(CAST(rx2 AS DECIMAL(38,0)) * rx2) AS DOUBLE)").alias("sxx"),
        F.expr("CAST(SUM(CAST(ry2 AS DECIMAL(38,0)) * ry2) AS DOUBLE)").alias("syy"),
        F.expr("CAST(SUM(CAST(rx2 AS DECIMAL(38,0)) * ry2) AS DOUBLE)").alias("sxy"),
    )
    return sums.select(
        "n",
        F.expr(
            "(nd * sxy - sx * sy)"
            " / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))"
        ).alias("spearman_rho"),
    )


@register(
    "stats_two_proportion_ztest",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   COUNT(*) AS n,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
            FROM events GROUP BY 1
        ),
        paired AS (
            SELECT day, n, x,
                   lag(n) OVER (ORDER BY day) AS n0,
                   lag(x) OVER (ORDER BY day) AS x0
            FROM daily
        ),
        forms AS (
            SELECT day,
                   CAST(n AS BIGINT) AS n1, CAST(x AS BIGINT) AS x1,
                   CAST(n0 AS BIGINT) AS n0, CAST(x0 AS BIGINT) AS x0,
                   CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p1,
                   CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
                   CAST(x + x0 AS DOUBLE) / CAST(n + n0 AS DOUBLE) AS pp
            FROM paired WHERE n0 IS NOT NULL AND n0 > 0 AND n > 0
        )
        SELECT day, n1, x1, n0, x0,
               (p1 - p0)
                 / sqrt(pp * (1 - pp)
                        * (CAST(1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                           + CAST(1 AS DOUBLE) / CAST(n0 AS DOUBLE))) AS z_score,
               CASE WHEN abs((p1 - p0)
                 / sqrt(pp * (1 - pp)
                        * (CAST(1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                           + CAST(1 AS DOUBLE) / CAST(n0 AS DOUBLE)))) > 1.96
                    THEN 1 ELSE 0 END AS significant_95
        FROM forms
        WHERE pp > 0 AND pp < 1
    """,
    doc=(
        "Two-proportion z-test on the daily purchase share vs the "
        "previous day — the significance gate that separates real "
        "conversion movement from small-sample noise in day-over-day "
        "dashboards (pooled-proportion form). Counts come from one "
        "day-grain rollup (metadata-sized), the lag pairs adjacent "
        "days, and every double is a shared closed form over exact "
        "integers; degenerate days (zero or unanimous pooled share) "
        "are excluded on integer/ratio guards before the sqrt."
    ),
    tags=("stats", "ab", "timeseries"),
)
def stats_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = (
        t.events.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)").alias(
                "x"
            ),
        )
    )
    paired = daily.select(
        "day",
        "n",
        "x",
        F.lag("n").over(W.orderBy("day")).alias("n0_raw"),
        F.lag("x").over(W.orderBy("day")).alias("x0_raw"),
    ).filter(F.col("n0_raw").isNotNull() & (F.col("n0_raw") > 0) & (F.col("n") > 0))
    forms = paired.select(
        "day",
        F.col("n").cast("bigint").alias("n1"),
        F.col("x").cast("bigint").alias("x1"),
        F.col("n0_raw").cast("bigint").alias("n0"),
        F.col("x0_raw").cast("bigint").alias("x0"),
        F.expr("CAST(x AS DOUBLE) / CAST(n AS DOUBLE)").alias("p1"),
        F.expr("CAST(x0_raw AS DOUBLE) / CAST(n0_raw AS DOUBLE)").alias("p0"),
        F.expr("CAST(x + x0_raw AS DOUBLE) / CAST(n + n0_raw AS DOUBLE)").alias("pp"),
    ).filter((F.col("pp") > 0) & (F.col("pp") < 1))
    z = (
        "(p1 - p0) / sqrt(pp * (1 - pp)"
        " * (CAST(1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " + CAST(1 AS DOUBLE) / CAST(n0 AS DOUBLE)))"
    )
    return forms.select(
        "day",
        "n1",
        "x1",
        "n0",
        "x0",
        F.expr(z).alias("z_score"),
        F.expr(f"CASE WHEN abs({z}) > 1.96 THEN 1 ELSE 0 END").alias("significant_95"),
    )


@register(
    "stats_theil_sen_daily_trend",
    oracle="""
        WITH daily AS (
            SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                   COUNT(*) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        ),
        slopes AS (
            SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
            FROM daily a JOIN daily b ON b.d > a.d
        ),
        ranked AS (
            SELECT slope,
                   row_number() OVER (ORDER BY slope) AS rn,
                   COUNT(*) OVER () AS n
            FROM slopes
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
               MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN slope END)
                 AS theil_sen_slope
        FROM ranked
    """,
    doc=(
        "Theil-Sen robust trend of the daily purchase series: the "
        "median of all pairwise slopes — 29% breakdown point, immune "
        "to the outlier days that wreck least squares. The O(n^2) pair "
        "space is taken over the DAY-GRAIN rollup (bounded by the "
        "calendar, never by event volume: a year is ~66k pairs at any "
        "corpus size). Each slope is one exact double division of "
        "integers; the median is the rank-based discrete order "
        "statistic, so no interpolation semantics and no float "
        "summation anywhere. r4 (VERDICT #7): the slope rank runs as "
        "the bucket-offset construction (bucket = floor(slope*8)) so a "
        "long-horizon deployment (10y ~ 6.7M pairs) never "
        "single-partitions the pair table; gated in "
        "tests/test_plans.py::_SCALABLE_WINDOW_CAPS."
    ),
    tags=("stats", "timeseries", "robust"),
)
def stats_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            ).alias("d")
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    # nullif keeps the division ANSI-safe: Catalyst pushes the bucket
    # key's isnotnull(floor(slope*8)) into the join condition AHEAD of
    # db > da, so the expression must tolerate the phantom db == da
    # rows it then sees (they are filtered either way)
    slopes = (
        a.crossJoin(b)
        .filter(F.col("db") > F.col("da"))
        .select(
            F.expr(
                "CAST(yb - ya AS DOUBLE) / CAST(nullif(db - da, 0) AS DOUBLE)"
            ).alias("slope")
        )
    )
    # r4 (VERDICT #7): the slope rank was a fact-grain global window —
    # calendar-bounded, but a long horizon (10y ~ 6.7M pairs) would
    # single-partition it. Now the shared bucket-offset construction:
    # bucket = floor(slope*8) is monotone in the sort key, near-zero
    # slopes concentrate in a few buckets but the per-bucket sort is
    # local; the only single-partition window left is the metadata-
    # scale offsets prefix (gated in tests/test_plans.py).
    from .scalable import bucketed_row_number

    total = slopes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = bucketed_row_number(
        slopes, F.floor(F.col("slope") * 8).cast("long"), ["slope"], out="rn"
    ).crossJoin(F.broadcast(total))
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.max(
            F.expr("CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN slope END")
        ).alias("theil_sen_slope"),
    )


@register(
    "stats_runs_test_randomness",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   CASE WHEN value >= 50 THEN 1 ELSE 0 END AS s,
                   CASE WHEN lag(CASE WHEN value >= 50 THEN 1 ELSE 0 END)
                             OVER (PARTITION BY event_type ORDER BY ts, event_id)
                             IS DISTINCT FROM CASE WHEN value >= 50 THEN 1 ELSE 0 END
                        THEN 1 ELSE 0 END AS new_run
            FROM events WHERE value IS NOT NULL
        ),
        sums AS (
            SELECT event_type,
                   CAST(SUM(new_run) AS BIGINT) AS r,
                   CAST(SUM(s) AS BIGINT) AS n1,
                   CAST(SUM(1 - s) AS BIGINT) AS n0
            FROM seq GROUP BY event_type
        ),
        forms AS (
            SELECT event_type, r, n1, n0,
                   CAST(n1 AS DOUBLE) AS a, CAST(n0 AS DOUBLE) AS b
            FROM sums WHERE n1 > 0 AND n0 > 0
        )
        SELECT event_type, r, n1, n0,
               1 + 2 * a * b / (a + b) AS expected_runs,
               (CAST(r AS DOUBLE) - (1 + 2 * a * b / (a + b)))
                 / sqrt(2 * a * b * (2 * a * b - a - b)
                        / ((a + b) * (a + b) * (a + b - 1))) AS z_score
        FROM forms
    """,
    doc=(
        "Wald-Wolfowitz runs test per event type: is the above/below-"
        "median sign sequence RANDOM, or does it cluster (trending/"
        "sticky sensor) or alternate (oscillation/interleaved feeds)? "
        "Runs are counted with one lag window (IS DISTINCT FROM makes "
        "the first row open a run without NULL special-casing); n1/n0/"
        "R reduce per type, and the z statistic is one shared closed "
        "form over exact integers — the randomness monitor that "
        "catches a stuck-then-jumping gauge whose mean and variance "
        "both still look healthy."
    ),
    tags=("stats", "window", "dq"),
)
def stats_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    s_expr = "CASE WHEN value >= 50 THEN 1 ELSE 0 END"
    seq = t.events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.expr(s_expr).alias("s"),
        F.expr(
            f"CASE WHEN lag({s_expr}) OVER (PARTITION BY event_type"
            f" ORDER BY ts, event_id) IS DISTINCT FROM {s_expr}"
            " THEN 1 ELSE 0 END"
        ).alias("new_run"),
    )
    sums = seq.groupBy("event_type").agg(
        F.sum("new_run").cast("bigint").alias("r"),
        F.sum("s").cast("bigint").alias("n1"),
        F.expr("CAST(SUM(1 - s) AS BIGINT)").alias("n0"),
    )
    forms = sums.filter((F.col("n1") > 0) & (F.col("n0") > 0)).select(
        "event_type",
        "r",
        "n1",
        "n0",
        F.col("n1").cast("double").alias("a"),
        F.col("n0").cast("double").alias("b"),
    )
    return forms.select(
        "event_type",
        "r",
        "n1",
        "n0",
        F.expr("1 + 2 * a * b / (a + b)").alias("expected_runs"),
        F.expr(
            "(CAST(r AS DOUBLE) - (1 + 2 * a * b / (a + b)))"
            " / sqrt(2 * a * b * (2 * a * b - a - b)"
            " / ((a + b) * (a + b) * (a + b - 1)))"
        ).alias("z_score"),
    )


@register(
    "stats_anova_oneway",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8)) * value) AS VARCHAR) AS DOUBLE) AS s2
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n) AS DOUBLE) AS ntd,
                   list_reduce(list(s1 ORDER BY event_type), (a, b) -> a + b) AS st1,
                   list_reduce(list(s2 ORDER BY event_type), (a, b) -> a + b) AS st2,
                   list_reduce(list(s1 * s1 / nd ORDER BY event_type),
                               (a, b) -> a + b) AS sgm
            FROM g
        )
        SELECT n_total, k,
               sgm - st1 * st1 / ntd AS ss_between,
               st2 - sgm AS ss_within,
               ((sgm - st1 * st1 / ntd) / CAST(k - 1 AS DOUBLE))
                 / ((st2 - sgm) / CAST(n_total - k AS DOUBLE)) AS f_stat
        FROM tot
    """,
    doc=(
        "One-way ANOVA across event types (does mean value differ by "
        "type?): between/within sums of squares from per-group decimal "
        "power sums — SSB = sum(s1_g^2/n_g) - S1^2/N, SSW = S2 - "
        "sum(s1_g^2/n_g) — then the F statistic as one shared closed "
        "form. The cross-group reductions are ORDER-PINNED folds over "
        "the |types|-row group table (unordered float SUMs would not "
        "reproduce); everything upstream is the one map-side-combined "
        "group pass. The k-group generalization of the Welch pair "
        "test already in the battery."
    ),
    tags=("stats", "agg", "ab"),
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    g = (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.lit(1)).cast("double").alias("nd"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE)").alias("s1"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(38,8)) * value) AS DOUBLE)"
            ).alias("s2"),
        )
    )
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(event_type, {v} AS x))),"
        " s -> s.x), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("double").alias("ntd"),
        F.expr(fold.format(v="s1")).alias("st1"),
        F.expr(fold.format(v="s2")).alias("st2"),
        F.expr(fold.format(v="s1 * s1 / nd")).alias("sgm"),
    )
    return tot.select(
        "n_total",
        "k",
        F.expr("sgm - st1 * st1 / ntd").alias("ss_between"),
        F.expr("st2 - sgm").alias("ss_within"),
        F.expr(
            "((sgm - st1 * st1 / ntd) / CAST(k - 1 AS DOUBLE))"
            " / ((st2 - sgm) / CAST(n_total - k AS DOUBLE))"
        ).alias("f_stat"),
    )


@register(
    "stats_changepoint_binary_segmentation",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        pre AS (
            SELECT day, x,
                   row_number() OVER (ORDER BY day) AS k,
                   SUM(CAST(x AS DECIMAL(38,0))) OVER w AS s1,
                   SUM(CAST(x AS DECIMAL(38,0)) * x) OVER w AS q1,
                   SUM(CAST(x AS DECIMAL(38,0))) OVER () AS s,
                   SUM(CAST(x AS DECIMAL(38,0)) * x) OVER () AS q,
                   COUNT(*) OVER () AS d
            FROM daily
            WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
        ),
        scored AS (
            SELECT day, k, d,
                   CAST(CAST(q AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(d AS DOUBLE)
                     AS total_sse,
                   (CAST(CAST(q1 AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(k AS DOUBLE))
                   + (CAST(CAST(q - q1 AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(s - s1 AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(s - s1 AS VARCHAR) AS DOUBLE)
                       / CAST(d - k AS DOUBLE))
                     AS split_sse
            FROM pre WHERE k < d
        )
        SELECT day AS split_day,
               CAST(d AS BIGINT) AS n_days,
               total_sse,
               split_sse,
               total_sse - split_sse AS sse_reduction
        FROM scored
        ORDER BY total_sse - split_sse DESC, day
        LIMIT 1
    """,
    doc=(
        "Single-changepoint detection by binary segmentation over the "
        "daily event-count series: the split that maximizes SSE "
        "reduction (between-segment variance explained) — the offline "
        "twin of the CUSUM detector, and the first recursion step of "
        "the standard multi-changepoint algorithm. Everything runs at "
        "DAY grain: one fact aggregate, then prefix sums in "
        "DECIMAL(38,0) over the calendar-bounded day table (the only "
        "windows — bounded by days-of-history, never event volume), "
        "and the SSE closed forms q - s^2/n as shared IEEE doubles "
        "via the VARCHAR-hop discipline. Argmax by (reduction DESC, "
        "day) is a 1-row TakeOrdered, deterministic on both engines."
    ),
    tags=("stats", "timeseries", "changepoint"),
)
def stats_changepoint_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    pre = daily.select(
        "day",
        F.row_number().over(W.orderBy("day")).alias("k"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).over(w).alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).over(w).alias("q1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).over(wall).alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).over(wall).alias("q"),
        F.count(F.lit(1)).over(wall).alias("d"),
    )
    scored = pre.filter(F.col("k") < F.col("d")).select(
        "day",
        "d",
        F.expr(
            "CAST(q AS DOUBLE)"
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(d AS DOUBLE)"
        ).alias("total_sse"),
        F.expr(
            "(CAST(q1 AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))"
            " + (CAST(q - q1 AS DOUBLE)"
            " - CAST(s - s1 AS DOUBLE) * CAST(s - s1 AS DOUBLE)"
            " / CAST(d - k AS DOUBLE))"
        ).alias("split_sse"),
    )
    return (
        scored.select(
            F.col("day").alias("split_day"),
            F.col("d").cast("bigint").alias("n_days"),
            "total_sse",
            "split_sse",
            (F.col("total_sse") - F.col("split_sse")).alias("sse_reduction"),
        )
        .orderBy(F.desc("sse_reduction"), "split_day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Round-3 additions: rank tests / association / ACF — same exactness
# discipline (integers and DECIMAL sums until one shared double final).
# ---------------------------------------------------------------------------

#: exactness scale for the stepwise integer division below: statistics
#: are truncated to 1e-10 — identically on both engines, so the hash
#: still matches; 10 decimals is far below any statistical resolution.
_SC10 = "10000000000"


def _kw_final(dbl) -> str:
    """Kruskal-Wallis closed form over the one-row exact-sums table.

    ``dbl`` is the engine's correctly-rounded big-int/decimal -> DOUBLE
    cast (helpers ddbl / ddbl_sql); everything after it is shared IEEE
    text, so the H statistic is bit-identical across engines.
    """
    h = (
        f"(12.0 * ({dbl('s4s')} / {_SC10}.0)"
        f" / ({dbl('n')} * {dbl('np1')}) - 3.0 * {dbl('np1')})"
    )
    return f"""
        SELECT k AS n_groups,
               n AS n_obs,
               CAST(k - 1 AS BIGINT) AS dof,
               {h} AS h_stat,
               CASE WHEN n3n <= tsum THEN NULL
                    ELSE {h} * {dbl('n3n')} / ({dbl('n3n')} - {dbl('tsum')})
               END AS h_stat_tie_adj
        FROM {{src}}
    """


#: stepwise exact floor((a*a/d) * 1e10): every intermediate provably
#: fits its type (quotients in BIGINT, products in 38-digit integers),
#: because Spark's DECIMAL DIV silently WRAPS quotients past 2^63 —
#: verified empirically, so the naive one-step a*a*SC DIV d is unsafe.
#:   a*a/d = a*(a DIV d) + a*(a MOD d)/d,  and the second term is < a.
#: Envelope: exact while a <= ~1e15 and a*(a MOD d) < 1e38 — i.e. BIGINT
#: rank sums, the same ~1e9-rows-per-cell envelope the Mann-Whitney /
#: bitmap-distinct family already documents. Beyond it, swap the final
#: fraction step to double (loses cross-engine bit-identity only).
def _sq_div_scaled(a: str, d: str) -> str:
    """Spark text: a BIGINT >= 0, d BIGINT > 0 -> DECIMAL scaled 1e10."""
    q1 = f"(({a}) DIV ({d}))"
    rem1 = f"(({a}) - {q1} * ({d}))"
    t2num = f"(CAST(({a}) AS DECIMAL(38,0)) * {rem1})"
    q2 = f"({t2num} DIV ({d}))"
    rem2 = f"({t2num} - CAST({q2} AS DECIMAL(38,0)) * ({d}))"
    frac = f"(({rem2} * {_SC10}) DIV ({d}))"
    return (
        f"((CAST(({a}) AS DECIMAL(38,0)) * {q1} + {q2}) * {_SC10} + {frac})"
    )


def _sq_div_scaled_sql(a: str, d: str) -> str:
    """DuckDB twin of :func:`_sq_div_scaled` (HUGEINT floor division)."""
    a_h = f"CAST(({a}) AS HUGEINT)"
    q1 = f"({a_h} // ({d}))"
    rem1 = f"({a_h} - {q1} * ({d}))"
    t2num = f"({a_h} * {rem1})"
    q2 = f"({t2num} // ({d}))"
    rem2 = f"({t2num} - {q2} * ({d}))"
    frac = f"(({rem2} * {_SC10}) // ({d}))"
    return f"(({a_h} * {q1} + {q2}) * {_SC10} + {frac})"


@register(
    "stats_kruskal_wallis",
    oracle=f"""
        WITH pooled AS (
            SELECT event_type, value FROM events WHERE value IS NOT NULL
        ),
        ranked AS (
            SELECT event_type,
                   2 * rank() OVER (ORDER BY value)
                     + COUNT(*) OVER (PARTITION BY value) - 1 AS r2
            FROM pooled
        ),
        g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(r2) AS BIGINT) AS r2_i
            FROM ranked GROUP BY event_type
        ),
        ties AS (
            SELECT COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0) AS tsum
            FROM (SELECT COUNT(*) AS t FROM pooled GROUP BY value)
        ),
        sums AS (
            SELECT SUM({_sq_div_scaled_sql('r2_i', '4 * n_i')}) AS s4s,
                   CAST(SUM(n_i) AS BIGINT) AS n,
                   CAST(SUM(n_i) + 1 AS BIGINT) AS np1,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM g
        ),
        kw_exact_sums AS (
            SELECT s4s, n, np1, k,
                   CAST(n AS HUGEINT) * n * n - n AS n3n, tsum
            FROM sums, ties
        )
        {_kw_final(ddbl_sql).format(src='kw_exact_sums')}
    """,
    doc=(
        "Kruskal-Wallis H (the k-group nonparametric ANOVA — rank sums "
        "instead of means, the heavy-tail-robust 'does event_type shift "
        "the value distribution?' test) with the exact tie correction "
        "H/(1 - SUM(t^3-t)/(N^3-N)). Ranks reduce at distinct-value "
        "grain via operators/scalable.py value_rank_table (midrank2 = "
        "2*cnt_less + cnt_eq + 1 stays INTEGER), per-group R_i^2/n_i is "
        "a stepwise exact integer division scaled to 1e-10 (see "
        "_sq_div_scaled: Spark's decimal DIV wraps past 2^63, so the "
        "naive form is unsafe), and the only floats are the final "
        "shared closed form — bit-identical to DuckDB's single-window "
        "oracle. No global-order window ever touches row-grain data."
    ),
    tags=("stats", "window", "ab"),
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import value_rank_table

    t = Tables(spark, sf_dir)
    pooled = t.events.filter(F.col("value").isNotNull()).select("event_type", "value")
    vr = value_rank_table(pooled, "value", F.floor(F.col("value")).cast("bigint"))
    per_vg = pooled.groupBy("value", "event_type").agg(F.count(F.lit(1)).alias("kk"))
    ranked = per_vg.join(vr, "value").select(
        "event_type",
        "kk",
        (2 * F.col("cnt_less") + F.col("cnt_eq") + 1).alias("rank2"),
    )
    g = ranked.groupBy("event_type").agg(
        F.sum("kk").cast("bigint").alias("n_i"),
        F.sum(F.col("kk") * F.col("rank2")).cast("bigint").alias("r2_i"),
    )
    ties = vr.agg(
        F.coalesce(
            F.sum(F.expr("CAST(cnt_eq AS DECIMAL(38,0)) * cnt_eq * cnt_eq - cnt_eq")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("tsum")
    )
    sums = g.agg(
        F.expr(f"SUM({_sq_div_scaled('r2_i', '4 * n_i')})").alias("s4s"),
        F.sum("n_i").cast("bigint").alias("n"),
        (F.sum("n_i") + 1).cast("bigint").alias("np1"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    exact = sums.crossJoin(F.broadcast(ties)).selectExpr(
        "s4s", "n", "np1", "k",
        "CAST(n AS DECIMAL(38,0)) * n * n - n AS n3n", "tsum",
    )
    return spark.sql(_kw_final(ddbl), src=exact)


#: Kendall tau-b closed form — all-integer inputs, so the IDENTICAL
#: text runs on both engines (BIGINT -> DOUBLE casts are exact).
_KENDALL_FINAL = """
    SELECT ndays AS n_days, n0 AS n_pairs, c AS concordant, d AS discordant,
           n1t AS tie_pairs_x, n2t AS tie_pairs_y,
           CASE WHEN (n0 - n1t) = 0 OR (n0 - n2t) = 0 THEN NULL
                ELSE CAST(c - d AS DOUBLE)
                     / sqrt(CAST(n0 - n1t AS DOUBLE) * CAST(n0 - n2t AS DOUBLE))
           END AS tau_b
    FROM {src}
"""


@register(
    "stats_kendall_tau_daily",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS x,
                   SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS y
            FROM orders GROUP BY 1
        ),
        pairs AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS c_d_t,
                   CAST(SUM(CASE WHEN (b.x > a.x AND b.y > a.y)
                                   OR (b.x < a.x AND b.y < a.y)
                            THEN 1 ELSE 0 END) AS BIGINT) AS c,
                   CAST(SUM(CASE WHEN (b.x > a.x AND b.y < a.y)
                                   OR (b.x < a.x AND b.y > a.y)
                            THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM daily a JOIN daily b ON a.day < b.day
        ),
        tx AS (
            SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT) AS n1t
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x)
        ),
        ty AS (
            SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT) AS n2t
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)
        ),
        kendall_pair_sums AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS ndays,
                   CAST((SELECT CAST(COUNT(*) AS BIGINT) FROM daily)
                     * ((SELECT COUNT(*) FROM daily) - 1) // 2 AS BIGINT) AS n0,
                   c, d, n1t, n2t
            FROM pairs, tx, ty
        )
        {_KENDALL_FINAL.format(src='kendall_pair_sums')}
    """,
    doc=(
        "Kendall tau-b between daily order volume and daily revenue — "
        "the outlier-robust monotone-association test (Spearman's "
        "sibling that handles ties exactly). Concordant/discordant "
        "counts come from the day-grain pair join (calendar-bounded: "
        "|days|^2/2 pairs, the Theil-Sen shape — never fact-grain), "
        "revenue compares as an exact DECIMAL so tie detection never "
        "touches floats, and tau_b = (C-D)/sqrt((n0-n1)(n0-n2)) is one "
        "shared all-integer closed form — identical SQL text on both "
        "engines. At 100 TB only the one day-grain aggregate sees the "
        "fact table; the pair join is over a broadcast-sized calendar."
    ),
    tags=("stats", "timeseries", "ab"),
)
def stats_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(38,8))")).alias("y"),
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.day") < F.col("b.day"))
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN (b.x > a.x AND b.y > a.y)"
                " OR (b.x < a.x AND b.y < a.y) THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("c"),
            F.expr(
                "CAST(SUM(CASE WHEN (b.x > a.x AND b.y < a.y)"
                " OR (b.x < a.x AND b.y > a.y) THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("d"),
        )
    )
    tx = daily.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("t")).agg(
        F.coalesce(F.sum(F.expr("t * (t - 1) DIV 2")), F.lit(0))
        .cast("bigint")
        .alias("n1t")
    )
    ty = daily.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("t")).agg(
        F.coalesce(F.sum(F.expr("t * (t - 1) DIV 2")), F.lit(0))
        .cast("bigint")
        .alias("n2t")
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("ndays"))
    exact = (
        pairs.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(nd))
        .selectExpr("ndays", "ndays * (ndays - 1) DIV 2 AS n0", "c", "d", "n1t", "n2t")
    )
    return spark.sql(_KENDALL_FINAL, src=exact)


def _cramers_final(dbl) -> str:
    """Shared Cramér's V closed form over per-pair exact sums
    (pair, n, nr, nc, chi2s): chi2 = chi2s/1e10, v = sqrt(chi2/(n*mindim))."""
    chi2 = f"({dbl('chi2s')} / {_SC10}.0)"
    return f"""
        SELECT pair, n AS n_obs,
               CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
               {chi2} AS chi2,
               CASE WHEN nr < 2 OR nc < 2 THEN NULL
                    ELSE sqrt({chi2} / ({dbl('n')} * {dbl('mindim')}))
               END AS cramers_v
        FROM (SELECT pair, n, nr, nc, chi2s,
                     CAST(least(nr - 1, nc - 1) AS BIGINT) AS mindim
              FROM {{src}}) t
    """


def _cramers_cells_sql(src: str, rowk: str, colk: str, label: str) -> str:
    """DuckDB: one exact-sums row (pair, n, nr, nc, chi2s) for one
    contingency pair. chi2 contribution per cell is the exact scaled
    integer (obs*N - rt*ct)^2 * 1e10 / (rt*ct*N), stepwise in HUGEINT."""
    num2 = "CAST(obs * n - rt * ct AS HUGEINT) * (obs * n - rt * ct)"
    den = "CAST(rt AS HUGEINT) * ct * n"
    q1 = f"(({num2}) // ({den}))"
    rem = f"(({num2}) - {q1} * ({den}))"
    frac = f"(({rem} * {_SC10}) // ({den}))"
    return f"""
        SELECT '{label}' AS pair,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT rk) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT ck) AS BIGINT) AS nc,
               SUM({q1} * {_SC10} + {frac}) AS chi2s
        FROM (
            SELECT rk, ck, obs,
                   SUM(obs) OVER (PARTITION BY rk) AS rt,
                   SUM(obs) OVER (PARTITION BY ck) AS ct,
                   SUM(obs) OVER () AS n
            FROM (SELECT {rowk} AS rk, {colk} AS ck,
                         CAST(COUNT(*) AS BIGINT) AS obs
                  FROM {src} GROUP BY 1, 2) cells
        ) m
    """


def _cramers_pair_spark(df: DataFrame, rowk, colk, label: str) -> DataFrame:
    """Spark twin of :func:`_cramers_cells_sql` — DECIMAL(38,0) stepwise
    division (quotients provably fit BIGINT: see _sq_div_scaled notes;
    envelope rt*ct >= N*(N/1e8) keeps q1 < 2^63 to ~1e9 rows/cell)."""
    from pyspark.sql import Window as W

    cells = df.groupBy(rowk.alias("rk"), colk.alias("ck")).agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    m = cells.select(
        "rk",
        "ck",
        "obs",
        F.sum("obs").over(W.partitionBy("rk")).cast("bigint").alias("rt"),
        F.sum("obs").over(W.partitionBy("ck")).cast("bigint").alias("ct"),
        F.sum("obs").over(W.partitionBy()).cast("bigint").alias("n"),
    )
    num2 = (
        "CAST(obs * n - rt * ct AS DECIMAL(38,0)) * (obs * n - rt * ct)"
    )
    den = "CAST(rt AS DECIMAL(38,0)) * ct * n"
    q1 = f"(({num2}) DIV ({den}))"
    rem = f"(({num2}) - CAST({q1} AS DECIMAL(38,0)) * ({den}))"
    frac = f"(({rem} * {_SC10}) DIV ({den}))"
    return m.agg(
        F.lit(label).alias("pair"),
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("rk").cast("bigint").alias("nr"),
        F.countDistinct("ck").cast("bigint").alias("nc"),
        F.expr(f"SUM(CAST({q1} AS DECIMAL(38,0)) * {_SC10} + {frac})").alias("chi2s"),
    )


@register(
    "stats_cramers_v",
    oracle=f"""
        WITH both_pairs AS (
            {_cramers_cells_sql(
                "(SELECT event_type,"
                " CAST(dayofweek(CAST(ts AS DATE)) AS INTEGER) AS dow FROM events)",
                "event_type", "dow", "event_type_x_dow")}
            UNION ALL
            {_cramers_cells_sql(
                "orders", "o_orderstatus", "o_orderpriority", "status_x_priority")}
        )
        {_cramers_final(ddbl_sql).format(src="both_pairs")}
    """,
    doc=(
        "Cramér's V — the normalized effect size the raw chi-square "
        "lacks (comparable across tables of different shape), for two "
        "contingency pairs: event_type x day-of-week and order status "
        "x priority. Extends stats_chi_square_independence (which "
        "leaves the cell SUM to the caller because a float fold is "
        "order-dependent) by folding chi2 EXACTLY: each cell's "
        "(obs*N - rt*ct)^2/(rt*ct*N) becomes a scaled integer via "
        "stepwise DECIMAL/HUGEINT division (truncation 1e-10, "
        "deterministic and identical on both engines), so the total "
        "is order-independent and the statistic bit-matches the "
        "oracle. Marginals are frameless windows over the bounded "
        "cell table — the fact tables are touched once each."
    ),
    tags=("stats", "agg", "quality"),
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "event_type", F.dayofweek(F.col("ts").cast("date")).cast("int").alias("dow")
    )
    p1 = _cramers_pair_spark(ev, F.col("event_type"), F.col("dow"), "event_type_x_dow")
    p2 = _cramers_pair_spark(
        t.orders, F.col("o_orderstatus"), F.col("o_orderpriority"), "status_x_priority"
    )
    exact = p1.unionByName(p2)
    return spark.sql(_cramers_final(ddbl), src=exact)


_ACF_MAX_LAG = 7


def _acf_final(dbl) -> str:
    """Pearson r per lag from exact DECIMAL pair sums — shared text."""
    return f"""
        SELECT lag, n AS n_pairs,
               CASE WHEN ({dbl('n')} * {dbl('sxx')} - {dbl('sx')} * {dbl('sx')}) <= 0
                      OR ({dbl('n')} * {dbl('syy')} - {dbl('sy')} * {dbl('sy')}) <= 0
                    THEN NULL
                    ELSE ({dbl('n')} * {dbl('sxy')} - {dbl('sx')} * {dbl('sy')})
                         / (sqrt({dbl('n')} * {dbl('sxx')} - {dbl('sx')} * {dbl('sx')})
                            * sqrt({dbl('n')} * {dbl('syy')} - {dbl('sy')} * {dbl('sy')}))
               END AS acf
        FROM {{src}}
        ORDER BY lag
    """


@register(
    "stats_acf_multi_lag",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,8))) AS DECIMAL(18,8)) AS x
            FROM events WHERE value IS NOT NULL GROUP BY 1
        ),
        pairs AS (
            SELECT l.lag, a.x AS xa, b.x AS xb
            FROM (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag) l
            JOIN daily a ON true
            JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
        ),
        acf_pair_sums AS (
            SELECT CAST(lag AS INTEGER) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(xa) AS sx, SUM(xb) AS sy,
                   SUM(CAST(xa AS DECIMAL(19,8)) * xa) AS sxx,
                   SUM(CAST(xb AS DECIMAL(19,8)) * xb) AS syy,
                   SUM(CAST(xa AS DECIMAL(19,8)) * xb) AS sxy
            FROM pairs GROUP BY 1
        )
        {_acf_final(ddbl_sql).format(src='acf_pair_sums')}
    """,
    doc=(
        "Autocorrelation function of the daily value series at lags "
        "1..7 — the seasonality fingerprint (a weekly cycle shows as a "
        "lag-7 peak) that extends stats_autocorrelation_lag1 to the "
        "full profile a forecasting pipeline inspects. Day-grain "
        "DECIMAL(18,8) sums make every pair product exact "
        "(18,8 x 18,8 -> 37,16 fits BOTH engines' decimal rules with "
        "no scale adjustment — wider operands would round differently "
        "per engine); pairs come from one lag-exploded join over the "
        "calendar-bounded day table; Pearson r per lag is the shared "
        "closed form over six exact sums. The fact table is touched "
        "once; everything after is metadata-scale."
    ),
    tags=("stats", "timeseries", "window"),
)
def stats_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.events.filter(F.col("value").isNotNull()).groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(
        F.expr("CAST(SUM(CAST(value AS DECIMAL(18,8))) AS DECIMAL(18,8))").alias("x")
    )
    a = daily.select(
        F.explode(F.expr(f"sequence(1, {_ACF_MAX_LAG})")).alias("lag"),
        F.col("day").alias("day_a"),
        F.col("x").alias("xa"),
    )
    b = daily.select(F.col("day").alias("day_b"), F.col("x").alias("xb"))
    pairs = a.join(
        F.broadcast(b), F.expr("day_b = date_add(day_a, lag)")
    )
    sums = pairs.groupBy(F.col("lag").cast("int").alias("lag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.expr("CAST(xa AS DECIMAL(19,8)) * xa")).alias("sxx"),
        F.sum(F.expr("CAST(xb AS DECIMAL(19,8)) * xb")).alias("syy"),
        F.sum(F.expr("CAST(xa AS DECIMAL(19,8)) * xb")).alias("sxy"),
    )
    return spark.sql(_acf_final(ddbl), src=sums)


#: standard-normal quantiles for alpha=0.05 (two-sided) and power=0.80,
#: precomputed in Python (inverse-CDF bisection) and shared as LITERALS
#: by both engines — the transcendental itself is never evaluated in
#: SQL, where libm differences would break cross-engine bit-identity
_Z_ALPHA2 = "1.9599639845400536e0"  # e-notation: parses as DOUBLE, not DECIMAL, on both engines
_Z_BETA = "0.8416212335729141e0"


def _power_final(dbl) -> str:
    """MDE closed form over exact per-day conversion sums: with daily
    traffic n/2 per arm, mde = (z_a + z_b) * sqrt(2*p*(1-p) / (n/2))."""
    p = f"({dbl('n_conv')} / {dbl('n_events')})"
    half = f"({dbl('n_events')} / 2.0)"
    mde = (
        f"(({_Z_ALPHA2} + {_Z_BETA})"
        f" * sqrt(2.0 * {p} * (1.0 - {p}) / {half}))"
    )
    return f"""
        SELECT horizon_days, n_events, n_conv,
               {p} AS base_rate,
               {mde} AS mde_abs,
               CASE WHEN n_conv = 0 THEN NULL
                    ELSE {mde} / {p} END AS mde_rel
        FROM {{src}}
        ORDER BY horizon_days
    """


@register(
    "stats_power_analysis_proportions",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                        AS BIGINT) AS c
            FROM events GROUP BY 1
        ),
        horizons AS (SELECT unnest([7, 14, 28]) AS horizon_days),
        power_day_sums AS (
            SELECT h.horizon_days,
                   CAST(SUM(d.n) AS BIGINT) AS n_events,
                   CAST(SUM(d.c) AS BIGINT) AS n_conv
            FROM horizons h
            JOIN daily d
              ON d.day > (SELECT MAX(day) FROM daily) - h.horizon_days
            GROUP BY h.horizon_days
        )
        {_power_final(ddbl_sql).format(src='power_day_sums')}
    """,
    doc=(
        "A/B test power analysis from observed traffic: for 7/14/28-"
        "day horizons ending at the newest data, the minimum "
        "detectable effect on the purchase conversion rate at "
        "alpha=0.05 (two-sided) and 80% power with a 50/50 split — "
        "the 'how long must this experiment run' planning primitive. "
        "The normal quantiles are Python-precomputed literals (the "
        "Benford-log trick: evaluating the transcendental in SQL "
        "would tie the hash to libm rounding); everything else is "
        "exact integer day-grain sums through one shared sqrt closed "
        "form. One fact scan; the horizon join runs on the bounded "
        "calendar table."
    ),
    tags=("stats", "ab", "agg"),
)
def stats_power_analysis_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)"
        ).alias("c"),
    )
    maxday = daily.agg(F.max("day").alias("max_day"))
    horizons = spark.range(1).select(
        F.explode(F.array(F.lit(7), F.lit(14), F.lit(28))).alias("horizon_days")
    )
    sums = (
        daily.crossJoin(F.broadcast(maxday))
        .crossJoin(F.broadcast(horizons))
        .filter(F.expr("day > date_sub(max_day, horizon_days)"))
        .groupBy("horizon_days")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("c").cast("bigint").alias("n_conv"),
        )
    )
    return spark.sql(_power_final(ddbl), src=sums)


def _wilson_final(dbl) -> str:
    """Wilson score interval closed form over exact (k, n) counts —
    sqrt is IEEE-correctly-rounded, so the whole form is shared text."""
    z = _Z_ALPHA2
    p = f"({dbl('k')} / {dbl('n')})"
    z2n = f"({z} * {z} / {dbl('n')})"
    centre = f"(({p} + {z2n} / 2.0) / (1.0 + {z2n}))"
    half = (
        f"(({z} * sqrt(({p} * (1.0 - {p}) + {z2n} / 4.0) / {dbl('n')}))"
        f" / (1.0 + {z2n}))"
    )
    return f"""
        SELECT segment, n AS n_users, k AS n_converted,
               {p} AS rate,
               {centre} - {half} AS ci_low,
               {centre} + {half} AS ci_high
        FROM {{src}}
        ORDER BY segment
    """


@register(
    "stats_wilson_conversion_intervals",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(user_id % 4 AS BIGINT) AS segment,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events GROUP BY user_id
        ),
        wilson_segment_counts AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(converted) AS BIGINT) AS k
            FROM per_user GROUP BY segment
        )
        {_wilson_final(ddbl_sql).format(src='wilson_segment_counts')}
    """,
    doc=(
        "Wilson score confidence intervals for per-segment user "
        "conversion rates (alpha=0.05) — the interval that behaves at "
        "the extremes where the naive Wald CI collapses (k=0 or k=n "
        "still gives a sane band), i.e. what an experiment dashboard "
        "should actually draw. The z quantile is the same Python-"
        "precomputed e-notation literal the power-analysis op uses "
        "(no SQL transcendentals except the correctly-rounded sqrt), "
        "counts reduce per user then per segment (two partial-agg "
        "shuffles, the cohort shape), and the closed form is one "
        "shared expression — bit-identical across engines."
    ),
    tags=("stats", "ab", "agg"),
)
def stats_wilson_conversion_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    per_user = (
        t.events.groupBy("user_id")
        .agg(
            F.expr(
                "MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            ).alias("converted")
        )
        .select(F.expr("CAST(user_id % 4 AS BIGINT)").alias("segment"), "converted")
    )
    counts = per_user.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("k"),
    )
    return spark.sql(_wilson_final(ddbl), src=counts)


def _cohens_final(dbl) -> str:
    """Effect-size closed form over exact two-arm DECIMAL power sums.

    d = (m1 - m2) / sd_pooled; Hedges g = J * d with the rational
    small-sample correction J = 1 - 3/(4*df - 1) (no gamma function
    needed at this accuracy level — Hedges & Olkin's own approximation)."""
    m1 = f"({dbl('s1')} / {dbl('nd1')})"
    m2 = f"({dbl('s2')} / {dbl('nd2')})"
    v1 = f"(({dbl('q1')} - {dbl('s1')} * {dbl('s1')} / {dbl('nd1')}) / ({dbl('nd1')} - 1.0))"
    v2 = f"(({dbl('q2')} - {dbl('s2')} * {dbl('s2')} / {dbl('nd2')}) / ({dbl('nd2')} - 1.0))"
    sp = (
        f"sqrt((({dbl('nd1')} - 1.0) * {v1} + ({dbl('nd2')} - 1.0) * {v2})"
        f" / ({dbl('nd1')} + {dbl('nd2')} - 2.0))"
    )
    d = f"(({m1} - {m2}) / {sp})"
    j = f"(1.0 - 3.0 / (4.0 * ({dbl('nd1')} + {dbl('nd2')} - 2.0) - 1.0))"
    return f"""
        SELECT n1, n2,
               {m1} AS mean_f, {m2} AS mean_o,
               {sp} AS sd_pooled,
               {d} AS cohens_d,
               {j} * {d} AS hedges_g
        FROM {{src}}
    """


@register(
    "stats_cohens_d_effect_size",
    oracle=f"""
        WITH cohens_arm_sums AS (
            SELECT
                CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n1,
                CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n2,
                CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE) AS nd1,
                CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS DOUBLE) AS nd2,
                {dsum_double_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS s1,
                {dsum_double_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")} AS s2,
                {dsum_double_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice * o_totalprice ELSE 0 END")} AS q1,
                {dsum_double_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice * o_totalprice ELSE 0 END")} AS q2
            FROM orders WHERE o_orderstatus IN ('F', 'O')
        )
        {_cohens_final(ddbl_sql).format(src='cohens_arm_sums')}
    """,
    doc=(
        "Standardized effect size between the F and O order-value "
        "arms: Cohen's d from the pooled standard deviation, plus "
        "Hedges' g with the rational small-sample correction "
        "J = 1 - 3/(4*df - 1) — the companion number a significance "
        "test (stats_welch_t_test) needs before anyone acts on it, "
        "because at these n a microscopic effect is still "
        "'significant'. Same exactness contract as Welch: one "
        "conditional-aggregate scan to DECIMAL power sums, then a "
        "shared IEEE closed form — no accumulation-order dependence "
        "at any partitioning."
    ),
    tags=("stats", "ab", "agg"),
)
def stats_cohens_d_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    sums = t.orders.filter(F.col("o_orderstatus").isin("F", "O")).agg(
        F.expr("CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)").alias("n1"),
        F.expr("CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT)").alias("n2"),
        F.expr("CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE)").alias("nd1"),
        F.expr("CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS DOUBLE)").alias("nd2"),
        dsum_double("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END").alias("s1"),
        dsum_double("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END").alias("s2"),
        dsum_double(
            "CASE WHEN o_orderstatus = 'F' THEN o_totalprice * o_totalprice ELSE 0 END"
        ).alias("q1"),
        dsum_double(
            "CASE WHEN o_orderstatus = 'O' THEN o_totalprice * o_totalprice ELSE 0 END"
        ).alias("q2"),
    )
    return spark.sql(_cohens_final(ddbl), src=sums)


@register(
    "stats_brown_forsythe_levene",
    oracle="""
        WITH med AS (
            SELECT event_type, median(value) AS med
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ),
        z AS (
            SELECT e.event_type, abs(e.value - m.med) AS z
            FROM events e JOIN med m ON e.event_type = m.event_type
            WHERE e.value IS NOT NULL
        ),
        g AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(z AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(z AS DECIMAL(38,8)) * z) AS VARCHAR) AS DOUBLE) AS s2
            FROM z
            GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n) AS DOUBLE) AS ntd,
                   list_reduce(list(s1 ORDER BY event_type), (a, b) -> a + b) AS st1,
                   list_reduce(list(s2 ORDER BY event_type), (a, b) -> a + b) AS st2,
                   list_reduce(list(s1 * s1 / nd ORDER BY event_type),
                               (a, b) -> a + b) AS sgm
            FROM g
        )
        SELECT n_total, k,
               sgm - st1 * st1 / ntd AS ss_between,
               st2 - sgm AS ss_within,
               ((sgm - st1 * st1 / ntd) / CAST(k - 1 AS DOUBLE))
                 / ((st2 - sgm) / CAST(n_total - k AS DOUBLE)) AS w_stat
        FROM tot
    """,
    doc=(
        "ST31 Brown-Forsythe (median-centered Levene) test for "
        "variance homogeneity across event types — the robustness "
        "companion stats_anova_oneway needs before its equal-variance "
        "assumption can be trusted: W = one-way ANOVA F computed on "
        "z_ij = |x_ij - median_g|. Spark's percentile(value, 0.5) and "
        "DuckDB's median share the interpolated definition bit-for-bit "
        "(agg_median_interpolated precedent); the 5-row median table "
        "broadcast-joins back onto the fact scan, and everything "
        "downstream is the ANOVA machine: per-group DECIMAL power "
        "sums, ORDER-PINNED cross-group folds, one shared closed form. "
        "Two fact scans total (median pass + deviation pass), both "
        "map-side-combined keyed aggs — no per-group sort survives at "
        "100 TB."
    ),
    tags=("stats", "ab", "agg"),
)
def stats_brown_forsythe_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr("CAST(SUM(CAST(z AS DECIMAL(38,8))) AS DOUBLE)").alias("s1"),
        F.expr("CAST(SUM(CAST(z AS DECIMAL(38,8)) * z) AS DOUBLE)").alias("s2"),
    )
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(event_type, {v} AS x))),"
        " s -> s.x), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("double").alias("ntd"),
        F.expr(fold.format(v="s1")).alias("st1"),
        F.expr(fold.format(v="s2")).alias("st2"),
        F.expr(fold.format(v="s1 * s1 / nd")).alias("sgm"),
    )
    return tot.select(
        "n_total",
        "k",
        F.expr("sgm - st1 * st1 / ntd").alias("ss_between"),
        F.expr("st2 - sgm").alias("ss_within"),
        F.expr(
            "((sgm - st1 * st1 / ntd) / CAST(k - 1 AS DOUBLE))"
            " / ((st2 - sgm) / CAST(n_total - k AS DOUBLE))"
        ).alias("w_stat"),
    )


@register(
    "stats_jackknife_ratio_se",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                   SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS r_dec,
                   COUNT(*) AS n_i
            FROM orders GROUP BY 1
        ),
        w AS (
            SELECT day, r_dec, n_i,
                   SUM(r_dec) OVER () AS r_tot,
                   SUM(n_i) OVER () AS n_tot
            FROM daily
        ),
        th AS (
            SELECT day, r_tot, n_tot,
                   CAST(CAST(r_tot - r_dec AS VARCHAR) AS DOUBLE)
                     / CAST(n_tot - n_i AS DOUBLE) AS theta
            FROM w
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(CAST(MAX(r_tot) AS VARCHAR) AS DOUBLE)
                 / CAST(MAX(n_tot) AS DOUBLE) AS theta_all,
               list_reduce(list(theta ORDER BY day), (a, b) -> a + b)
                 / CAST(COUNT(*) AS DOUBLE) AS theta_loo_mean,
               sqrt(greatest(0.0e0,
                   (CAST(COUNT(*) AS DOUBLE) - 1.0e0) / CAST(COUNT(*) AS DOUBLE)
                   * (list_reduce(list(theta * theta ORDER BY day), (a, b) -> a + b)
                      - list_reduce(list(theta ORDER BY day), (a, b) -> a + b)
                        * list_reduce(list(theta ORDER BY day), (a, b) -> a + b)
                        / CAST(COUNT(*) AS DOUBLE)))) AS jk_se,
               (CAST(COUNT(*) AS DOUBLE) - 1.0e0)
                 * (list_reduce(list(theta ORDER BY day), (a, b) -> a + b)
                      / CAST(COUNT(*) AS DOUBLE)
                    - CAST(CAST(MAX(r_tot) AS VARCHAR) AS DOUBLE)
                      / CAST(MAX(n_tot) AS DOUBLE)) AS jk_bias
        FROM th
    """,
    doc=(
        "ST32 delete-one-day jackknife (r4) — standard error and bias "
        "of the RATIO statistic revenue-per-order, where the jackknife "
        "is genuinely needed (a ratio's SE has no closed form the way "
        "a mean's does). The fact table reduces ONCE to the per-day "
        "(decimal revenue, order count) table; leave-one-out ratios "
        "theta_(i) = (R - r_i)/(N - n_i) are exact decimal arithmetic "
        "until one correctly-rounded division each, and the jackknife "
        "variance uses the sum-of-squares identity so no scalar joins "
        "back (single frameless window over the ~31-row day table + "
        "one final aggregate with ORDER-PINNED double folds). "
        "Complements sampling_poisson_bootstrap: deterministic "
        "resampling vs randomized, both exact-oracled."
    ),
    tags=("stats", "agg", "resampling"),
)
def stats_jackknife_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(
        F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("day")
    ).agg(
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(38,8))")).alias("r_dec"),
        F.count(F.lit(1)).alias("n_i"),
    )
    w = daily.select(
        "day",
        "r_dec",
        "n_i",
        F.sum("r_dec").over(W.partitionBy()).alias("r_tot"),
        F.sum("n_i").over(W.partitionBy()).alias("n_tot"),
    )
    th = w.select(
        "day",
        "r_tot",
        "n_tot",
        (
            F.expr("CAST(r_tot - r_dec AS DOUBLE)")
            / F.expr("CAST(n_tot - n_i AS DOUBLE)")
        ).alias("theta"),
    )
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(day, {v} AS x))),"
        " s -> s.x), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    return th.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("CAST(MAX(r_tot) AS DOUBLE) / CAST(MAX(n_tot) AS DOUBLE)").alias(
            "theta_all"
        ),
        F.expr(
            f"{fold.format(v='theta')} / CAST(COUNT(1) AS DOUBLE)"
        ).alias("theta_loo_mean"),
        F.expr(
            "sqrt(greatest(CAST(0.0 AS DOUBLE),"
            " (CAST(COUNT(1) AS DOUBLE) - CAST(1.0 AS DOUBLE)) / CAST(COUNT(1) AS DOUBLE)"
            f" * ({fold.format(v='theta * theta')}"
            f"    - {fold.format(v='theta')} * {fold.format(v='theta')}"
            "      / CAST(COUNT(1) AS DOUBLE))))"
        ).alias("jk_se"),
        F.expr(
            "(CAST(COUNT(1) AS DOUBLE) - CAST(1.0 AS DOUBLE))"
            f" * ({fold.format(v='theta')} / CAST(COUNT(1) AS DOUBLE)"
            "    - CAST(MAX(r_tot) AS DOUBLE) / CAST(MAX(n_tot) AS DOUBLE))"
        ).alias("jk_bias"),
    )


_PERM_B = 16  # randomization replicates

#: 16-bit Bernoulli(1/2) reassignment draws for the randomization
#: test: 4-hex-char slices of TWO salted md5 digests per row (digest
#: 'a' carries replicates 1-8, 'b' carries 9-16 — the same two-digest
#: amortization as the Poisson bootstrap, with a ':p:' salt so the
#: permutation draws are decorrelated from the bootstrap draws).
_PH16 = (
    "substr(md5(CAST(o_orderkey AS {st}) || ':p:' || "
    "CASE WHEN b <= 8 THEN 'a' ELSE 'b' END), ((b - 1) % 8) * 4 + 1, 4)"
)
_PH_DUCK = "CAST(('0x' || " + _PH16.format(st="VARCHAR") + ") AS BIGINT)"


@register(
    "stats_permutation_test_means",
    oracle=f"""
        WITH obs AS (
            SELECT COUNT(*) AS n_tot,
                   SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS s_tot,
                   COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                       AS n_urg,
                   COALESCE(SUM(CAST(o_totalprice AS DECIMAL(38,8)))
                       FILTER (WHERE o_orderpriority = '1-URGENT'),
                       CAST(0 AS DECIMAL(38,8))) AS s_urg
            FROM orders
        ),
        reps AS (
            SELECT b,
                   COUNT(*) FILTER (WHERE {_PH_DUCK} < 32768) AS n_a,
                   COALESCE(SUM(CAST(o_totalprice AS DECIMAL(38,8)))
                       FILTER (WHERE {_PH_DUCK} < 32768),
                       CAST(0 AS DECIMAL(38,8))) AS s_a
            FROM orders
            CROSS JOIN (SELECT unnest(range(1, {_PERM_B + 1})) AS b) bs
            GROUP BY b
        ),
        calc AS (
            SELECT b, n_a, n_tot,
                   CASE WHEN n_urg = 0 OR n_urg = n_tot THEN NULL
                        ELSE CAST(CAST(s_urg AS VARCHAR) AS DOUBLE)
                             / CAST(n_urg AS DOUBLE)
                           - CAST(CAST(s_tot - s_urg AS VARCHAR) AS DOUBLE)
                             / CAST(n_tot - n_urg AS DOUBLE)
                   END AS obs_diff,
                   CASE WHEN n_a = 0 OR n_a = n_tot THEN NULL
                        ELSE CAST(CAST(s_a AS VARCHAR) AS DOUBLE)
                             / CAST(n_a AS DOUBLE)
                           - CAST(CAST(s_tot - s_a AS VARCHAR) AS DOUBLE)
                             / CAST(n_tot - n_a AS DOUBLE)
                   END AS perm_diff
            FROM reps CROSS JOIN obs
        )
        SELECT CAST(b AS BIGINT) AS replicate,
               CAST(n_a AS BIGINT) AS n_a,
               obs_diff, perm_diff,
               CASE WHEN obs_diff IS NULL OR perm_diff IS NULL THEN NULL
                    ELSE abs(perm_diff) >= abs(obs_diff) END AS exceeds
        FROM calc
    """,
    doc=(
        "Fisher-style randomization test for the difference in mean "
        "order value between URGENT and non-URGENT orders: 16 "
        "deterministic label-reassignment replicates, each row "
        "re-drawn into side A by a salted 16-bit md5 Bernoulli(1/2) "
        "slice (the randomization-test relaxation of fixed-size "
        "permutation — group sizes vary binomially, the null of "
        "exchangeability is the same; exact on every engine, unlike "
        "rand()). ONE pass over the fact: the 16 draws are 32 "
        "conditional aggregates in a single wide agg (complement "
        "side = grand totals minus side A — no second scan), stacked "
        "to 16 rows after; the exchanged state is 2B+4 numbers per "
        "task no matter the fact size. Sums accumulate in "
        "DECIMAL(38,8) for shuffle-order independence; one double "
        "division per side at the end. The fraction of replicates "
        "with exceeds=true IS the Monte-Carlo p-value; 16 replicates "
        "bound it coarsely (demo B — the same plan carries B=1000 by "
        "widening the stack)."
    ),
    tags=("stats", "agg", "sampling"),
)
def stats_permutation_test_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 optimization (guide §1.2 per-task work): the original evaluated
    # CAST(conv(substr(h, pos, 4), 16, 10) AS BIGINT) < 32768 TWICE per
    # replicate per row (once in the count branch, once in the sum
    # branch — 64 conv+substr calls/row in the plan). The draw predicate
    # only asks whether a 16-bit hex slice is < 0x8000, which is exactly
    # "first hex digit in 0..7": md5() emits lowercase hex, and '0'..'7'
    # < '8' < '9' < 'a'..'f' in ASCII, so substr(h, pos, 1) < '8' is the
    # same Bernoulli draw with no radix conversion. The booleans and the
    # DECIMAL cast are projected ONCE per row; the 36 aggregates consume
    # plain column references. Same bits, same counts, same sums.
    t = Tables(spark, sf_dir)

    # r12: spread() before the hash battery (single-row-group layout)
    base = spread(
        t.orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    ).selectExpr(
        "o_totalprice",
        "o_orderpriority = '1-URGENT' AS is_urg",
        "md5(CAST(o_orderkey AS STRING) || ':p:' || 'a') AS ha",
        "md5(CAST(o_orderkey AS STRING) || ':p:' || 'b') AS hb",
    ).selectExpr(
        "CAST(o_totalprice AS DECIMAL(38,8)) AS price_dec",
        "is_urg",
        *[
            f"substr({'ha' if b <= 8 else 'hb'}, {((b - 1) % 8) * 4 + 1}, 1)"
            f" < '8' AS draw{b}"
            for b in range(1, _PERM_B + 1)
        ],
    )
    aggs = [
        F.expr("COUNT(*)").alias("n_tot"),
        F.expr("SUM(price_dec)").alias("s_tot"),
        F.expr("SUM(CASE WHEN is_urg THEN 1 ELSE 0 END)").alias("n_urg"),
        F.expr(
            "coalesce(SUM(CASE WHEN is_urg THEN price_dec END),"
            " CAST(0 AS DECIMAL(38,8)))"
        ).alias("s_urg"),
    ]
    for b in range(1, _PERM_B + 1):
        aggs.append(
            F.expr(f"SUM(CASE WHEN draw{b} THEN 1 ELSE 0 END)").alias(f"na{b}")
        )
        aggs.append(
            F.expr(
                f"coalesce(SUM(CASE WHEN draw{b} THEN price_dec END),"
                " CAST(0 AS DECIMAL(38,8)))"
            ).alias(f"sa{b}")
        )
    wide = base.agg(*aggs)
    stack = ", ".join(
        f"CAST({b} AS BIGINT), na{b}, sa{b}" for b in range(1, _PERM_B + 1)
    )
    return (
        wide.selectExpr(
            "n_tot", "s_tot", "n_urg", "s_urg",
            f"stack({_PERM_B}, {stack}) AS (replicate, n_a, s_a)",
        )
        # empty input: the wide agg still emits one all-NULL row and
        # stack would fabricate 16 NULL replicates
        .filter("n_tot IS NOT NULL AND n_tot > 0")
        .selectExpr(
            "replicate",
            "CAST(n_a AS BIGINT) AS n_a",
            "CASE WHEN n_urg = 0 OR n_urg = n_tot THEN NULL"
            "     ELSE CAST(s_urg AS DOUBLE) / CAST(n_urg AS DOUBLE)"
            "        - CAST(s_tot - s_urg AS DOUBLE)"
            "          / CAST(n_tot - n_urg AS DOUBLE) END AS obs_diff",
            "CASE WHEN n_a = 0 OR n_a = n_tot THEN NULL"
            "     ELSE CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
            "        - CAST(s_tot - s_a AS DOUBLE)"
            "          / CAST(n_tot - n_a AS DOUBLE) END AS perm_diff",
        )
        .selectExpr(
            "replicate", "n_a", "obs_diff", "perm_diff",
            "CASE WHEN obs_diff IS NULL OR perm_diff IS NULL THEN NULL"
            "     ELSE abs(perm_diff) >= abs(obs_diff) END AS exceeds",
        )
    )


@register(
    "stats_hodges_lehmann_shift",
    oracle="""
        WITH dx AS (
            SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x
            FROM events WHERE event_type = 'click' GROUP BY 1
        ),
        dy AS (
            SELECT CAST(ts AS DATE) AS d, COUNT(*) AS y
            FROM events WHERE event_type = 'view' GROUP BY 1
        ),
        diffs AS (
            SELECT CAST(dx.x - dy.y AS BIGINT) AS diff
            FROM dx CROSS JOIN dy
        ),
        ranked AS (
            SELECT diff,
                   row_number() OVER (ORDER BY diff) AS rn,
                   COUNT(*) OVER () AS n
            FROM diffs
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN rn = (n + 1) // 2
                             OR rn = n // 2 + 1 THEN diff END) AS DOUBLE)
               / CAST(COUNT(CASE WHEN rn = (n + 1) // 2
                                 OR rn = n // 2 + 1 THEN 1 END) AS DOUBLE)
                   AS hl_shift
        FROM ranked
    """,
    doc=(
        "Hodges-Lehmann estimator of the location shift between the "
        "daily click-count and daily view-count distributions: the "
        "median of ALL pairwise differences X_i - Y_j — the estimator "
        "behind the Mann-Whitney test's confidence interval, 29% "
        "breakdown, no normality assumption. The pair space is day x "
        "day over the CALENDAR-GRAIN rollups (bounded by the span, "
        "never by event volume — a year is ~133k pairs at any corpus "
        "size), the same documented-bounded contract as Theil-Sen. "
        "Diffs are exact integers; the median is rank-based with the "
        "standard two-middle interpolation (exact because integer "
        "halves are dyadic). The rank runs as the bucket-offset "
        "construction (bucket = diff DIV 8) so a long horizon never "
        "single-partitions the pair table; the only single-partition "
        "window is the metadata-scale offsets prefix."
    ),
    tags=("stats", "robust", "window"),
)
def stats_hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_row_number

    t = Tables(spark, sf_dir)
    ev = t.events
    dx = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    dy = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.col("ts").cast("date").alias("d2"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    diffs = dx.crossJoin(F.broadcast(dy)).select(
        (F.col("x") - F.col("y")).cast("bigint").alias("diff")
    )
    total = diffs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = bucketed_row_number(
        diffs, F.expr("diff DIV 8"), ["diff"], out="rn"
    ).crossJoin(F.broadcast(total))
    mid = "rn = (n + 1) DIV 2 OR rn = n DIV 2 + 1"
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.expr(
            f"CAST(SUM(CASE WHEN {mid} THEN diff END) AS DOUBLE)"
            f" / CAST(COUNT(CASE WHEN {mid} THEN 1 END) AS DOUBLE)"
        ).alias("hl_shift"),
    )


@register(
    "stats_hellinger_category_drift",
    oracle="""
        WITH cnt AS (
            SELECT event_type,
                   COUNT(*) FILTER (
                       WHERE CAST(datediff('day', DATE '1970-01-01',
                                           CAST(ts AS DATE)) AS BIGINT)
                             % 2 = 0) AS ce,
                   COUNT(*) FILTER (
                       WHERE CAST(datediff('day', DATE '1970-01-01',
                                           CAST(ts AS DATE)) AS BIGINT)
                             % 2 = 1) AS co
            FROM events GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(SUM(ce) AS BIGINT) AS ne,
                   CAST(SUM(co) AS BIGINT) AS no
            FROM cnt
        ),
        bc AS (
            SELECT list_reduce(
                       list(sqrt((CAST(ce AS DOUBLE) / CAST(t.ne AS DOUBLE))
                                 * (CAST(co AS DOUBLE) / CAST(t.no AS DOUBLE)))
                            ORDER BY event_type),
                       (x, y) -> x + y) AS v
            FROM cnt CROSS JOIN tot t
        )
        SELECT ne AS n_even, no AS n_odd,
               CASE WHEN ne IS NULL OR ne = 0 OR no = 0 THEN NULL
                    ELSE bc.v END AS bhattacharyya,
               CASE WHEN ne IS NULL OR ne = 0 OR no = 0 THEN NULL
                    ELSE 1 - bc.v END AS hellinger_sq
        FROM tot CROSS JOIN bc
    """,
    doc=(
        "Hellinger-squared drift between the event-type distributions "
        "of even- vs odd-numbered days: H^2 = 1 - BC where BC = sum_t "
        "sqrt(p_t q_t) is the Bhattacharyya coefficient — the LOG-FREE "
        "divergence tier next to the TVD monitor (PSI/KL need ln(), "
        "never bit-reproducible across engines; sqrt is a correctly-"
        "rounded IEEE op, so this one is hash-exact). The even/odd "
        "day split is a deterministic self-join-free A/B axis (no "
        "scalar date subquery, no broadcast). One pass: per-type "
        "conditional counts collapse map-side to |types| rows; the "
        "5-term BC folds in event_type order on both engines. 0 <= "
        "H^2 <= 1, with 0 = identical distributions; an alerting "
        "threshold of ~0.01 catches mix shifts the count trend "
        "monitor misses."
    ),
    tags=("stats", "drift", "agg"),
)
def stats_hellinger_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    cnt = (
        t.events.groupBy("event_type")
        .agg(
            F.expr(
                "SUM(CASE WHEN CAST(datediff(CAST(ts AS DATE),"
                " DATE '1970-01-01') AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END)"
            ).alias("ce"),
            F.expr(
                "SUM(CASE WHEN CAST(datediff(CAST(ts AS DATE),"
                " DATE '1970-01-01') AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END)"
            ).alias("co"),
        )
    )
    wide = cnt.agg(
        F.expr("CAST(SUM(ce) AS BIGINT)").alias("n_even"),
        F.expr("CAST(SUM(co) AS BIGINT)").alias("n_odd"),
        F.expr("array_sort(collect_list(struct(event_type, ce, co)))").alias(
            "terms"
        ),
    )
    return wide.selectExpr(
        "n_even",
        "n_odd",
        "CASE WHEN n_even IS NULL OR n_even = 0 OR n_odd = 0 THEN NULL"
        "     ELSE aggregate(terms, CAST(0.0 AS DOUBLE), (acc, p) -> acc"
        "          + sqrt((CAST(p.ce AS DOUBLE) / CAST(n_even AS DOUBLE))"
        "               * (CAST(p.co AS DOUBLE) / CAST(n_odd AS DOUBLE))))"
        " END AS bhattacharyya",
    ).selectExpr(
        "n_even",
        "n_odd",
        "bhattacharyya",
        "1 - bhattacharyya AS hellinger_sq",
    )


@register(
    "stats_mcnemar_paired",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'error'
                            AND CAST(datediff('day', DATE '1970-01-01',
                                              CAST(ts AS DATE)) AS BIGINT)
                                % 2 = 0 THEN 1 ELSE 0 END) AS x,
                   MAX(CASE WHEN event_type = 'error'
                            AND CAST(datediff('day', DATE '1970-01-01',
                                              CAST(ts AS DATE)) AS BIGINT)
                                % 2 = 1 THEN 1 ELSE 0 END) AS y
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS b,
                   CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c
            FROM per_user
        )
        SELECT n_users, b, c,
               CASE WHEN b + c = 0 THEN NULL ELSE
                   CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                   / CAST(b + c AS DOUBLE) END AS mcnemar_chi2
        FROM cells
    """,
    doc=(
        "McNemar's test with continuity correction over paired binary "
        "outcomes: per user, 'saw an error on an even-numbered day' "
        "vs 'on an odd-numbered day' — the paired-proportions test "
        "for before/after questions where the same subjects appear "
        "on both sides (two-proportion z is WRONG there; only the "
        "discordant pairs b and c carry information). Everything is "
        "integer until the single closing division — (|b-c|-1)^2 / "
        "(b+c) — so the oracle is hash-exact. One groupBy(user) pass "
        "with conditional MAX collapses map-side; the 2x2 cell "
        "counts are one more tiny agg. Compare chi2 against 3.84 "
        "(95%, 1 df). At 100 TB the user-grain agg is the only "
        "shuffle and it partial-aggregates."
    ),
    tags=("stats", "agg"),
)
def stats_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    day = "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
    per_user = t.events.groupBy("user_id").agg(
        F.expr(
            f"MAX(CASE WHEN event_type = 'error' AND {day} % 2 = 0"
            " THEN 1 ELSE 0 END)"
        ).alias("x"),
        F.expr(
            f"MAX(CASE WHEN event_type = 'error' AND {day} % 2 = 1"
            " THEN 1 ELSE 0 END)"
        ).alias("y"),
    )
    cells = per_user.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_users"),
        F.expr(
            "CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("b"),
        F.expr(
            "CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("c"),
    )
    return cells.selectExpr(
        "n_users",
        "b",
        "c",
        "CASE WHEN b + c = 0 THEN NULL ELSE"
        " CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)"
        " / CAST(b + c AS DOUBLE) END AS mcnemar_chi2",
    )


@register(
    "stats_friedman_test",
    oracle="""
        WITH k_all AS (
            SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events
        ),
        cell AS (
            SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2
        ),
        complete AS (
            SELECT c.d FROM cell c CROSS JOIN k_all
            GROUP BY c.d, k_all.k HAVING COUNT(*) = MAX(k_all.k)
        ),
        ranked AS (
            SELECT c.d, c.event_type,
                   CAST(rank() OVER (PARTITION BY c.d ORDER BY c.y)
                        AS DOUBLE)
                   + (CAST(COUNT(*) OVER (PARTITION BY c.d, c.y)
                           AS DOUBLE) - 1.0) / 2.0 AS r
            FROM cell c JOIN complete USING (d)
        ),
        rsums AS (
            SELECT event_type, SUM(r) AS rj,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM ranked GROUP BY event_type
        ),
        calc AS (
            SELECT CAST(MAX(n) AS BIGINT) AS n_blocks,
                   (SELECT MAX(k) FROM k_all) AS k,
                   SUM(rj * rj) AS s
            FROM rsums
        )
        SELECT n_blocks, k,
               CASE WHEN n_blocks = 0 THEN NULL ELSE
                   (12.0 * s) / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                                 * (CAST(k AS DOUBLE) + 1.0))
                   - 3.0 * CAST(n_blocks AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
               END AS q_stat
        FROM calc
    """,
    doc=(
        "Friedman rank test over day-blocked event-type counts: do "
        "the k event types keep the same volume ORDERING across days "
        "(the nonparametric repeated-measures ANOVA — robust where "
        "per-day volume shifts would wreck a raw-count ANOVA)? "
        "Blocks = days where all k types occur (complete blocks, the "
        "textbook requirement); within each block the counts take "
        "MID-RANKS — rank() + (ties-1)/2, exact multiples of 0.5, so "
        "every rank, rank sum, and squared sum is a dyadic rational "
        "and the float arithmetic is EXACT (order-insensitive) until "
        "the single closing division: Q = 12S/(nk(k+1)) - 3n(k+1), "
        "uncorrected for ties (documented; the mid-ranks themselves "
        "are tie-correct). One day-grain window pass + a k-row "
        "aggregate; the global type count is a one-row broadcast "
        "(whitelisted). Compare Q against chi2(k-1)."
    ),
    tags=("stats", "window", "agg"),
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    k_all = t.events.agg(
        F.countDistinct("event_type").cast("bigint").alias("k")
    )
    cell = t.events.groupBy(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("y"))
    complete = (
        cell.crossJoin(F.broadcast(k_all))
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.max("k").alias("k"),
        )
        .filter(F.col("nt") == F.col("k"))
        .select("d")
    )
    ranked = cell.join(complete, "d").select(
        "d",
        "event_type",
        (
            F.rank().over(W.partitionBy("d").orderBy("y")).cast("double")
            + (
                F.count(F.lit(1))
                .over(W.partitionBy("d", "y"))
                .cast("double")
                - F.lit(1.0)
            )
            / F.lit(2.0)
        ).alias("r"),
    )
    rsums = ranked.groupBy("event_type").agg(
        F.sum("r").alias("rj"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    calc = rsums.crossJoin(F.broadcast(k_all)).agg(
        F.max("n").cast("bigint").alias("n_blocks"),
        F.max("k").cast("bigint").alias("k"),
        F.sum(F.expr("rj * rj")).alias("s"),
    )
    return calc.selectExpr(
        "n_blocks",
        "k",
        "CASE WHEN n_blocks = 0 THEN NULL ELSE"
        " (12.0 * s) / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)"
        "               * (CAST(k AS DOUBLE) + 1.0))"
        " - 3.0 * CAST(n_blocks AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)"
        " END AS q_stat",
    )


@register(
    "stats_grubbs_max_outlier",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {dsum_double_sql('y')} AS sy,
                   {dsum_double_sql('y * y')} AS syy
            FROM daily
        ),
        forms AS (
            SELECT n, sy / CAST(n AS DOUBLE) AS mean_y,
                   sqrt((CAST(n AS DOUBLE) * syy - sy * sy)
                        / (CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - 1.0))) AS sd_y
            FROM s WHERE n >= 3
        ),
        dev AS (
            SELECT d.d, d.y, f.n, f.mean_y, f.sd_y,
                   abs(CAST(d.y AS DOUBLE) - f.mean_y) / f.sd_y AS g
            FROM daily d CROSS JOIN forms f
            WHERE f.sd_y > 0
        )
        SELECT n AS n_days, mean_y, sd_y,
               d AS outlier_day, y AS outlier_value, g AS g_stat
        FROM dev ORDER BY g DESC, d LIMIT 1
    """,
    doc=(
        "Grubbs' max-studentized-deviation statistic over the daily "
        "purchase-count series: G = max_t |y_t - mean| / sd, plus the "
        "day that attains it — the single-outlier screening test "
        "(compare G against the t-based critical value for the chosen "
        "alpha; the statistic itself is the distribution-free part "
        "and is what the engine computes). Day-grain sums accumulate "
        "in DECIMAL (order-independent) and collapse to one (n, sum, "
        "sumsq) row; mean and sd evaluate through one shared double "
        "closed form (sqrt correctly rounded), each day's deviation "
        "is one further shared expression, and the argmax breaks "
        "ties by day — hash-exact end to end. The one-row stats "
        "broadcast is whitelisted; series under 3 days (or zero "
        "variance) emit nothing on both engines."
    ),
    tags=("stats", "anomaly", "agg"),
)
def stats_grubbs_max_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum_double("y").alias("sy"),
        dsum_double("y * y").alias("syy"),
    )
    forms = s.filter(F.col("n") >= 3).selectExpr(
        "n",
        "sy / CAST(n AS DOUBLE) AS mean_y",
        "sqrt((CAST(n AS DOUBLE) * syy - sy * sy)"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd_y",
    )
    dev = (
        daily.crossJoin(F.broadcast(forms))
        .filter(F.col("sd_y") > 0)
        .selectExpr(
            "d", "y", "n", "mean_y", "sd_y",
            "abs(CAST(y AS DOUBLE) - mean_y) / sd_y AS g",
        )
    )
    # top-1 via orderBy+limit plans as TakeOrderedAndProject — the
    # distributed per-partition top-k merge, no single-partition window
    return (
        dev.orderBy(F.desc("g"), F.asc("d"))
        .limit(1)
        .selectExpr(
            "n AS n_days", "mean_y", "sd_y",
            "d AS outlier_day", "y AS outlier_value", "g AS g_stat",
        )
    )


# --- ST39: Benjamini-Hochberg FDR over per-type drift tests (r5) -----------

_BH_Q = 0.1  # FDR level (dyadic-close literal; identical text both engines)

#: shared closed-form tail: Welch-style z^2 from exact half sums, the
#: distribution-free Chebyshev p-bound p = min(1, 1/z^2) (an exact
#: rational in the sums — no erf/Phi, so no transcendental-libm skew),
#: and the BH step-up over the bounded per-type test table. {c} is the
#: engine's correctly-rounded DECIMAL->DOUBLE cast.
#: NOTE: a CTE-list *continuation* (no leading WITH) so the oracle can
#: prepend its own halves/sums CTEs; the Spark side prefixes "WITH ".
_BH_TAIL = """
    stats AS (
        SELECT event_type, n_a, n_b,
               (s_a / nd_a - s_b / nd_b) AS mdiff,
               ((q_a - s_a * s_a / nd_a) / (nd_a - 1)) / nd_a
                 + ((q_b - s_b * s_b / nd_b) / (nd_b - 1)) / nd_b AS se2
        FROM {src}
    ),
    tests AS (
        SELECT event_type, n_a, n_b,
               CASE WHEN se2 = 0 THEN 0.0
                    ELSE (mdiff * mdiff) / se2 END AS z2,
               CASE WHEN mdiff * mdiff = 0 THEN 1.0
                    WHEN se2 = 0 THEN 0.0
                    ELSE LEAST(1.0, se2 / (mdiff * mdiff)) END AS p_chebyshev
        FROM stats
    ),
    ranked AS (
        SELECT *,
               CAST(row_number() OVER (ORDER BY p_chebyshev, event_type) AS BIGINT)
                   AS p_rank,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM tests
    ),
    kmax AS (
        SELECT COALESCE(MAX(CASE WHEN p_chebyshev <= p_rank * CAST({q} AS DOUBLE) / m
                                 THEN p_rank END), 0) AS k
        FROM ranked
    )
    SELECT r.event_type, r.n_a, r.n_b, r.z2, r.p_chebyshev, r.p_rank,
           r.p_rank * CAST({q} AS DOUBLE) / r.m AS bh_threshold,
           CAST(CASE WHEN r.p_rank <= kmax.k THEN 1 ELSE 0 END AS INT) AS reject
    FROM ranked r CROSS JOIN kmax
    ORDER BY r.p_rank
"""


@register(
    "stats_benjamini_hochberg_fdr",
    oracle=f"""
        WITH halves AS (
            SELECT event_type,
                   CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) % 2 AS half,
                   value
            FROM events
        ),
        bh_type_half_sums AS (
            SELECT event_type,
                   CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS n_a,
                   CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS n_b,
                   CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS DOUBLE) AS nd_a,
                   CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS DOUBLE) AS nd_b,
                   CAST(CAST(SUM(CASE WHEN half = 0
                                 THEN CAST(value AS DECIMAL(38,8)) END)
                        AS VARCHAR) AS DOUBLE) AS s_a,
                   CAST(CAST(SUM(CASE WHEN half = 1
                                 THEN CAST(value AS DECIMAL(38,8)) END)
                        AS VARCHAR) AS DOUBLE) AS s_b,
                   CAST(CAST(SUM(CASE WHEN half = 0
                                 THEN CAST(value AS DECIMAL(38,8)) * value END)
                        AS VARCHAR) AS DOUBLE) AS q_a,
                   CAST(CAST(SUM(CASE WHEN half = 1
                                 THEN CAST(value AS DECIMAL(38,8)) * value END)
                        AS VARCHAR) AS DOUBLE) AS q_b
            FROM halves GROUP BY event_type
        ),
        {_BH_TAIL.format(src='bh_type_half_sums', q=_BH_Q)}
    """,
    doc=(
        "ST39: Benjamini-Hochberg FDR control (q=0.1) over the family "
        "of per-event-type drift tests: each type's value distribution "
        "is compared between even and odd epoch days (Welch z^2 from "
        "exact DECIMAL power sums), p-values are the distribution-free "
        "Chebyshev bound min(1, 1/z^2) — an exact rational of the sums, "
        "deliberately chosen over Phi(|z|) because erf is transcendental "
        "and libm-divergent across engines — and the BH step-up rejects "
        "the largest prefix of the p-ordered tests under i*q/m. The "
        "fact scan collapses to one row per (type, parity) in a single "
        "aggregate; ranking runs over the bounded per-type test table "
        "(|event types| rows of metadata), so the window is never "
        "fact-grain. The multiple-testing gate every drift-monitor "
        "dashboard needs before alerting on its widest scan."
    ),
    tags=("stats", "ab", "quality"),
)
def stats_benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    halves = t.events.select(
        "event_type",
        (F.expr("datediff(CAST(ts AS DATE), DATE'1970-01-01')") % 2).alias("half"),
        "value",
    )
    sums = halves.groupBy("event_type").agg(
        F.expr("CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS BIGINT)").alias("n_a"),
        F.expr("CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT)").alias("n_b"),
        F.expr("CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS DOUBLE)").alias("nd_a"),
        F.expr("CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS DOUBLE)").alias("nd_b"),
        F.expr(
            "CAST(SUM(CASE WHEN half = 0 THEN CAST(value AS DECIMAL(38,8)) END) AS DOUBLE)"
        ).alias("s_a"),
        F.expr(
            "CAST(SUM(CASE WHEN half = 1 THEN CAST(value AS DECIMAL(38,8)) END) AS DOUBLE)"
        ).alias("s_b"),
        F.expr(
            "CAST(SUM(CASE WHEN half = 0 THEN CAST(value AS DECIMAL(38,8)) * value END)"
            " AS DOUBLE)"
        ).alias("q_a"),
        F.expr(
            "CAST(SUM(CASE WHEN half = 1 THEN CAST(value AS DECIMAL(38,8)) * value END)"
            " AS DOUBLE)"
        ).alias("q_b"),
    )
    return spark.sql("WITH " + _BH_TAIL, src=sums, q=_BH_Q)


# ---------------------------------------------------------------------------
# round 5: ln-free sequential-diagnostics battery.  Spark's JVM log/exp do
# NOT bit-match DuckDB's libm (measured: ~1.5-10% of inputs differ in the
# last ulp), so every statistic below is built from +,-,*,/ and sqrt only —
# IEEE-deterministic given exact integer/decimal inputs — which is why
# Durbin-Watson / Ljung-Box / Cochran-Armitage / Cliff's delta / Cohen's
# kappa made the cut and Bartlett (needs ln of variances) did not.
# ---------------------------------------------------------------------------

@register(
    "stats_durbin_watson",
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(round(value * 10000) AS BIGINT) AS x,
                   lag(CAST(round(value * 10000) AS BIGINT))
                       OVER (PARTITION BY event_type
                             ORDER BY ts, event_id) AS xp
            FROM events WHERE value IS NOT NULL
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx_d,
                   CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx_d,
                   CAST(CAST(SUM(CASE WHEN xp IS NOT NULL
                                      THEN CAST((x - xp) * (x - xp) AS DECIMAL(38,0))
                                      END) AS VARCHAR) AS DOUBLE) AS d2_d
            FROM base GROUP BY event_type
        )
        SELECT event_type, n,
               (nd * d2_d) / (nd * sxx_d - sx_d * sx_d) AS durbin_watson
        FROM s
    """,
    doc=(
        "Durbin-Watson serial-correlation diagnostic per event_type "
        "stream (DW ~ 2 = white noise, -> 0 = positive autocorrelation, "
        "-> 4 = alternation): DW = sum((x_t - x_{t-1})^2) / sum((x_t - "
        "mean)^2), the residual-vs-mean-model form. One window pass "
        "pairs each 1e-4 fixed-point value with its predecessor (ts, "
        "event_id order), squared first differences and power sums "
        "accumulate as DECIMAL(38,0) integers (d^2 <= 1.1e13 per term, "
        "BIGINT-safe; sums decimal-safe past 1e19), and the denominator "
        "n*Sxx - Sx^2 = n^2 * centered-SS keeps the mean exact by "
        "scaling through rather than dividing early. The final ratio is "
        "ONE double expression over identically-cast inputs — bit-exact "
        "on both engines. One shuffle for the window, map-side combine "
        "for the sums; no Python, no collect."
    ),
    tags=("stats", "window", "timeseries"),
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    base = (
        t.events.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "ts",
            "event_id",
            F.expr("CAST(round(value * 10000) AS BIGINT)").alias("x"),
        )
        .withColumn("xp", F.lag("x").over(w))
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE)").alias("sx_d"),
        F.expr("CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE)").alias("sxx_d"),
        F.expr(
            "CAST(SUM(CASE WHEN xp IS NOT NULL"
            " THEN CAST((x - xp) * (x - xp) AS DECIMAL(38,0)) END) AS DOUBLE)"
        ).alias("d2_d"),
    )
    return s.select(
        "event_type",
        "n",
        F.expr("(nd * d2_d) / (nd * sxx_d - sx_d * sx_d)").alias("durbin_watson"),
    )


_LB_LAGS = 5

#: shared rho_k / Q formulas (identical expression TREE on both engines —
#: doubles from exact integer sums, so every rounding happens identically)
_LB_RHO = (
    "(spp{k}_d - (sx_d / nd) * (sh{k}_d + st{k}_d)"
    " + (nd - {k}.0) * (sx_d / nd) * (sx_d / nd))"
    " / (sxx_d - sx_d * sx_d / nd)"
)
_LB_Q = "nd * (nd + 2.0) * (" + " + ".join(
    f"rho{k} * rho{k} / (nd - {k}.0)" for k in range(1, _LB_LAGS + 1)
) + ")"


def _lb_oracle() -> str:
    lag_cols = ",\n                   ".join(
        f"lag(CAST(round(value * 10000) AS BIGINT), {k})"
        f" OVER (PARTITION BY event_type ORDER BY ts, event_id) AS xk{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    sums = ",\n                   ".join(
        f"CAST(CAST(SUM(CASE WHEN xk{k} IS NOT NULL"
        f" THEN CAST(x * xk{k} AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE) AS spp{k}_d,\n"
        f"                   CAST(CAST(SUM(CASE WHEN xk{k} IS NOT NULL"
        f" THEN CAST(x AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE) AS sh{k}_d,\n"
        f"                   CAST(CAST(SUM(CAST(xk{k} AS DECIMAL(38,0)))"
        f" AS VARCHAR) AS DOUBLE) AS st{k}_d"
        for k in range(1, _LB_LAGS + 1)
    )
    rhos = ",\n               ".join(
        _LB_RHO.format(k=k) + f" AS rho{k}" for k in range(1, _LB_LAGS + 1)
    )
    rho_names = ", ".join(f"rho{k}" for k in range(1, _LB_LAGS + 1))
    return f"""
        WITH base AS (
            SELECT event_type,
                   CAST(round(value * 10000) AS BIGINT) AS x,
                   {lag_cols}
            FROM events WHERE value IS NOT NULL
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx_d,
                   CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx_d,
                   {sums}
            FROM base GROUP BY event_type
        ),
        r AS (
            SELECT event_type, n, nd,
               {rhos}
            FROM s
        )
        SELECT event_type, n, {rho_names}, {_LB_Q} AS q_lb FROM r
    """


@register(
    "stats_ljung_box",
    oracle=_lb_oracle(),
    doc=(
        "Ljung-Box portmanteau test statistic per event_type (lags 1-5): "
        "Q = n(n+2) * sum_k rho_k^2/(n-k), the standard 'is this series "
        "white noise' gate run before fitting any forecaster. Sample "
        "autocorrelations rho_k use the full-series mean and the c_0 "
        "denominator; expanding the centered cross-products keeps every "
        "accumulated quantity an exact integer (1e-4 fixed-point values; "
        "per-lag pair-product, head and tail sums in DECIMAL(38,0)) and "
        "defers the mean to the shared double formula (_LB_RHO / _LB_Q), "
        "evaluated with the identical expression tree on both engines. "
        "ONE window pass produces all five lags (five lag() calls over "
        "the same sort — Spark plans a single Window node), one map-side-"
        "combined groupBy reduces 17 sums per type, and rho_1..rho_5 are "
        "materialized before Q so the statistic reuses the identical "
        "rounded doubles. No ln, no libm divergence risk, no Python."
    ),
    tags=("stats", "window", "timeseries"),
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    base = t.events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "ts",
        "event_id",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("x"),
    )
    for k in range(1, _LB_LAGS + 1):
        base = base.withColumn(f"xk{k}", F.lag("x", k).over(w))
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE)").alias("sx_d"),
        F.expr("CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE)").alias("sxx_d"),
    ]
    for k in range(1, _LB_LAGS + 1):
        aggs.append(
            F.expr(
                f"CAST(SUM(CASE WHEN xk{k} IS NOT NULL"
                f" THEN CAST(x * xk{k} AS DECIMAL(38,0)) END) AS DOUBLE)"
            ).alias(f"spp{k}_d")
        )
        aggs.append(
            F.expr(
                f"CAST(SUM(CASE WHEN xk{k} IS NOT NULL"
                f" THEN CAST(x AS DECIMAL(38,0)) END) AS DOUBLE)"
            ).alias(f"sh{k}_d")
        )
        aggs.append(
            F.expr(
                f"CAST(SUM(CAST(xk{k} AS DECIMAL(38,0))) AS DOUBLE)"
            ).alias(f"st{k}_d")
        )
    s = base.groupBy("event_type").agg(*aggs)
    r = s.select(
        "event_type",
        "n",
        "nd",
        *[
            F.expr(_LB_RHO.format(k=k)).alias(f"rho{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    return r.select(
        "event_type",
        "n",
        *[f"rho{k}" for k in range(1, _LB_LAGS + 1)],
        F.expr(_LB_Q).alias("q_lb"),
    )


_CA_Z = (
    "((nd * t1_d - rd * t2_d) / nd)"
    " / sqrt((rd / nd) * (1.0 - rd / nd) * (t3_d - t2_d * t2_d / nd))"
)


@register(
    "stats_cochran_armitage_trend",
    oracle=f"""
        WITH g AS (
            SELECT CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0)
                        AS BIGINT) AS score,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS resp
            FROM events
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(SUM(resp) AS BIGINT) AS r,
                   CAST(CAST(SUM(resp) AS BIGINT) AS DOUBLE) AS rd,
                   CAST(CAST(SUM(CAST(score * resp AS DECIMAL(38,0)))
                        AS VARCHAR) AS DOUBLE) AS t1_d,
                   CAST(CAST(SUM(CAST(score AS DECIMAL(38,0)))
                        AS VARCHAR) AS DOUBLE) AS t2_d,
                   CAST(CAST(SUM(CAST(score * score AS DECIMAL(38,0)))
                        AS VARCHAR) AS DOUBLE) AS t3_d
            FROM g
        )
        SELECT n, r, (nd * t1_d - rd * t2_d) / nd AS trend_t, {_CA_Z} AS z_score
        FROM s
    """,
    doc=(
        "Cochran-Armitage test for trend: is the purchase rate drifting "
        "monotonically across the five ISO weeks of the event window? "
        "The dose-response test behind 'is conversion degrading over "
        "time' release gates — more powerful than chi-square when the "
        "alternative is ordered. T = sum_i s_i (r_i - n_i R/N) with "
        "integer week scores s_i; everything accumulates as exact "
        "integers at ROW grain (score*resp, score, score^2 — no "
        "per-week pre-aggregation needed, the group sums telescope), "
        "then T and Var(T) = p(1-p)[sum s^2 n - (sum s n)^2/N] evaluate "
        "in one shared double expression (_CA_Z) ending in an "
        "IEEE-exact sqrt. Single map-side-combined global aggregate — "
        "the cheapest possible shape."
    ),
    tags=("stats", "ab", "timeseries"),
)
def stats_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    g = t.events.select(
        F.expr(
            "CAST(floor(datediff(CAST(ts AS DATE), DATE '2024-01-01') / 7.0) AS BIGINT)"
        ).alias("score"),
        F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END").alias("resp"),
    )
    s = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("resp").cast("bigint").alias("r"),
        F.sum("resp").cast("bigint").cast("double").alias("rd"),
        F.expr("CAST(SUM(CAST(score * resp AS DECIMAL(38,0))) AS DOUBLE)").alias("t1_d"),
        F.expr("CAST(SUM(CAST(score AS DECIMAL(38,0))) AS DOUBLE)").alias("t2_d"),
        F.expr("CAST(SUM(CAST(score * score AS DECIMAL(38,0))) AS DOUBLE)").alias("t3_d"),
    )
    return s.select(
        "n",
        "r",
        F.expr("(nd * t1_d - rd * t2_d) / nd").alias("trend_t"),
        F.expr(_CA_Z).alias("z_score"),
    )


_CLIFF_DELTA = "2.0 * ((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2)" \
    " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) - 1.0"
_CLIFF_BAND = (
    "CASE WHEN abs({d}) < 0.147 THEN 'negligible'"
    " WHEN abs({d}) < 0.33 THEN 'small'"
    " WHEN abs({d}) < 0.474 THEN 'medium'"
    " ELSE 'large' END"
)


@register(
    "stats_cliffs_delta",
    oracle=f"""
        WITH pooled AS (
            SELECT CASE WHEN event_type = 'view' THEN 1 ELSE 2 END AS grp,
                   value
            FROM events
            WHERE event_type IN ('view', 'signup') AND value IS NOT NULL
        ),
        ranked AS (
            SELECT grp,
                   2 * rank() OVER (ORDER BY value)
                     + COUNT(*) OVER (PARTITION BY value) - 1 AS rank2
            FROM pooled
        ),
        sums AS (
            SELECT
                CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                CAST(SUM(CASE WHEN grp = 1 THEN rank2 ELSE 0 END) AS BIGINT) AS r1x2
            FROM ranked
        )
        SELECT n1, n2, {_CLIFF_DELTA} AS cliffs_delta,
               {_CLIFF_BAND.format(d=_CLIFF_DELTA)} AS magnitude
        FROM sums
    """,
    doc=(
        "Cliff's delta ordinal effect size between the 'view' and "
        "'signup' value distributions: delta = P(X>Y) - P(X<Y) = "
        "2U/(n1*n2) - 1 — the assumption-free companion to Mann-Whitney "
        "that answers 'HOW different, not just significantly different' "
        "(the number a metrics review should quote instead of a bare "
        "p-value). Reuses the doubled-midrank machinery (integer tie "
        "handling: rank2 = 2*cnt_less + cnt_eq + 1 at distinct-value "
        "grain via operators/scalable.py value_rank_table — bucketed "
        "prefix sums, no global row-grain window), so U and delta are "
        "exact; the Romano magnitude bands (0.147/0.33/0.474) label the "
        "result. Same scale shape as stats_mann_whitney_u: one "
        "distinct-value reduction + one broadcast-joined prefix pass."
    ),
    tags=("stats", "ab", "window"),
)
def stats_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import value_rank_table

    t = Tables(spark, sf_dir)
    pooled = t.events.filter(
        F.col("event_type").isin("view", "signup") & F.col("value").isNotNull()
    ).select(
        F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 2 END").alias("grp"),
        "value",
    )
    vr = value_rank_table(pooled, "value", F.floor(F.col("value")).cast("bigint"))
    per_vg = pooled.groupBy("value", "grp").agg(F.count(F.lit(1)).alias("k"))
    ranked = per_vg.join(vr, "value").select(
        "grp", "k", (2 * F.col("cnt_less") + F.col("cnt_eq") + 1).alias("rank2")
    )
    sums = ranked.agg(
        F.expr("CAST(SUM(CASE WHEN grp = 1 THEN k ELSE 0 END) AS BIGINT)").alias("n1"),
        F.expr("CAST(SUM(CASE WHEN grp = 2 THEN k ELSE 0 END) AS BIGINT)").alias("n2"),
        F.expr(
            "CAST(SUM(CASE WHEN grp = 1 THEN k * rank2 ELSE 0 END) AS BIGINT)"
        ).alias("r1x2"),
    )
    return sums.select(
        "n1",
        "n2",
        F.expr(_CLIFF_DELTA).alias("cliffs_delta"),
        F.expr(_CLIFF_BAND.format(d=_CLIFF_DELTA)).alias("magnitude"),
    )


_KAPPA_GUESS = (
    "CASE WHEN list_contains(string_split(text, ' '), 'the')"
    " OR list_contains(string_split(text, ' '), 'a') THEN 'en'"
    " WHEN list_contains(string_split(text, ' '), 'le')"
    " OR list_contains(string_split(text, ' '), 'de') THEN 'fr'"
    " WHEN list_contains(string_split(text, ' '), 'el')"
    " OR list_contains(string_split(text, ' '), 'la') THEN 'es'"
    " ELSE 'und' END"
)


@register(
    "stats_cohens_kappa",
    oracle=f"""
        WITH rated AS (
            SELECT lang AS a, {_KAPPA_GUESS} AS b
            FROM documents
        ),
        marg_a AS (SELECT a AS cat, CAST(COUNT(*) AS BIGINT) AS ra FROM rated GROUP BY a),
        marg_b AS (SELECT b AS cat, CAST(COUNT(*) AS BIGINT) AS cb FROM rated GROUP BY b),
        chance AS (
            SELECT CAST(SUM(ma.ra * mb.cb) AS BIGINT) AS s
            FROM marg_a ma JOIN marg_b mb ON ma.cat = mb.cat
        ),
        agree AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS diag
            FROM rated
        )
        SELECT n, diag,
               CAST(diag AS DOUBLE) / CAST(n AS DOUBLE) AS p_observed,
               CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS p_expected,
               (CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 / (1.0 - CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 AS cohens_kappa
        FROM agree, chance
    """,
    doc=(
        "Cohen's kappa inter-rater agreement between the labeled lang "
        "column and the stopword-cascade language guesser (the same "
        "rule set as text_langid_heuristic) over ALL documents: kappa = "
        "(p_o - p_e)/(1 - p_e), chance-corrected agreement — the "
        "quality-assurance statistic for ANY pair of labelers in a "
        "training-data pipeline (heuristic vs model, annotator vs "
        "annotator). Marginals and the diagonal are integer counts; the "
        "chance term sum(row_c * col_c) joins the two marginal tables "
        "on category (|langs|+1 rows — broadcast, trivially), so the "
        "final kappa is one shared double expression over five exact "
        "integers. Two map-side-combined aggregates over one scan shape."
    ),
    tags=("stats", "text", "llm"),
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    has = lambda w: F.array_contains(words, w)  # noqa: E731
    rated = t.documents.select(
        F.col("lang").alias("a"),
        F.when(has("the") | has("a"), "en")
        .when(has("le") | has("de"), "fr")
        .when(has("el") | has("la"), "es")
        .otherwise("und")
        .alias("b"),
    )
    marg_a = rated.groupBy(F.col("a").alias("cat")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ra")
    )
    marg_b = rated.groupBy(F.col("b").alias("cat")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    chance = (
        marg_a.join(marg_b, "cat")
        .agg(F.expr("CAST(SUM(ra * cb) AS BIGINT)").alias("s"))
    )
    agree = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)").alias("diag"),
    )
    return agree.crossJoin(F.broadcast(chance)).select(
        "n",
        "diag",
        F.expr("CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)").alias("p_observed"),
        F.expr(
            "CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
        ).alias("p_expected"),
        F.expr(
            "(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)"
            " - CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
            " / (1.0 - CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
        ).alias("cohens_kappa"),
    )


_PH_DELTA_FIX = 500  # drift allowance delta = 0.05 in 1e-4 fixed point
_PH_LAMBDA = 20.0  # alarm threshold on the PH statistic


@register(
    "stats_page_hinkley_drift",
    oracle=f"""
        WITH base AS (
            SELECT event_type, event_id, ts,
                   CAST(round(value * 10000) AS BIGINT) AS x
            FROM events WHERE value IS NOT NULL
        ),
        tot AS (
            SELECT event_type, CAST(SUM(x) AS BIGINT) AS sx, COUNT(*) AS n
            FROM base GROUP BY event_type
        ),
        y AS (
            SELECT b.event_type, b.event_id, b.ts,
                   b.x * t.n - t.sx - t.n * {_PH_DELTA_FIX} AS yv, t.n AS n
            FROM base b JOIN tot t USING (event_type)
        ),
        p AS (
            SELECT event_type, event_id, ts, n,
                   CAST(SUM(yv) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pt
            FROM y
        ),
        m AS (
            SELECT event_type, event_id, n, pt,
                   MIN(pt) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS mt
            FROM p
        )
        SELECT event_type, event_id,
               CAST(CAST(pt - mt AS VARCHAR) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE)) AS ph_stat,
               CAST(CAST(pt - mt AS VARCHAR) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE)) > {_PH_LAMBDA}
                   AS alarm
        FROM m
    """,
    doc=(
        "Page-Hinkley change detector per event_type: m_t = "
        "sum_i(x_i - mean - delta), PH_t = m_t - min_(i<=t) m_i, alarm "
        "when PH_t > lambda — the sequential drift monitor (delta = "
        "0.05 drift allowance, lambda = 20) used by online-learning "
        "pipelines to trigger model retraining. Same max-plus rewrite "
        "as stats_cusum_drift_detector: scale the deviations through "
        "by n (y = n*x - sum(x) - n*delta_fix, all BIGINT in 1e-4 "
        "fixed point) so the prefix sum AND the prefix min are exact "
        "integers on one sorted window pass — no per-row recurrence, "
        "no Python — and the single double division plus threshold "
        "compare evaluate identically on both engines. The difference "
        "from CUSUM: PH subtracts the running minimum INCLUDING the "
        "current row (min can't exceed pt, so PH >= 0 without a "
        "clamp), and the delta term biases against benign wander so "
        "lambda survives long stationary streams."
    ),
    tags=("stats", "window", "timeseries", "anomaly"),
)
def stats_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    base = t.events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        "ts",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("x"),
    )
    tot = base.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    y = base.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "event_id",
        "ts",
        (
            F.col("x") * F.col("n") - F.col("sx") - F.col("n") * F.lit(_PH_DELTA_FIX)
        ).alias("yv"),
        "n",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = y.select(
        "event_type",
        "event_id",
        "ts",
        "n",
        F.sum("yv").over(w).cast("bigint").alias("pt"),
    )
    m = p.select(
        "event_type", "event_id", "n", "pt", F.min("pt").over(w).alias("mt")
    )
    ph = "CAST(pt - mt AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE))"
    return m.select(
        "event_type",
        "event_id",
        F.expr(ph).alias("ph_stat"),
        F.expr(f"{ph} > {_PH_LAMBDA}").alias("alarm"),
    )


_WSR_Z = (
    "(wp_d - nd * (nd + 1.0) / 4.0)"
    " / sqrt(nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0)"
)


@register(
    "stats_wilcoxon_signed_rank",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 10000) AS BIGINT)
                                 ELSE 0 END) AS BIGINT)
                 - CAST(SUM(CASE WHEN event_type = 'view'
                                 THEN CAST(round(value * 10000) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS diff
            FROM events WHERE event_type IN ('purchase', 'view')
            GROUP BY CAST(ts AS DATE)
        ),
        nz AS (SELECT day, diff, abs(diff) AS ad FROM daily WHERE diff <> 0),
        ranked AS (
            SELECT diff,
                   2 * rank() OVER (ORDER BY ad)
                     + COUNT(*) OVER (PARTITION BY ad) - 1 AS rank2
            FROM nz
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(SUM(CASE WHEN diff > 0 THEN rank2 ELSE 0 END)
                        AS DOUBLE) / 2.0 AS wp_d,
                   CAST(SUM(CASE WHEN diff < 0 THEN rank2 ELSE 0 END)
                        AS DOUBLE) / 2.0 AS wm_d
            FROM ranked
        )
        SELECT n, wp_d AS w_plus, wm_d AS w_minus, {_WSR_Z} AS z_score
        FROM s
    """,
    doc=(
        "Wilcoxon signed-rank test on the paired daily revenue "
        "difference (purchase minus view, 1e-4 fixed point, zero "
        "differences dropped per the classical procedure): the "
        "nonparametric paired test — 'did the intervention shift the "
        "per-day delta' without normality. Midrank ties use the "
        "doubled-rank integer trick (rank2 = 2*rank + ties - 1, so "
        "tie handling never touches floats; W+ = sum(rank2)/2 halves "
        "exactly because rank2 sums are even over complete tie "
        "groups... and /2.0 is an exact binary scale regardless). "
        "The pairing reduces facts to day grain in one distributed "
        "aggregate; ranks run over the <=31-row day table. z uses the "
        "exact-integer normal approximation in one shared double "
        "formula (_WSR_Z) ending in IEEE sqrt."
    ),
    tags=("stats", "ab", "window"),
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            (
                F.expr(
                    "CAST(SUM(CASE WHEN event_type = 'purchase'"
                    " THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END) AS BIGINT)"
                )
                - F.expr(
                    "CAST(SUM(CASE WHEN event_type = 'view'"
                    " THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END) AS BIGINT)"
                )
            ).alias("diff")
        )
    )
    nz = daily.filter(F.col("diff") != 0).select("diff", F.abs("diff").alias("ad"))
    ranked = nz.select(
        "diff",
        (
            2 * F.rank().over(W.orderBy("ad"))
            + F.count(F.lit(1)).over(W.partitionBy("ad"))
            - 1
        ).alias("rank2"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr(
            "CAST(SUM(CASE WHEN diff > 0 THEN rank2 ELSE 0 END) AS DOUBLE) / 2.0"
        ).alias("wp_d"),
        F.expr(
            "CAST(SUM(CASE WHEN diff < 0 THEN rank2 ELSE 0 END) AS DOUBLE) / 2.0"
        ).alias("wm_d"),
    )
    return s.select(
        "n",
        F.col("wp_d").alias("w_plus"),
        F.col("wm_d").alias("w_minus"),
        F.expr(_WSR_Z).alias("z_score"),
    )


_CHOW_SPLIT = 15  # day index of the candidate structural break
_CHOW_SEGS = {"f": "TRUE", "a": f"x < {_CHOW_SPLIT}", "b": f"x >= {_CHOW_SPLIT}"}

#: residual sum of squares of the per-segment OLS line, from exact
#: integer power sums — shared double expression per segment suffix
_CHOW_RSS = (
    "((syy_{s} - sy_{s} * sy_{s} / n_{s})"
    " - (sxy_{s} - sx_{s} * sy_{s} / n_{s}) * (sxy_{s} - sx_{s} * sy_{s} / n_{s})"
    " / (sxx_{s} - sx_{s} * sx_{s} / n_{s}))"
)
_CHOW_F = (
    f"(({_CHOW_RSS.format(s='f')} - ({_CHOW_RSS.format(s='a')}"
    f" + {_CHOW_RSS.format(s='b')})) / 2.0)"
    f" / (({_CHOW_RSS.format(s='a')} + {_CHOW_RSS.format(s='b')})"
    f" / (n_f - 4.0))"
)


def _chow_sums_sql() -> str:
    cols = []
    for s, cond in _CHOW_SEGS.items():
        cols.append(f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS DOUBLE) AS n_{s}")
        for name, expr in (
            ("sx", "x"),
            ("sy", "y"),
            ("sxx", "x * x"),
            ("sxy", "x * y"),
            ("syy", "y * y"),
        ):
            cols.append(
                f"CAST(CAST(SUM(CASE WHEN {cond}"
                f" THEN CAST({expr} AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE)"
                f" AS {name}_{s}"
            )
    return ",\n                   ".join(cols)


@register(
    "stats_chow_structural_break",
    oracle=f"""
        WITH base AS (
            SELECT event_type,
                   CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS x,
                   CAST(round(value * 10000) AS BIGINT) AS y
            FROM events WHERE value IS NOT NULL
        ),
        s AS (
            SELECT event_type,
                   {_chow_sums_sql()}
            FROM base GROUP BY event_type
        )
        SELECT event_type, CAST(n_f AS BIGINT) AS n,
               {_CHOW_RSS.format(s='f')} AS rss_full,
               {_CHOW_RSS.format(s='a')} AS rss_pre,
               {_CHOW_RSS.format(s='b')} AS rss_post,
               {_CHOW_F} AS f_stat
        FROM s
    """,
    doc=(
        "Chow test for a structural break at mid-month (day 15) in "
        "each event type's value-vs-time regression: F = ((RSS_pooled "
        "- RSS_1 - RSS_2)/k) / ((RSS_1 + RSS_2)/(n - 2k)) — the "
        "econometric 'did the relationship CHANGE at this date' test "
        "behind deploy-impact and regime-shift audits, sharper than "
        "comparing means because it detects slope changes too. Each "
        "segment's OLS residual sum collapses to five exact integer "
        "power sums (1e-4 fixed-point y, day-index x; conditional "
        "CASE aggregation computes full/pre/post in the SAME single "
        "pass — no second scan, no join); RSS and F evaluate via the "
        "shared templated expression (_CHOW_RSS/_CHOW_F) so both "
        "engines round identically. One map-side-combined groupBy on "
        "a five-key table; the cheapest possible distributed shape."
    ),
    tags=("stats", "timeseries", "ab"),
)
def stats_chow_structural_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    base = t.events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT)"
        ).alias("x"),
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("y"),
    )
    aggs = []
    for s, cond in _CHOW_SEGS.items():
        aggs.append(
            F.expr(f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS DOUBLE)").alias(
                f"n_{s}"
            )
        )
        for name, expr in (
            ("sx", "x"),
            ("sy", "y"),
            ("sxx", "x * x"),
            ("sxy", "x * y"),
            ("syy", "y * y"),
        ):
            aggs.append(
                F.expr(
                    f"CAST(SUM(CASE WHEN {cond}"
                    f" THEN CAST({expr} AS DECIMAL(38,0)) END) AS DOUBLE)"
                ).alias(f"{name}_{s}")
            )
    s = base.groupBy("event_type").agg(*aggs)
    return s.select(
        "event_type",
        F.col("n_f").cast("bigint").alias("n"),
        F.expr(_CHOW_RSS.format(s="f")).alias("rss_full"),
        F.expr(_CHOW_RSS.format(s="a")).alias("rss_pre"),
        F.expr(_CHOW_RSS.format(s="b")).alias("rss_post"),
        F.expr(_CHOW_F).alias("f_stat"),
    )


#: Ansari-Bradley normal approximation: parity-dependent exact moments
#: (no-ties form, documented as the approximation it is), one shared
#: CASE expression — pure rational arithmetic + IEEE sqrt.
_AB_Z = (
    "(ab_d - CASE WHEN n % 2 = 0"
    " THEN n1d * (nd + 2.0) / 4.0"
    " ELSE n1d * (nd + 1.0) * (nd + 1.0) / (4.0 * nd) END)"
    " / sqrt(CASE WHEN n % 2 = 0"
    " THEN n1d * n2d * (nd + 2.0) * (nd - 2.0) / (48.0 * (nd - 1.0))"
    " ELSE n1d * n2d * (nd + 1.0) * (3.0 + nd * nd) / (48.0 * nd * nd) END)"
)


@register(
    "stats_ansari_bradley",
    oracle=f"""
        WITH pooled AS (
            SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
                   value
            FROM events
            WHERE event_type IN ('click', 'error') AND value IS NOT NULL
        ),
        ranked AS (
            SELECT grp,
                   2 * rank() OVER (ORDER BY value)
                     + COUNT(*) OVER (PARTITION BY value) - 1 AS rank2,
                   COUNT(*) OVER () AS n
            FROM pooled
        ),
        scored AS (
            SELECT grp, n,
                   LEAST(rank2, 2 * (n + 1) - rank2) AS score2
            FROM ranked
        ),
        s AS (
            SELECT CAST(MAX(n) AS BIGINT) AS n,
                   CAST(MAX(n) AS DOUBLE) AS nd,
                   CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1d,
                   CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2d,
                   CAST(SUM(CASE WHEN grp = 1 THEN score2 ELSE 0 END) AS DOUBLE)
                       / 2.0 AS ab_d
            FROM scored
        )
        SELECT n, n1, ab_d AS ab_stat, {_AB_Z} AS z_score
        FROM s
    """,
    doc=(
        "Ansari-Bradley dispersion test (click vs error values): ranks "
        "fold inward from both ends — min(rank, N+1-rank) — so the "
        "statistic compares SPREAD, not location; the nonparametric "
        "answer to 'same median, but is one stream more volatile?' "
        "that Levene/Brown-Forsythe answer parametrically. Doubled "
        "midranks keep tie handling integer (score2 = min(rank2, "
        "2(N+1)-rank2) is exact integer folding of the midrank); the "
        "normal approximation uses the classical parity-dependent "
        "moments (no-ties form — stated as an approximation, like "
        "every rank test's z here) in one shared CASE expression "
        "(_AB_Z). One global-order rank pass at distinct-value grain; "
        "same scale shape as Mann-Whitney."
    ),
    tags=("stats", "ab", "window"),
)
def stats_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import value_rank_table

    t = Tables(spark, sf_dir)
    pooled = t.events.filter(
        F.col("event_type").isin("click", "error") & F.col("value").isNotNull()
    ).select(
        F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 2 END").alias("grp"),
        "value",
    )
    vr = value_rank_table(pooled, "value", F.floor(F.col("value")).cast("bigint"))
    per_vg = pooled.groupBy("value", "grp").agg(F.count(F.lit(1)).alias("k"))
    ranked = per_vg.join(vr, "value").select(
        "grp", "k", (2 * F.col("cnt_less") + F.col("cnt_eq") + 1).alias("rank2")
    )
    tot = ranked.agg(F.sum("k").alias("n_all")).first()["n_all"] or 0  # 0 on empty input
    scored = ranked.select(
        "grp",
        "k",
        F.least(F.col("rank2"), F.lit(2 * (tot + 1)) - F.col("rank2")).alias("score2"),
    )
    s = scored.agg(
        F.lit(tot).cast("bigint").alias("n"),
        F.lit(tot).cast("double").alias("nd"),
        F.expr("CAST(SUM(CASE WHEN grp = 1 THEN k ELSE 0 END) AS BIGINT)").alias("n1"),
        F.expr("CAST(SUM(CASE WHEN grp = 1 THEN k ELSE 0 END) AS DOUBLE)").alias("n1d"),
        F.expr("CAST(SUM(CASE WHEN grp = 2 THEN k ELSE 0 END) AS DOUBLE)").alias("n2d"),
        F.expr(
            "CAST(SUM(CASE WHEN grp = 1 THEN k * score2 ELSE 0 END) AS DOUBLE) / 2.0"
        ).alias("ab_d"),
    )
    return s.select("n", "n1", F.col("ab_d").alias("ab_stat"), F.expr(_AB_Z).alias("z_score"))


_MOOD_CHI2 = (
    "nd * (ad * dd - bd * cd) * (ad * dd - bd * cd)"
    " / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd))"
)


@register(
    "stats_mood_median_test",
    oracle=f"""
        WITH pooled AS (
            SELECT CASE WHEN event_type = 'view' THEN 1 ELSE 2 END AS grp,
                   value
            FROM events
            WHERE event_type IN ('view', 'error') AND value IS NOT NULL
        ),
        med AS (
            SELECT MIN(value) AS m FROM (
                SELECT pv AS value,
                       SUM(c) OVER (ORDER BY pv
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
                       (SELECT COUNT(*) FROM pooled) AS n
                FROM (SELECT value AS pv, COUNT(*) AS c FROM pooled GROUP BY value)
            ) WHERE cum >= CAST(ceil(n / 2.0) AS BIGINT)
        ),
        counts AS (
            SELECT
                CAST(SUM(CASE WHEN grp = 1 AND value > (SELECT m FROM med)
                         THEN 1 ELSE 0 END) AS BIGINT) AS a,
                CAST(SUM(CASE WHEN grp = 2 AND value > (SELECT m FROM med)
                         THEN 1 ELSE 0 END) AS BIGINT) AS b,
                CAST(SUM(CASE WHEN grp = 1 AND value <= (SELECT m FROM med)
                         THEN 1 ELSE 0 END) AS BIGINT) AS c,
                CAST(SUM(CASE WHEN grp = 2 AND value <= (SELECT m FROM med)
                         THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM pooled
        )
        SELECT (SELECT m FROM med) AS pooled_median, a, b, c, d,
               CAST(a + b + c + d AS DOUBLE) * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                   - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                 * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                   - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                 / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                    * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                    * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
                    * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))) AS chi2
        FROM counts
    """,
    doc=(
        "Mood's median test (view vs error): split both samples at the "
        "POOLED lower median, form the 2x2 above/at-or-below table, "
        "and compute the 1-df chi-square with the closed 2x2 form "
        "N(ad-bc)^2 / (row and column margins) — the coarse-but-robust "
        "location test that survives heavy ties and censoring where "
        "rank tests lose power. The pooled median comes from the "
        "distinct-value cumulative-count table (first value whose "
        "cumulative count reaches ceil(N/2) — integer rank bound, no "
        "percentile interpolation, so both engines pick the identical "
        "value); the 2x2 counts are one conditional aggregate; chi2 is "
        "a single shared expression over four exact integers."
    ),
    tags=("stats", "ab", "agg"),
)
def stats_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    pooled = t.events.filter(
        F.col("event_type").isin("view", "error") & F.col("value").isNotNull()
    ).select(
        F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 2 END").alias("grp"),
        "value",
    )
    per_val = pooled.groupBy("value").agg(F.count(F.lit(1)).alias("c"))
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)
    n_total = pooled.count()  # scalar query parameter
    med = (
        per_val.select("value", F.sum("c").over(w).alias("cum"))
        .filter(F.col("cum") >= -(-n_total // 2))
        .agg(F.min("value").alias("m"))
    )
    counts = pooled.crossJoin(F.broadcast(med)).agg(
        F.expr(
            "CAST(SUM(CASE WHEN grp = 1 AND value > m THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("a"),
        F.expr(
            "CAST(SUM(CASE WHEN grp = 2 AND value > m THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("b"),
        F.expr(
            "CAST(SUM(CASE WHEN grp = 1 AND value <= m THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("c"),
        F.expr(
            "CAST(SUM(CASE WHEN grp = 2 AND value <= m THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("d"),
        F.first("m").alias("pooled_median"),
    )
    chi2 = (
        "CAST(a + b + c + d AS DOUBLE) * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        " - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
        " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        " - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
        " / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))"
        " * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))"
        " * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))"
        " * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)))"
    )
    return counts.select(
        "pooled_median", "a", "b", "c", "d", F.expr(chi2).alias("chi2")
    )


#: CUPED adjusted variance, all from six exact sums; theta and the
#: variance identities evaluate in one shared expression tree
_CUPED_THETA = "(nd * sxy_d - sx_d * sy_d) / (nd * sxx_d - sx_d * sx_d)"
_CUPED_VARY = "(nd * syy_d - sy_d * sy_d) / (nd * (nd - 1.0))"
_CUPED_VARADJ = (
    "((nd * syy_d - sy_d * sy_d)"
    " - (nd * sxy_d - sx_d * sy_d) * (nd * sxy_d - sx_d * sy_d)"
    " / (nd * sxx_d - sx_d * sx_d)) / (nd * (nd - 1.0))"
)

#: overflow-safe exact product sum: per-user totals fit DECIMAL(19,0),
#: the product DECIMAL(37,0) <= both engines' 38-digit ceiling
_CUPED_PSUM = (
    "CAST(SUM(CAST(CAST({a} AS DECIMAL(19,0)) * CAST({b} AS DECIMAL(18,0))"
    " AS DECIMAL(38,0))) AS {t}) "
)


@register(
    "stats_cuped_variance_reduction",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                            THEN CAST(round(value * 10000) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                            THEN CAST(round(value * 10000) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS y
            FROM events WHERE value IS NOT NULL
            GROUP BY user_id
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx_d,
                   CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy_d,
                   CAST(CAST({_CUPED_PSUM.format(a='x', b='y', t='VARCHAR')} AS VARCHAR) AS DOUBLE) AS sxy_d,
                   CAST(CAST({_CUPED_PSUM.format(a='x', b='x', t='VARCHAR')} AS VARCHAR) AS DOUBLE) AS sxx_d,
                   CAST(CAST({_CUPED_PSUM.format(a='y', b='y', t='VARCHAR')} AS VARCHAR) AS DOUBLE) AS syy_d
            FROM per_user
        )
        SELECT n AS n_users,
               {_CUPED_THETA} AS theta,
               {_CUPED_VARY} AS var_y,
               {_CUPED_VARADJ} AS var_y_adjusted,
               100.0 * (1.0 - ({_CUPED_VARADJ}) / ({_CUPED_VARY}))
                   AS variance_reduction_pct
        FROM s
    """,
    doc=(
        "CUPED variance reduction (Deng et al. 2013 — the A/B-platform "
        "standard): adjust each user's experiment-period metric Y by "
        "their PRE-period covariate X (first vs second half-month "
        "here), theta = cov(X,Y)/var(X), and report how much metric "
        "variance the adjustment removes — var(Y_adj) = var(Y)(1-rho^2)"
        ", i.e. experiment sensitivity bought with data you already "
        "had. Per-user period totals are exact 1e-4 fixed-point BIGINTs "
        "from one conditional aggregate; cross-products go through "
        "DECIMAL(19)x DECIMAL(18) -> DECIMAL(37) (overflow-safe where "
        "a raw BIGINT product dies at ~1e19 at corpus scale), and "
        "theta/variances evaluate in shared expression templates — "
        "hash-exact. One user-keyed shuffle + one map-side global "
        "reduce; the exact shape a 100 TB experimentation pipeline "
        "runs nightly."
    ),
    tags=("stats", "ab", "agg"),
)
def stats_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    per_user = (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'"
                " THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'"
                " THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END) AS BIGINT)"
            ).alias("y"),
        )
    )
    s = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE)").alias("sx_d"),
        F.expr("CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)").alias("sy_d"),
        F.expr(_CUPED_PSUM.format(a="x", b="y", t="DOUBLE")).alias("sxy_d"),
        F.expr(_CUPED_PSUM.format(a="x", b="x", t="DOUBLE")).alias("sxx_d"),
        F.expr(_CUPED_PSUM.format(a="y", b="y", t="DOUBLE")).alias("syy_d"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.expr(_CUPED_THETA).alias("theta"),
        F.expr(_CUPED_VARY).alias("var_y"),
        F.expr(_CUPED_VARADJ).alias("var_y_adjusted"),
        F.expr(
            f"100.0 * (1.0 - ({_CUPED_VARADJ}) / ({_CUPED_VARY}))"
        ).alias("variance_reduction_pct"),
    )


#: Dickey-Fuller regression Delta x_t = alpha + rho * x_{t-1} + eps:
#: rho-hat, its standard error, and the DF t-statistic, all from six
#: exact sums over (y = Delta x, x = lag) pairs — shared templates.
_DF_RHO = "(nd * sxy_d - sx_d * sy_d) / (nd * sxx_d - sx_d * sx_d)"
_DF_RSS = (
    "(syy_d - sy_d * sy_d / nd)"
    " - (sxy_d - sx_d * sy_d / nd) * (sxy_d - sx_d * sy_d / nd)"
    " / (sxx_d - sx_d * sx_d / nd)"
)
_DF_T = (
    f"({_DF_RHO}) / sqrt((({_DF_RSS}) / (nd - 2.0))"
    f" / (sxx_d - sx_d * sx_d / nd))"
)


@register(
    "stats_dickey_fuller_unit_root",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, CAST(ts AS DATE)
        ),
        pairs AS (
            SELECT event_type,
                   v - lag(v) OVER w AS y,
                   lag(v) OVER w AS x
            FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx_d,
                   CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy_d,
                   CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(19,0))
                        * CAST(y AS DECIMAL(18,0)) AS DECIMAL(38,0)))
                        AS VARCHAR) AS DOUBLE) AS sxy_d,
                   CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(19,0))
                        * CAST(x AS DECIMAL(18,0)) AS DECIMAL(38,0)))
                        AS VARCHAR) AS DOUBLE) AS sxx_d,
                   CAST(CAST(SUM(CAST(CAST(y AS DECIMAL(19,0))
                        * CAST(y AS DECIMAL(18,0)) AS DECIMAL(38,0)))
                        AS VARCHAR) AS DOUBLE) AS syy_d
            FROM pairs WHERE x IS NOT NULL
            GROUP BY event_type
        )
        SELECT event_type, n, {_DF_RHO} AS rho_hat, {_DF_T} AS df_t_stat,
               {_DF_T} < -2.88 AS reject_unit_root
        FROM s
    """,
    doc=(
        "Dickey-Fuller unit-root test on each event type's daily total "
        "series: regress the first difference on the lagged level "
        "(with intercept) and report rho-hat and the DF t-statistic — "
        "the stationarity gate run before fitting ANY forecaster "
        "(differencing decisions, mean-reversion claims, spurious-"
        "regression protection). The -2.88 line is the classical 5% "
        "tau-mu critical value (n~50 table row) — a reference "
        "threshold, not a computed p-value. Facts reduce to day grain "
        "distributedly; the lag pairs and six power sums come from one "
        "window + one aggregate; cross-products route through "
        "DECIMAL(19)xDECIMAL(18) (daily totals overflow raw BIGINT "
        "squares at corpus scale); rho, RSS, and t evaluate in shared "
        "templates (_DF_*) — hash-exact, ln-free."
    ),
    tags=("stats", "timeseries"),
)
def stats_dickey_fuller_unit_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr("CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)").alias("v")
        )
    )
    w = W.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        (F.col("v") - F.lag("v").over(w)).alias("y"),
        F.lag("v").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    psum = (
        "CAST(SUM(CAST(CAST({a} AS DECIMAL(19,0)) * CAST({b} AS DECIMAL(18,0))"
        " AS DECIMAL(38,0))) AS DOUBLE)"
    )
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE)").alias("sx_d"),
        F.expr("CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)").alias("sy_d"),
        F.expr(psum.format(a="x", b="y")).alias("sxy_d"),
        F.expr(psum.format(a="x", b="x")).alias("sxx_d"),
        F.expr(psum.format(a="y", b="y")).alias("syy_d"),
    )
    return s.select(
        "event_type",
        "n",
        F.expr(_DF_RHO).alias("rho_hat"),
        F.expr(_DF_T).alias("df_t_stat"),
        F.expr(f"{_DF_T} < -2.88").alias("reject_unit_root"),
    )


#: Euler-Mascheroni constant and the Gumbel moment identities: both
#: engines parse the identical decimal literals into the same doubles,
#: and pi() is the correctly-rounded double of pi on both.
_GUMBEL_BETA = "sqrt(6.0 * (nd * sxx_d - sx_d * sx_d) / (nd * (nd - 1.0))) / pi()"
_GUMBEL_MU = f"sx_d / nd - 0.5772156649015329 * ({_GUMBEL_BETA})"


@register(
    "stats_gumbel_block_maxima",
    oracle=f"""
        WITH maxima AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(MAX(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS m
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, CAST(ts AS DATE)
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_blocks,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(m AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx_d,
                   CAST(CAST(SUM(CAST(m * m AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx_d
            FROM maxima GROUP BY event_type
        )
        SELECT event_type, n_blocks,
               ({_GUMBEL_MU}) / 10000.0 AS gumbel_mu,
               ({_GUMBEL_BETA}) / 10000.0 AS gumbel_beta
        FROM s
    """,
    doc=(
        "Extreme-value analysis by block maxima: take each event "
        "type's DAILY maximum (the Fisher-Tippett block), then fit a "
        "Gumbel distribution by the method of moments — beta = "
        "sqrt(6)*s/pi, mu = mean - gamma*beta (Euler-Mascheroni "
        "gamma) — the capacity-planning primitive behind 'how bad is "
        "a 1-in-N-day spike'. Moment fitting is deliberately chosen "
        "over maximum likelihood: MLE needs exp/ln iterations that "
        "bit-diverge across engines, while the moment identities are "
        "mean/variance arithmetic + IEEE sqrt + the shared pi() and "
        "gamma literals — hash-exact. (Return-level quantiles need "
        "ln(-ln p) and are left to the caller, same ln boundary as "
        "the rest of the battery.) Two cascading aggregates: fact -> "
        "day-max (map-side combinable), day-max -> moments."
    ),
    tags=("stats", "timeseries", "anomaly"),
)
def stats_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    maxima = (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr("CAST(MAX(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)").alias("m")
        )
    )
    s = maxima.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr("CAST(SUM(CAST(m AS DECIMAL(38,0))) AS DOUBLE)").alias("sx_d"),
        F.expr("CAST(SUM(CAST(m * m AS DECIMAL(38,0))) AS DOUBLE)").alias("sxx_d"),
    )
    return s.select(
        "event_type",
        "n_blocks",
        F.expr(f"({_GUMBEL_MU}) / 10000.0").alias("gumbel_mu"),
        F.expr(f"({_GUMBEL_BETA}) / 10000.0").alias("gumbel_beta"),
    )


@register(
    "stats_wasserstein_1d_emd",
    oracle="""
        WITH pooled AS (
            SELECT CAST(round(value * 10000) AS BIGINT) AS v,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_x,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_y
            FROM events
            WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        ),
        per_val AS (
            SELECT v, CAST(SUM(is_x) AS BIGINT) AS cx,
                   CAST(SUM(is_y) AS BIGINT) AS cy
            FROM pooled GROUP BY v
        ),
        tot AS (
            SELECT CAST(SUM(cx) AS BIGINT) AS nx, CAST(SUM(cy) AS BIGINT) AS ny
            FROM per_val
        ),
        steps AS (
            SELECT v,
                   CAST(SUM(cx) OVER w AS BIGINT) AS fx2,
                   CAST(SUM(cy) OVER w AS BIGINT) AS fy2,
                   lead(v) OVER (ORDER BY v) - v AS gap
            FROM per_val
            WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
        ),
        acc AS (
            SELECT CAST(CAST(SUM(CAST(abs(s.fx2 * t.ny - s.fy2 * t.nx) * s.gap
                        AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS emd_num,
                   CAST(MAX(t.nx) AS DOUBLE) AS nxd,
                   CAST(MAX(t.ny) AS DOUBLE) AS nyd,
                   CAST(MAX(t.nx) AS BIGINT) AS nx,
                   CAST(MAX(t.ny) AS BIGINT) AS ny
            FROM steps s, tot t WHERE s.gap IS NOT NULL
        )
        SELECT nx, ny,
               emd_num / (nxd * nyd * 10000.0) AS wasserstein_1d
        FROM acc
    """,
    doc=(
        "Exact 1-D Wasserstein distance (earth mover's distance) "
        "between the click and view value distributions: W1 = "
        "integral |F_X - F_Y| dt over the pooled support — the "
        "distribution-drift metric with UNITS (how far, in value "
        "terms, mass must move), unlike the unitless and "
        "ln-dependent KL/PSI the industry defaults to (and which the "
        "cross-engine ln divergence rules out of exact oracling "
        "here). Cross-multiplying the CDFs clears both denominators "
        "— |cx*ny - cy*nx| is an exact integer per distinct value, "
        "the step width is an integer gap, and the accumulated "
        "DECIMAL(38) sum divides once at the end — hash-exact. The "
        "distinct-value reduction is map-side; the single cumulative "
        "window runs at distinct-value grain (bucket-offset swap at "
        "corpus scale, as with the rank tests). The two totals "
        "broadcast as a one-row scalar."
    ),
    tags=("stats", "ab", "window"),
)
def stats_wasserstein_1d_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    pooled = t.events.filter(
        F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
    ).select(
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("v"),
        F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END").alias("is_x"),
        F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END").alias("is_y"),
    )
    per_val = pooled.groupBy("v").agg(
        F.sum("is_x").cast("bigint").alias("cx"),
        F.sum("is_y").cast("bigint").alias("cy"),
    )
    tot = per_val.agg(
        F.sum("cx").cast("bigint").alias("nx"), F.sum("cy").cast("bigint").alias("ny")
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    steps = per_val.select(
        "v",
        F.sum("cx").over(w).cast("bigint").alias("fx2"),
        F.sum("cy").over(w).cast("bigint").alias("fy2"),
        (F.lead("v").over(W.orderBy("v")) - F.col("v")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    acc = steps.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "CAST(SUM(CAST(abs(fx2 * ny - fy2 * nx) * gap AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias("emd_num"),
        F.expr("CAST(MAX(nx) AS DOUBLE)").alias("nxd"),
        F.expr("CAST(MAX(ny) AS DOUBLE)").alias("nyd"),
        F.max("nx").cast("bigint").alias("nx"),
        F.max("ny").cast("bigint").alias("ny"),
    )
    return acc.select(
        "nx", "ny", F.expr("emd_num / (nxd * nyd * 10000.0)").alias("wasserstein_1d")
    )


@register(
    "stats_energy_distance_two_sample",
    oracle="""
        WITH pooled AS (
            SELECT CAST(round(value * 10000) AS BIGINT) AS v,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_x,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_y
            FROM events
            WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        ),
        per_val AS (
            SELECT v, CAST(SUM(is_x) AS BIGINT) AS cx,
                   CAST(SUM(is_y) AS BIGINT) AS cy
            FROM pooled GROUP BY v
        ),
        tot AS (
            SELECT CAST(SUM(cx) AS BIGINT) AS nx, CAST(SUM(cy) AS BIGINT) AS ny
            FROM per_val
        ),
        steps AS (
            SELECT CAST(SUM(cx) OVER w AS BIGINT) AS fx2,
                   CAST(SUM(cy) OVER w AS BIGINT) AS fy2,
                   lead(v) OVER (ORDER BY v) - v AS gap
            FROM per_val
            WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
        ),
        sums AS (
            SELECT
                CAST(CAST(SUM(CAST((s.fx2 * (t.ny - s.fy2)
                     + s.fy2 * (t.nx - s.fx2)) * s.gap AS DECIMAL(38,0)))
                     AS VARCHAR) AS DOUBLE) AS sxy,
                CAST(CAST(SUM(CAST(s.fx2 * (t.nx - s.fx2) * s.gap
                     AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx,
                CAST(CAST(SUM(CAST(s.fy2 * (t.ny - s.fy2) * s.gap
                     AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS syy,
                CAST(MAX(t.nx) AS DOUBLE) AS nxd,
                CAST(MAX(t.ny) AS DOUBLE) AS nyd,
                CAST(MAX(t.nx) AS BIGINT) AS nx,
                CAST(MAX(t.ny) AS BIGINT) AS ny
            FROM steps s, tot t WHERE s.gap IS NOT NULL
        )
        SELECT nx, ny,
               (2.0 * sxy / (nxd * nyd)
                - 2.0 * sxx / (nxd * nxd)
                - 2.0 * syy / (nyd * nyd)) / 10000.0 AS energy_distance
        FROM sums
    """,
    doc=(
        "Energy distance between the click and view value samples: "
        "D = 2E|X-Y| - E|X-X'| - E|Y-Y'| (Szekely-Rizzo) — the modern "
        "kernel two-sample statistic, zero iff the distributions are "
        "identical, sensitive to ANY difference (location, scale, "
        "shape) where t-tests see only means. In 1-D every pairwise "
        "expectation is a CDF-step integral: sum of |x_i - y_j| = "
        "integral Fx(ny-Fy) + Fy(nx-Fx) dt over pooled gaps, and "
        "likewise within-sample — all integer products times integer "
        "gaps, accumulated in DECIMAL(38) (order-free), three shared "
        "double divisions at the end. Same distinct-value cumulative "
        "machinery as the Wasserstein op (one window at value grain, "
        "bucket-offset swap at corpus scale); no pair join ever "
        "materializes despite the statistic being defined over all "
        "nx*ny pairs."
    ),
    tags=("stats", "ab", "window"),
)
def stats_energy_distance_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    pooled = t.events.filter(
        F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
    ).select(
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("v"),
        F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END").alias("is_x"),
        F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END").alias("is_y"),
    )
    per_val = pooled.groupBy("v").agg(
        F.sum("is_x").cast("bigint").alias("cx"),
        F.sum("is_y").cast("bigint").alias("cy"),
    )
    tot = per_val.agg(
        F.sum("cx").cast("bigint").alias("nx"), F.sum("cy").cast("bigint").alias("ny")
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    steps = per_val.select(
        F.sum("cx").over(w).cast("bigint").alias("fx2"),
        F.sum("cy").over(w).cast("bigint").alias("fy2"),
        (F.lead("v").over(W.orderBy("v")) - F.col("v")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    sums = steps.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "CAST(SUM(CAST((fx2 * (ny - fy2) + fy2 * (nx - fx2)) * gap"
            " AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias("sxy"),
        F.expr(
            "CAST(SUM(CAST(fx2 * (nx - fx2) * gap AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(SUM(CAST(fy2 * (ny - fy2) * gap AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias("syy"),
        F.expr("CAST(MAX(nx) AS DOUBLE)").alias("nxd"),
        F.expr("CAST(MAX(ny) AS DOUBLE)").alias("nyd"),
        F.max("nx").cast("bigint").alias("nx"),
        F.max("ny").cast("bigint").alias("ny"),
    )
    return sums.select(
        "nx",
        "ny",
        F.expr(
            "(2.0 * sxy / (nxd * nyd) - 2.0 * sxx / (nxd * nxd)"
            " - 2.0 * syy / (nyd * nyd)) / 10000.0"
        ).alias("energy_distance"),
    )


@register(
    "stats_somers_d",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        pairs AS (
            SELECT
                CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                              OR (a.x > b.x AND a.y > b.y)
                         THEN 1 ELSE 0 END) AS BIGINT) AS c,
                CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                              OR (a.x > b.x AND a.y < b.y)
                         THEN 1 ELSE 0 END) AS BIGINT) AS d,
                CAST(SUM(CASE WHEN a.x <> b.x AND a.y = b.y
                         THEN 1 ELSE 0 END) AS BIGINT) AS ty
            FROM daily a JOIN daily b ON a.day < b.day
        )
        SELECT c AS concordant, d AS discordant, ty AS ties_y_only,
               CAST(c - d AS DOUBLE) / CAST(c + d + ty AS DOUBLE) AS somers_d
        FROM pairs
    """,
    doc=(
        "Somers' D of daily purchase count on daily click count: the "
        "ASYMMETRIC rank association (do purchase-heavier days follow "
        "click-heavier days?) — (C - D)/(C + D + T_y), penalizing "
        "only ties in the DEPENDENT variable, which is what makes it "
        "the standard for ordinal prediction quality (it equals the "
        "Gini coefficient of a binary classifier, 2*AUC - 1). "
        "Complements the symmetric Kendall tau-b already in the "
        "battery. Facts reduce to day grain distributedly; the "
        "all-pairs comparison runs over the calendar-bounded day "
        "table (435 pairs for a month — at corpus scale the pair "
        "counts come from the rank-table identities like tau-b's, "
        "documented trade). Concordant/discordant/tie counts are "
        "exact integers; one shared final division."
    ),
    tags=("stats", "agg", "timeseries"),
)
def stats_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("y"),
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).agg(
        F.expr(
            "CAST(SUM(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("concordant"),
        F.expr(
            "CAST(SUM(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("discordant"),
        F.expr(
            "CAST(SUM(CASE WHEN xa <> xb AND ya = yb THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("ties_y_only"),
    )
    return pairs.select(
        "concordant",
        "discordant",
        "ties_y_only",
        F.expr(
            "CAST(concordant - discordant AS DOUBLE)"
            " / CAST(concordant + discordant + ties_y_only AS DOUBLE)"
        ).alias("somers_d"),
    )


_THEIL_LAG = 7  # seasonal-naive baseline: same weekday last week


@register(
    "stats_theil_u2_forecast_skill",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        preds AS (
            SELECT event_type, day, y,
                   lag(y, 1) OVER w AS naive1,
                   lag(y, {_THEIL_LAG}) OVER w AS snaive
            FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_scored,
                   CAST(CAST(SUM(CAST((y - snaive) * (y - snaive)
                        AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sse_model,
                   CAST(CAST(SUM(CAST((y - naive1) * (y - naive1)
                        AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sse_naive
            FROM preds
            WHERE snaive IS NOT NULL AND naive1 IS NOT NULL
            GROUP BY event_type
        )
        SELECT event_type, n_scored,
               sqrt(sse_model / sse_naive) AS theil_u2,
               sqrt(sse_model / sse_naive) < 1.0 AS beats_naive
        FROM s
    """,
    doc=(
        "Theil's U2 forecast-skill ratio per event type: RMSE of the "
        "seasonal-naive forecaster (same weekday last week) over RMSE "
        "of the random-walk naive (yesterday) on daily counts — THE "
        "honest first question of any forecasting effort ('does my "
        "model beat copying yesterday?', U2 < 1 = yes), and the "
        "benchmark statistic the seasonal-naive backtest op produces "
        "errors for. Both squared-error sums are exact DECIMAL "
        "integers over the same scored rows (both lags non-null, so "
        "the comparison is apples-to-apples on the identical day "
        "set); the ratio and sqrt are one shared double expression — "
        "hash-exact, ln-free. One day-grain reduction, one window "
        "with two lags, one aggregate."
    ),
    tags=("stats", "timeseries"),
)
def stats_theil_u2_forecast_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    w = W.partitionBy("event_type").orderBy("day")
    preds = daily.select(
        "event_type",
        "day",
        "y",
        F.lag("y", 1).over(w).alias("naive1"),
        F.lag("y", _THEIL_LAG).over(w).alias("snaive"),
    ).filter(F.col("snaive").isNotNull() & F.col("naive1").isNotNull())
    s = preds.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.expr(
            "CAST(SUM(CAST((y - snaive) * (y - snaive) AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias("sse_model"),
        F.expr(
            "CAST(SUM(CAST((y - naive1) * (y - naive1) AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias("sse_naive"),
    )
    return s.select(
        "event_type",
        "n_scored",
        F.expr("sqrt(sse_model / sse_naive)").alias("theil_u2"),
        F.expr("sqrt(sse_model / sse_naive) < 1.0").alias("beats_naive"),
    )


# ---------------------------------------------------------------------------
# Round-6 additions (SURVEY §2.16): Jarque-Bera, Mann-Kendall, Bowley,
# Dixon's Q, exact unbinned two-sample KS — all ln-free (integer power
# sums / rank counts / fixed-point quantization + shared IEEE closed
# forms), same exactness discipline as the r5 sequential battery.
# ---------------------------------------------------------------------------


@register(
    "stats_jarque_bera",
    oracle="""
        WITH sums AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(SUM(q) AS DOUBLE) AS s1,
                   CAST(SUM(q * q) AS DOUBLE) AS s2,
                   CAST(SUM(q * q * q) AS DOUBLE) AS s3,
                   CAST(SUM(q * q * q * q) AS DOUBLE) AS s4
            FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
                  FROM lineitem)
            GROUP BY l_returnflag
        ),
        raw AS (
            SELECT l_returnflag, n, nd, s1 / nd AS mean,
                   s2 / nd AS r2, s3 / nd AS r3, s4 / nd AS r4
            FROM sums
        ),
        cm AS (
            SELECT l_returnflag, n, nd, mean,
                   r2 - mean * mean AS m2,
                   r3 - 3 * mean * r2 + 2 * mean * mean * mean AS m3,
                   r4 - 4 * mean * r3 + 6 * mean * mean * r2
                      - 3 * mean * mean * mean * mean AS m4
            FROM raw
        ),
        sk AS (
            SELECT l_returnflag, n, nd,
                   m3 / (m2 * sqrt(m2)) AS s,
                   m4 / (m2 * m2) - 3 AS k
            FROM cm
        )
        SELECT l_returnflag, n,
               (nd / 6.0) * (s * s + (k * k) / 4.0) AS jb_stat,
               (nd / 6.0) * (s * s + (k * k) / 4.0)
                   <= 5.991464547107979 AS normal_at_5pct
        FROM sk
        ORDER BY l_returnflag
    """,
    doc=(
        "Jarque-Bera normality test per returnflag, composed from the "
        "same exact BIGINT power sums as stats_skewness_kurtosis_exact "
        "(one map-side-combined shuffle; built-in skewness()/kurtosis() "
        "stream central moments in accumulation order and are not "
        "cross-engine reproducible): JB = n/6 * (S^2 + K^2/4) with the "
        "chi-square(2) 95%% critical value 5.9915 as a verdict column. "
        "Every step after the integer sums is one shared IEEE "
        "expression tree — hash-exact, ln-free, no pow()."
    ),
    tags=("stats", "agg"),
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    base = t.lineitem.select(
        "l_returnflag", F.expr("CAST(l_quantity AS BIGINT)").alias("q")
    )
    sums = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("q").cast("double").alias("s1"),
        F.expr("CAST(SUM(q * q) AS DOUBLE)").alias("s2"),
        F.expr("CAST(SUM(q * q * q) AS DOUBLE)").alias("s3"),
        F.expr("CAST(SUM(q * q * q * q) AS DOUBLE)").alias("s4"),
    )
    raw = sums.select(
        "l_returnflag", "n", "nd",
        F.expr("s1 / nd").alias("mean"),
        F.expr("s2 / nd").alias("r2"),
        F.expr("s3 / nd").alias("r3"),
        F.expr("s4 / nd").alias("r4"),
    )
    cm = raw.select(
        "l_returnflag", "n", "nd", "mean",
        F.expr("r2 - mean * mean").alias("m2"),
        F.expr("r3 - 3 * mean * r2 + 2 * mean * mean * mean").alias("m3"),
        F.expr(
            "r4 - 4 * mean * r3 + 6 * mean * mean * r2"
            " - 3 * mean * mean * mean * mean"
        ).alias("m4"),
    )
    sk = cm.select(
        "l_returnflag", "n", "nd",
        F.expr("m3 / (m2 * sqrt(m2))").alias("s"),
        F.expr("m4 / (m2 * m2) - 3").alias("k"),
    )
    return sk.select(
        "l_returnflag",
        "n",
        F.expr("(nd / 6.0) * (s * s + (k * k) / 4.0)").alias("jb_stat"),
        F.expr(
            "(nd / 6.0) * (s * s + (k * k) / 4.0) <= 5.991464547107979"
        ).alias("normal_at_5pct"),
    ).orderBy("l_returnflag")


@register(
    "stats_mann_kendall_trend",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        pairs AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN b.y > a.y THEN 1
                                 WHEN b.y < a.y THEN -1 ELSE 0 END)
                        AS BIGINT) AS s
            FROM daily a
            JOIN daily b ON a.event_type = b.event_type AND a.day < b.day
            GROUP BY a.event_type
        ),
        nn AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type
        ),
        ties AS (
            SELECT event_type,
                   CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                       AS tie_term
            FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
                  FROM daily GROUP BY event_type, y) g
            WHERE t > 1
            GROUP BY event_type
        ),
        v AS (
            SELECT nn.event_type, nn.n, p.s,
                   nn.n * (nn.n - 1) * (2 * nn.n + 5)
                       - COALESCE(t.tie_term, 0) AS var18
            FROM nn JOIN pairs p ON p.event_type = nn.event_type
            LEFT JOIN ties t ON t.event_type = nn.event_type
        )
        SELECT event_type, n AS n_days, s AS s_stat, var18 AS var_s_x18,
               CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
                                    / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
                                    / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    ELSE 0.0 END AS z_mk
        FROM v
        ORDER BY event_type
    """,
    doc=(
        "Mann-Kendall trend test on each event type's daily-count "
        "series: S = sum over day pairs of sign(y_j - y_i), the "
        "distribution-free monotone-trend detector (the hypothesis "
        "test behind stats_theil_sen_daily_trend's slope estimate), "
        "with the tie-corrected variance n(n-1)(2n+5) - sum t(t-1)"
        "(2t+5) kept as an exact x18 integer and the continuity-"
        "corrected Z one shared sqrt expression. Facts reduce to day "
        "grain distributedly; the pair comparison runs over the "
        "calendar-bounded per-type day table (the somers_d trade: "
        "435 pairs/month — at long horizons the pair sums fold from "
        "the rank-table identities). S, n, and the variance are exact "
        "integers — hash-exact, ln-free."
    ),
    tags=("stats", "timeseries"),
)
def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    a = daily.select("event_type", F.col("day").alias("day_a"), F.col("y").alias("ya"))
    b = daily.select("event_type", F.col("day").alias("day_b"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("day_a") < F.col("day_b"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        daily.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    v = (
        nn.join(pairs, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n",
            "s",
            F.expr(
                "n * (n - 1) * (2 * n + 5) - COALESCE(tie_term, 0)"
            ).alias("var18"),
        )
    )
    return v.select(
        F.col("event_type"),
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        F.col("var18").alias("var_s_x18"),
        F.expr(
            "CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)"
            " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
            " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)"
            " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
            " ELSE 0.0 END"
        ).alias("z_mk"),
    ).orderBy("event_type")


@register(
    "stats_bowley_quartile_skew",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               quantile_cont(l_quantity, 0.25) AS q1,
               quantile_cont(l_quantity, 0.5) AS q2,
               quantile_cont(l_quantity, 0.75) AS q3,
               (quantile_cont(l_quantity, 0.75) + quantile_cont(l_quantity, 0.25)
                - 2 * quantile_cont(l_quantity, 0.5))
               / (quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25))
                   AS bowley_skew
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    doc=(
        "Bowley (quartile) skewness per returnflag: (Q3 + Q1 - 2*Q2) / "
        "(Q3 - Q1) — the outlier-robust companion to the moment "
        "skewness in stats_skewness_kurtosis_exact (a single wild "
        "value moves the third moment arbitrarily but no quartile). "
        "l_quantity is integral, so the quarter-fraction linear "
        "interpolation is bit-identical in both engines (the "
        "sketch_exact_quantiles contract); the skew is one shared "
        "IEEE expression over the three quartiles."
    ),
    tags=("stats", "quantile"),
)
def stats_bowley_quartile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    q = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("percentile(l_quantity, 0.25)").alias("q1"),
        F.expr("percentile(l_quantity, 0.5)").alias("q2"),
        F.expr("percentile(l_quantity, 0.75)").alias("q3"),
    )
    return q.select(
        "l_returnflag",
        "n",
        "q1",
        "q2",
        "q3",
        F.expr("(q3 + q1 - 2 * q2) / (q3 - q1)").alias("bowley_skew"),
    ).orderBy("l_returnflag")


@register(
    "stats_dixon_q_outlier",
    oracle="""
        WITH daily AS (
            SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS x
            FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
        ),
        ranked AS (
            SELECT priority, x,
                   row_number() OVER (PARTITION BY priority
                                      ORDER BY x, day) AS ra,
                   row_number() OVER (PARTITION BY priority
                                      ORDER BY x DESC, day DESC) AS rd
            FROM daily
        ),
        ext AS (
            SELECT priority,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(MAX(CASE WHEN ra = 1 THEN x END) AS BIGINT) AS x_min,
                   CAST(MAX(CASE WHEN ra = 2 THEN x END) AS BIGINT) AS x_min2,
                   CAST(MAX(CASE WHEN rd = 2 THEN x END) AS BIGINT) AS x_max2,
                   CAST(MAX(CASE WHEN rd = 1 THEN x END) AS BIGINT) AS x_max
            FROM ranked GROUP BY priority
        )
        SELECT priority, n, x_min, x_max,
               CAST(x_min2 - x_min AS DOUBLE)
                   / CAST(x_max - x_min AS DOUBLE) AS q_low,
               CAST(x_max - x_max2 AS DOUBLE)
                   / CAST(x_max - x_min AS DOUBLE) AS q_high
        FROM ext
        ORDER BY priority
    """,
    doc=(
        "Dixon's Q ratios per priority over the daily-revenue series: "
        "q_low = (x(2)-x(1))/(x(n)-x(1)) and q_high = (x(n)-x(n-1))/"
        "(x(n)-x(1)) — the small-sample single-outlier screen (is the "
        "most extreme day a different population?) that complements "
        "Grubbs' variance-based test already in the battery. Revenue "
        "is exact integer cents; the four order statistics come from "
        "two row_number passes over the calendar-bounded per-priority "
        "day table (deterministic day tiebreak), so both gap ratios "
        "are single shared divisions of exact integers."
    ),
    tags=("stats", "anomaly"),
)
def stats_dixon_q_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.expr("CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "x"
        )
    )
    ranked = daily.select(
        "priority",
        "x",
        F.row_number()
        .over(W.partitionBy("priority").orderBy(F.col("x"), F.col("day")))
        .alias("ra"),
        F.row_number()
        .over(
            W.partitionBy("priority").orderBy(F.col("x").desc(), F.col("day").desc())
        )
        .alias("rd"),
    )
    ext = ranked.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(MAX(CASE WHEN ra = 1 THEN x END) AS BIGINT)").alias("x_min"),
        F.expr("CAST(MAX(CASE WHEN ra = 2 THEN x END) AS BIGINT)").alias("x_min2"),
        F.expr("CAST(MAX(CASE WHEN rd = 2 THEN x END) AS BIGINT)").alias("x_max2"),
        F.expr("CAST(MAX(CASE WHEN rd = 1 THEN x END) AS BIGINT)").alias("x_max"),
    )
    return ext.select(
        "priority",
        "n",
        "x_min",
        "x_max",
        F.expr(
            "CAST(x_min2 - x_min AS DOUBLE) / CAST(x_max - x_min AS DOUBLE)"
        ).alias("q_low"),
        F.expr(
            "CAST(x_max - x_max2 AS DOUBLE) / CAST(x_max - x_min AS DOUBLE)"
        ).alias("q_high"),
    ).orderBy("priority")


@register(
    "stats_ks_exact_two_sample",
    oracle="""
        WITH pts AS (
            SELECT CAST(round(value * 10000) AS BIGINT) AS x,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ic,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS iv
            FROM events
            WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        ),
        vg AS (
            SELECT x, CAST(SUM(ic) AS BIGINT) AS cc, CAST(SUM(iv) AS BIGINT) AS cv
            FROM pts GROUP BY x
        ),
        cum AS (
            SELECT x,
                   CAST(SUM(cc) OVER (ORDER BY x) AS BIGINT) AS c1,
                   CAST(SUM(cv) OVER (ORDER BY x) AS BIGINT) AS c2
            FROM vg
        ),
        tot AS (
            SELECT CAST(SUM(cc) AS BIGINT) AS n1, CAST(SUM(cv) AS BIGINT) AS n2
            FROM vg
        )
        SELECT n1 AS n_click, n2 AS n_view,
               CAST(CAST(MAX(abs(CAST(c1 AS HUGEINT) * n2
                                 - CAST(c2 AS HUGEINT) * n1)) AS VARCHAR)
                    AS DOUBLE) AS ks_sup_num,
               CAST(CAST(MAX(abs(CAST(c1 AS HUGEINT) * n2
                                 - CAST(c2 AS HUGEINT) * n1)) AS VARCHAR)
                    AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d_stat
        FROM cum, tot
        GROUP BY n1, n2
    """,
    doc=(
        "EXACT (unbinned) two-sample Kolmogorov-Smirnov D between the "
        "click and view value distributions — the zero-approximation "
        "companion to stats_ks_two_sample_binned: D = sup |F1 - F2| "
        "evaluated at every distinct value. Values quantize to 1e-4 "
        "fixed-point integers; the ECDFs are cumulative integer counts "
        "at DISTINCT-VALUE grain (map-side combinable), cumulated with "
        "the scalable.py bucket-offset construction (bucket = x DIV "
        "65536; the only single-partition window is the metadata-scale "
        "per-bucket prefix pass, and the one-row (n1, n2) totals "
        "broadcast is a documented-bounded BNLJ). The sup is the max "
        "of exact integer cross-products |c1*n2 - c2*n1|, computed in "
        "DECIMAL(38,0)/HUGEINT so n1*n2 past 2^63 cannot wrap "
        "(ADVICE r6), STRING-hopped to the exact double; one shared "
        "final division. At 100 TB the distinct-value table is what "
        "shuffles — never the fact rows."
    ),
    tags=("stats", "agg"),
)
def stats_ks_exact_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    pts = t.events.filter(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "view")
    ).select(
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("x"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ic"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("iv"),
    )
    vg = pts.groupBy("x").agg(
        F.sum("ic").cast("bigint").alias("cc"),
        F.sum("iv").cast("bigint").alias("cv"),
    )
    b = vg.withColumn("__bkt", F.expr("x DIV 65536"))
    bt = b.groupBy("__bkt").agg(
        F.sum("cc").alias("bc"), F.sum("cv").alias("bv")
    )
    wo = W.partitionBy().orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = bt.select(
        "__bkt",
        F.coalesce(F.sum("bc").over(wo), F.lit(0)).alias("oc"),
        F.coalesce(F.sum("bv").over(wo), F.lit(0)).alias("ov"),
    )
    tot = vg.agg(
        F.sum("cc").cast("bigint").alias("n1"),
        F.sum("cv").cast("bigint").alias("n2"),
    )
    wl = W.partitionBy("__bkt").orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    cum = b.join(F.broadcast(offs), "__bkt").select(
        (F.col("oc") + F.sum("cc").over(wl)).cast("bigint").alias("c1"),
        (F.col("ov") + F.sum("cv").over(wl)).cast("bigint").alias("c2"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            # ADVICE r6: the cross-multiply in BIGINT would wrap
            # silently at n1*n2 > 2^63 under non-ANSI Spark — compute
            # it in DECIMAL(38,0) (128-bit-exact like DuckDB's
            # HUGEINT) and hop through STRING for the exact double
            F.expr(
                "CAST(CAST(MAX(abs(CAST(c1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))"
                " - CAST(c2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0))))"
                " AS STRING) AS DOUBLE)"
            ).alias("ks_sup_num")
        )
        .select(
            F.col("n1").alias("n_click"),
            F.col("n2").alias("n_view"),
            "ks_sup_num",
            F.expr(
                "ks_sup_num / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
            ).alias("d_stat"),
        )
    )


@register(
    "stats_sign_test_paired",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        s AS (
            SELECT CAST(SUM(CASE WHEN x > y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                   CAST(SUM(CASE WHEN x < y THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
                   CAST(SUM(CASE WHEN x = y THEN 1 ELSE 0 END) AS BIGINT) AS n_tie
            FROM daily
        )
        SELECT n_pos, n_neg, n_tie,
               CAST(n_pos - n_neg AS DOUBLE)
                   / sqrt(CAST(n_pos + n_neg AS DOUBLE)) AS z_sign,
               abs(CAST(n_pos - n_neg AS DOUBLE)
                   / sqrt(CAST(n_pos + n_neg AS DOUBLE))) > 1.959963984540054
                   AS significant_at_5pct
        FROM s
    """,
    doc=(
        "Paired sign test on daily click vs view counts: the "
        "assumption-free location test (are click-heavier days more "
        "common than view-heavier days?) that needs ONLY the sign of "
        "each day's difference — the coarse, unbreakable sibling of "
        "the Wilcoxon signed-rank test already in the battery (which "
        "additionally ranks the magnitudes). Ties drop, per the "
        "classical definition; the normal-approximation z = "
        "(P - N)/sqrt(P + N) and the two-sided 5%% verdict (|z| > "
        "z_0.975) are one shared IEEE expression over exact integer "
        "counts. Facts reduce to day grain distributedly; everything "
        "after is metadata-scale."
    ),
    tags=("stats", "timeseries"),
)
def stats_sign_test_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    s = daily.agg(
        F.sum(F.when(F.col("x") > F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("x") < F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
        F.sum(F.when(F.col("x") == F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_tie"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        "n_tie",
        F.expr(
            "CAST(n_pos - n_neg AS DOUBLE) / sqrt(CAST(n_pos + n_neg AS DOUBLE))"
        ).alias("z_sign"),
        F.expr(
            "abs(CAST(n_pos - n_neg AS DOUBLE)"
            " / sqrt(CAST(n_pos + n_neg AS DOUBLE))) > 1.959963984540054"
        ).alias("significant_at_5pct"),
    )


#: shared closed forms for the 1-lag Granger regression — centered
#: second moments from exact integer sums, then Cramer's-rule OLS.
#: Restricted model: y_t ~ 1 + y_{t-1}; unrestricted adds x_{t-1}.
_GRANGER_MOMENTS = """
    CAST(n AS DOUBLE) AS nd,
    CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) AS caa,
    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cxx,
    CAST(sax AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cax,
    CAST(say AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cay,
    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cxy,
    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy
"""

_GRANGER_FINAL = """
    SELECT n AS n_obs,
           cyy - cay * cay / caa AS sse_restricted,
           cyy - ((cay * cxx - cxy * cax) / (caa * cxx - cax * cax)) * cay
               - ((cxy * caa - cay * cax) / (caa * cxx - cax * cax)) * cxy
               AS sse_unrestricted,
           ((cyy - cay * cay / caa)
            - (cyy - ((cay * cxx - cxy * cax) / (caa * cxx - cax * cax)) * cay
                   - ((cxy * caa - cay * cax) / (caa * cxx - cax * cax)) * cxy))
           * (nd - 3.0)
           / (cyy - ((cay * cxx - cxy * cax) / (caa * cxx - cax * cax)) * cay
                  - ((cxy * caa - cay * cax) / (caa * cxx - cax * cax)) * cxy)
               AS f_stat,
           ((cyy - cay * cay / caa)
            - (cyy - ((cay * cxx - cxy * cax) / (caa * cxx - cax * cax)) * cay
                   - ((cxy * caa - cay * cax) / (caa * cxx - cax * cax)) * cxy))
           * (nd - 3.0)
           / (cyy - ((cay * cxx - cxy * cax) / (caa * cxx - cax * cax)) * cay
                  - ((cxy * caa - cay * cax) / (caa * cxx - cax * cax)) * cxy)
               > 3.841458820694124 AS clicks_granger_cause_purchases
    FROM m
"""


@register(
    "stats_granger_causality_1lag",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS xc,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS yc
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        lagd AS (
            SELECT yc AS y,
                   lag(yc) OVER (ORDER BY day) AS a,
                   lag(xc) OVER (ORDER BY day) AS x
            FROM daily
        ),
        sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(a) AS BIGINT) AS sa,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(a * a) AS BIGINT) AS saa,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(a * y) AS BIGINT) AS say,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(a * x) AS BIGINT) AS sax
            FROM lagd WHERE a IS NOT NULL
        ),
        m AS (SELECT n, {_GRANGER_MOMENTS} FROM sums)
        {_GRANGER_FINAL}
    """,
    doc=(
        "ST63: 1-lag Granger causality — do yesterday's clicks improve "
        "today's purchase forecast beyond yesterday's purchases alone? "
        "Restricted OLS (y_t ~ 1 + y_(t-1)) vs unrestricted (+ "
        "x_(t-1)), F = (SSE_r - SSE_u)(n-3)/SSE_u with the F(1,inf) "
        "95%% critical value as the verdict. Everything reduces to ten "
        "exact BIGINT sums over the day-grain series (counts are "
        "integers, so every product and sum is exact); the centered "
        "moments, Cramer's-rule 2x2 solve, and F are ONE shared IEEE "
        "expression tree on both engines — regression-family inference "
        "with zero accumulation drift, the same discipline as "
        "stats_corr_regression_exact. The single-partition lag runs "
        "over the calendar-bounded day table."
    ),
    tags=("stats", "timeseries"),
)
def stats_granger_causality_1lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("xc"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("yc"),
    )
    wl = W.partitionBy().orderBy("day")
    lagd = daily.select(
        F.col("yc").alias("y"),
        F.lag("yc").over(wl).alias("a"),
        F.lag("xc").over(wl).alias("x"),
    ).filter(F.col("a").isNotNull())
    sums = lagd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("x").cast("bigint").alias("sx"),
        F.expr("CAST(SUM(y * y) AS BIGINT)").alias("syy"),
        F.expr("CAST(SUM(a * a) AS BIGINT)").alias("saa"),
        F.expr("CAST(SUM(x * x) AS BIGINT)").alias("sxx"),
        F.expr("CAST(SUM(a * y) AS BIGINT)").alias("say"),
        F.expr("CAST(SUM(x * y) AS BIGINT)").alias("sxy"),
        F.expr("CAST(SUM(a * x) AS BIGINT)").alias("sax"),
    )
    return spark.sql(
        f"WITH m AS (SELECT n, {_GRANGER_MOMENTS} FROM {{src}}) {_GRANGER_FINAL}",
        src=sums,
    )


@register(
    "stats_f_test_variance_ratio",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(q) AS BIGINT) AS s1,
                   CAST(SUM(q * q) AS BIGINT) AS s2
            FROM (SELECT event_type,
                         CAST(round(value * 10000) AS BIGINT) AS q
                  FROM events WHERE value IS NOT NULL
                    AND event_type IN ('click', 'view'))
            GROUP BY event_type
        ),
        v AS (
            SELECT event_type, n,
                   (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var
            FROM s
        )
        SELECT a.n AS n_click, b.n AS n_view,
               a.var / 100000000.0 AS var_click,
               b.var / 100000000.0 AS var_view,
               a.var / b.var AS f_ratio,
               a.var / b.var > 1.0 AS click_more_dispersed
        FROM v a, v b
        WHERE a.event_type = 'click' AND b.event_type = 'view'
    """,
    doc=(
        "ST64: classical F-test variance ratio between the click and "
        "view value distributions — the parametric dispersion "
        "comparison that Ansari-Bradley and Mood's median test "
        "(rank-based, already in the battery) replace when normality "
        "is doubtful; shipping all three documents the trade. Values "
        "quantize to 1e-4 fixed-point so the power sums are exact "
        "BIGINTs; each sample variance and the ratio are one shared "
        "IEEE expression (the 1e8 descale cancels in the ratio and is "
        "applied only to the reported per-sample variances)."
    ),
    tags=("stats", "agg"),
)
def stats_f_test_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    s = (
        t.events.filter(
            F.col("value").isNotNull() & F.col("event_type").isin("click", "view")
        )
        .select(
            "event_type", F.expr("CAST(round(value * 10000) AS BIGINT)").alias("q")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").cast("bigint").alias("s1"),
            F.expr("CAST(SUM(q * q) AS BIGINT)").alias("s2"),
        )
    )
    v = s.selectExpr(
        "event_type",
        "n",
        "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var",
    )
    a = v.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_click"), F.col("var").alias("va")
    )
    b = v.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_view"), F.col("var").alias("vb")
    )
    return a.crossJoin(b).selectExpr(
        "n_click",
        "n_view",
        "va / 100000000.0 AS var_click",
        "vb / 100000000.0 AS var_view",
        "va / vb AS f_ratio",
        "va / vb > 1.0 AS click_more_dispersed",
    )


@register(
    "stats_mcc_matthews_binary",
    oracle="""
        WITH pred AS (
            SELECT (lang = 'en') AS is_en,
                   (list_contains(string_split(text, ' '), 'the')
                    OR list_contains(string_split(text, ' '), 'a')) AS pred_en
            FROM documents
        ),
        c AS (
            SELECT
              CAST(SUM(CASE WHEN is_en AND pred_en THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(SUM(CASE WHEN NOT is_en AND pred_en THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(SUM(CASE WHEN is_en AND NOT pred_en THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              CAST(SUM(CASE WHEN NOT is_en AND NOT pred_en THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM pred
        )
        SELECT tp, fp, fn, tn,
               (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
               / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                      * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                      * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
                      * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))) AS mcc
        FROM c
    """,
    doc=(
        "ST65: Matthews correlation coefficient of the en-vs-rest "
        "stopword language guesser — the single-number binary-"
        "classifier summary that stays honest under class imbalance "
        "where accuracy and even F1 mislead (it is the phi coefficient "
        "of the 2x2 confusion table), completing the per-class "
        "precision/recall/F1 report (text_langid_eval_confusion). One "
        "conditional aggregate produces the four confusion cells as "
        "exact BIGINTs; MCC is one shared expression (products in "
        "double, a single sqrt)."
    ),
    tags=("stats", "text", "eval"),
)
def stats_mcc_matthews_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    pred = t.documents.select(
        (F.col("lang") == "en").alias("is_en"),
        (
            F.array_contains(F.split(F.col("text"), " "), "the")
            | F.array_contains(F.split(F.col("text"), " "), "a")
        ).alias("pred_en"),
    )
    c = pred.agg(
        F.sum(F.when(F.col("is_en") & F.col("pred_en"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(~F.col("is_en") & F.col("pred_en"), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(F.col("is_en") & ~F.col("pred_en"), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~F.col("is_en") & ~F.col("pred_en"), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)"
            " - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))"
            " / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))"
            " * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))"
            " * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))"
            " * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)))"
        ).alias("mcc"),
    )


@register(
    "stats_odds_ratio_relative_risk",
    oracle="""
        WITH assign AS (
            SELECT (user_id % 2 = 0) AS exposed,
                   (event_type = 'purchase') AS converted
            FROM events
        ),
        c AS (
            SELECT
              CAST(SUM(CASE WHEN exposed AND converted THEN 1 ELSE 0 END) AS BIGINT) AS a,
              CAST(SUM(CASE WHEN exposed AND NOT converted THEN 1 ELSE 0 END) AS BIGINT) AS b,
              CAST(SUM(CASE WHEN NOT exposed AND converted THEN 1 ELSE 0 END) AS BIGINT) AS c,
              CAST(SUM(CASE WHEN NOT exposed AND NOT converted THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM assign
        )
        SELECT a, b, c, d,
               (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                   / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS odds_ratio,
               (CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))
                   / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)))
                   AS relative_risk,
               CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                   - CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                   AS risk_difference
        FROM c
    """,
    doc=(
        "ST66: odds ratio, relative risk, and risk difference of "
        "purchase conversion under the deterministic user_id-parity "
        "A/B assignment — the three effect measures an experimentation "
        "readout reports next to the Wilson interval and the "
        "two-proportion z already in the battery (OR for logistic "
        "comparability, RR for interpretability, RD for absolute "
        "impact; the log-CI boundary is the documented ln ceiling). "
        "One conditional aggregate -> exact 2x2 BIGINT cells -> three "
        "shared divisions."
    ),
    tags=("stats", "agg", "ab"),
)
def stats_odds_ratio_relative_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    assign = t.events.select(
        (F.col("user_id") % 2 == 0).alias("exposed"),
        (F.col("event_type") == "purchase").alias("converted"),
    )
    cells = assign.agg(
        F.sum(F.when(F.col("exposed") & F.col("converted"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("exposed") & ~F.col("converted"), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(~F.col("exposed") & F.col("converted"), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(~F.col("exposed") & ~F.col("converted"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.expr(
            "(CAST(a AS DOUBLE) * CAST(d AS DOUBLE))"
            " / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
        ).alias("odds_ratio"),
        F.expr(
            "(CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))"
            " / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)))"
        ).alias("relative_risk"),
        F.expr(
            "CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))"
            " - CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))"
        ).alias("risk_difference"),
    )


@register(
    "stats_pettitt_change_point",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        ranked AS (
            SELECT day, y,
                   CAST(2 * (SELECT COUNT(*) FROM daily d2 WHERE d2.y < d.y)
                        + (SELECT COUNT(*) FROM daily d2 WHERE d2.y = d.y)
                        + 1 AS BIGINT) AS r2,
                   row_number() OVER (ORDER BY day) AS t,
                   CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n
            FROM daily d
        ),
        u AS (
            SELECT day, t, n,
                   CAST(SUM(r2) OVER (ORDER BY day) - t * (n + 1) AS BIGINT)
                       AS u2_t
            FROM ranked
        )
        SELECT day AS change_day, t AS t_index, n AS n_days,
               u2_t AS u_stat_x2,
               CAST(abs(u2_t) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      / 3.0) AS u_normalized
        FROM u
        ORDER BY abs(u2_t) DESC, day
        LIMIT 1
    """,
    doc=(
        "ST67: Pettitt change-point test on the daily event-count "
        "series — the rank-based (distribution-free) single change "
        "point, complementing the mean-shift detectors already in the "
        "battery (CUSUM, Page-Hinkley, Chow): U_t = 2*sum_(i<=t) r_i "
        "- t(n+1), maximized over t, locates the most likely split "
        "WITHOUT assuming normality or a known break date. Doubled "
        "midranks (2*cnt_less + cnt_eq + 1 — the Mann-Whitney "
        "machinery) keep U_t an exact integer under ties; the argmax "
        "is a deterministic (|U| DESC, day) top-1. Day-grain "
        "reduction first; ranks and the prefix sum run over the "
        "calendar-bounded day table."
    ),
    tags=("stats", "timeseries", "anomaly"),
)
def stats_pettitt_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    # doubled midranks at value grain, then joined back (exact under ties)
    vals = daily.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    wv = W.partitionBy().orderBy("y").rowsBetween(W.unboundedPreceding, -1)
    rank_tbl = vals.select(
        "y",
        "cnt",
        (2 * F.coalesce(F.sum("cnt").over(wv), F.lit(0)) + F.col("cnt") + 1)
        .cast("bigint")
        .alias("r2"),
    )
    n_w = W.partitionBy()
    wd = W.partitionBy().orderBy("day")
    ranked = (
        daily.join(F.broadcast(rank_tbl.select("y", "r2")), "y")
        .withColumn("t", F.row_number().over(wd).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(n_w).cast("bigint"))
    )
    u = ranked.select(
        "day",
        "t",
        "n",
        (
            F.sum("r2").over(wd.rowsBetween(W.unboundedPreceding, W.currentRow))
            - F.col("t") * (F.col("n") + 1)
        )
        .cast("bigint")
        .alias("u2_t"),
    )
    return (
        u.select(
            F.col("day").alias("change_day"),
            F.col("t").alias("t_index"),
            F.col("n").alias("n_days"),
            F.col("u2_t").alias("u_stat_x2"),
            F.expr(
                "CAST(abs(u2_t) AS DOUBLE) / (CAST(n AS DOUBLE)"
                " * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) / 3.0)"
            ).alias("u_normalized"),
        )
        .orderBy(F.abs(F.col("u_stat_x2")).desc(), "change_day")
        .limit(1)
    )


@register(
    "stats_cramer_von_mises_two_sample",
    oracle="""
        WITH pts AS (
            SELECT CAST(round(value * 10000) AS BIGINT) AS x,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ic,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS iv
            FROM events
            WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        ),
        vg AS (
            SELECT x, CAST(SUM(ic) AS BIGINT) AS cc, CAST(SUM(iv) AS BIGINT) AS cv
            FROM pts GROUP BY x
        ),
        cum AS (
            SELECT x, cc + cv AS cnt,
                   CAST(SUM(cc) OVER (ORDER BY x) AS BIGINT) AS c1,
                   CAST(SUM(cv) OVER (ORDER BY x) AS BIGINT) AS c2
            FROM vg
        ),
        tot AS (
            SELECT CAST(SUM(cc) AS BIGINT) AS n1, CAST(SUM(cv) AS BIGINT) AS n2
            FROM vg
        )
        SELECT n1 AS n_click, n2 AS n_view,
               CAST(CAST(SUM(CAST(cnt AS HUGEINT)
                    * (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
                    * (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1))
                    AS VARCHAR)
                    AS DOUBLE)
                   / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                      * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                      * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS cvm_t
        FROM cum, tot
        GROUP BY n1, n2
    """,
    doc=(
        "ST68: two-sample Cramer-von Mises T between the click and "
        "view value distributions — the INTEGRATED squared ECDF gap, "
        "sensitive to distributed differences the KS sup misses "
        "(KS sees one point of maximal divergence; CvM accumulates "
        "all of them): T = sum over pooled observations of "
        "(F1-F2)^2 * n1*n2/(n1+n2)^2. Reuses the exact-KS machinery: "
        "distinct-value-grain cumulative integer counts, the gap as "
        "the cross-product c1*n2 - c2*n1, and the weighted square "
        "summed as an exact 128-bit integer (DECIMAL on the Spark "
        "side, HUGEINT in DuckDB with the VARCHAR-hop double cast) — "
        "one shared final division. Same bucket-offset scale posture "
        "as stats_ks_exact_two_sample."
    ),
    tags=("stats", "agg"),
)
def stats_cramer_von_mises_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    pts = t.events.filter(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "view")
    ).select(
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("x"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ic"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("iv"),
    )
    vg = pts.groupBy("x").agg(
        F.sum("ic").cast("bigint").alias("cc"),
        F.sum("iv").cast("bigint").alias("cv"),
    )
    b = vg.withColumn("__bkt", F.expr("x DIV 65536"))
    bt = b.groupBy("__bkt").agg(F.sum("cc").alias("bc"), F.sum("cv").alias("bv"))
    wo = W.partitionBy().orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = bt.select(
        "__bkt",
        F.coalesce(F.sum("bc").over(wo), F.lit(0)).alias("oc"),
        F.coalesce(F.sum("bv").over(wo), F.lit(0)).alias("ov"),
    )
    tot = vg.agg(
        F.sum("cc").cast("bigint").alias("n1"),
        F.sum("cv").cast("bigint").alias("n2"),
    )
    wl = W.partitionBy("__bkt").orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    cum = b.join(F.broadcast(offs), "__bkt").select(
        (F.col("cc") + F.col("cv")).alias("cnt"),
        (F.col("oc") + F.sum("cc").over(wl)).cast("bigint").alias("c1"),
        (F.col("ov") + F.sum("cv").over(wl)).cast("bigint").alias("c2"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            # ADVICE r6: the ECDF gap cross-multiply in BIGINT would
            # wrap silently at n1*n2 > 2^63 under non-ANSI Spark —
            # compute it in DECIMAL (exact; the remaining ceiling is
            # the DECIMAL(38,0) weighted-square SUM, ~1e38)
            F.expr(
                "CAST(CAST(SUM(CAST(cnt AS DECIMAL(38,0))"
                " * (CAST(c1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))"
                "    - CAST(c2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0)))"
                " * (CAST(c1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))"
                "    - CAST(c2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0))))"
                " AS STRING) AS DOUBLE)"
            ).alias("wsum")
        )
        .select(
            F.col("n1").alias("n_click"),
            F.col("n2").alias("n_view"),
            F.expr(
                "wsum / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
                " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
                " * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
            ).alias("cvm_t"),
        )
    )


@register(
    "stats_srm_sample_ratio_mismatch",
    oracle="""
        WITH c AS (
            SELECT
              CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
            FROM (SELECT DISTINCT user_id FROM events)
        )
        SELECT n_a, n_b,
               CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                   / CAST(n_a + n_b AS DOUBLE) AS chi2,
               CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                   / CAST(n_a + n_b AS DOUBLE) > 3.841458820694124
                   AS srm_detected
        FROM c
    """,
    doc=(
        "ST69: sample-ratio-mismatch check for the user-parity A/B "
        "assignment — the FIRST gate of any experiment readout (a "
        "biased split invalidates every downstream effect estimate "
        "before it is computed): chi-square of the observed unit "
        "split against 50/50, which for two equal-probability cells "
        "reduces to (n_a - n_b)^2 / (n_a + n_b), with the "
        "chi-square(1) 95%% verdict. Units are DISTINCT users (the "
        "randomization grain — counting events would overweight "
        "active users); counts exact, one shared expression."
    ),
    tags=("stats", "ab", "dq"),
)
def stats_srm_sample_ratio_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    c = (
        t.events.select("user_id")
        .distinct()
        .agg(
            F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("user_id") % 2 != 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
        )
    )
    return c.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)"
            " / CAST(n_a + n_b AS DOUBLE)"
        ).alias("chi2"),
        F.expr(
            "CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)"
            " / CAST(n_a + n_b AS DOUBLE) > 3.841458820694124"
        ).alias("srm_detected"),
    )


@register(
    "stats_kpss_stationarity",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        pref AS (
            SELECT day, y,
                   CAST(SUM(y) OVER (ORDER BY day) AS BIGINT) AS ps,
                   row_number() OVER (ORDER BY day) AS t
            FROM daily
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM daily
        ),
        num AS (
            SELECT CAST(CAST(SUM(CAST(n * ps - t * sy AS HUGEINT)
                       * CAST(n * ps - t * sy AS HUGEINT)) AS VARCHAR)
                       AS DOUBLE) AS t2sum,
                   MAX(n) AS n, MAX(sy) AS sy, MAX(syy) AS syy
            FROM pref, tot
        )
        SELECT n AS n_days,
               t2sum
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS kpss_eta,
               t2sum
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   > 0.463 AS reject_stationarity_5pct
        FROM num
    """,
    doc=(
        "ST70: KPSS level-stationarity test on the daily event-count "
        "series — the COMPLEMENT of the Dickey-Fuller unit-root test "
        "already in the battery (DF's null is a unit root, KPSS's "
        "null is stationarity; running both is the standard way to "
        "classify a series before differencing it): eta = n^-2 * "
        "sum_t S_t^2 / sigma^2 with S_t the partial sums of "
        "demeaned values. Exactness: multiply through by n — "
        "T_t = n*PS_t - t*SY is an exact integer, sum T_t^2 "
        "accumulates in 128-bit (DECIMAL / HUGEINT, VARCHAR-hop cast), "
        "and eta = sum T_t^2 / (n^2 * (n*SYY - SY^2)) is ONE shared "
        "division — the same zero-drift discipline as CCI's mean "
        "deviation. Short-run variance correction (Newey-West "
        "bandwidth) is the documented boundary — the iid form is what "
        "the integer algebra supports exactly. Day-grain reduction "
        "first; the prefix sum runs over the calendar-bounded day "
        "table (caps-gated)."
    ),
    tags=("stats", "timeseries"),
)
def stats_kpss_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    wd = W.partitionBy().orderBy("day")
    pref = daily.select(
        "y",
        F.sum("y").over(wd.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("ps"),
        F.row_number().over(wd).cast("bigint").alias("t"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.expr("CAST(SUM(y * y) AS BIGINT)").alias("syy"),
    )
    num = (
        pref.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(n * ps - t * sy AS DECIMAL(38,0))"
                " * CAST(n * ps - t * sy AS DECIMAL(19,0)))"
                " AS STRING) AS DOUBLE)"
            ).alias("t2sum"),
            F.max("n").alias("n"),
            F.max("sy").alias("sy"),
            F.max("syy").alias("syy"),
        )
    )
    eta = (
        "t2sum / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return num.select(
        F.col("n").alias("n_days"),
        F.expr(eta).alias("kpss_eta"),
        F.expr(f"{eta} > 0.463").alias("reject_stationarity_5pct"),
    )


@register(
    "stats_page_trend_test",
    oracle="""
        WITH cells AS (
            SELECT event_type AS block,
                   CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
                        AS BIGINT) AS cond,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT block, cond, y,
                   CAST(2 * (SELECT COUNT(*) FROM cells c2
                             WHERE c2.block = c.block AND c2.y < c.y)
                        + (SELECT COUNT(*) FROM cells c2
                           WHERE c2.block = c.block AND c2.y = c.y)
                        + 1 AS BIGINT) AS r2
            FROM cells c
        )
        SELECT CAST(COUNT(DISTINCT block) AS BIGINT) AS n_blocks,
               CAST(COUNT(DISTINCT cond) AS BIGINT) AS n_conditions,
               CAST(SUM((cond + 1) * r2) AS BIGINT) AS page_l_x2
        FROM ranked
    """,
    doc=(
        "ST71: Page's L trend test for ordered alternatives — do "
        "within-block ranks increase monotonically across ordered "
        "conditions? Blocks = event types, conditions = epoch-weekday "
        "0..6 (the same engine-neutral dow arithmetic as the heatmap), "
        "response = cell count: L = sum_j j * R_j with R_j the rank of "
        "condition j within its block, summed over blocks — the "
        "ordered-alternative refinement of the Friedman test already "
        "in the battery (Friedman asks 'any difference?', Page asks "
        "'a MONOTONE difference?'). Doubled midranks (the Mann-Whitney "
        "machinery) keep L an exact x2 integer under ties; within-"
        "block ranks are correlated-subquery counts over the bounded "
        "(block, condition) grid (7 cells per block — metadata at any "
        "scale). Facts reduce to the grid in one aggregate."
    ),
    tags=("stats", "timeseries"),
)
def stats_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    cells = t.events.groupBy(
        F.col("event_type").alias("block"),
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') % 7 AS BIGINT)"
        ).alias("cond"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    # doubled midranks within block: 2*cnt_less + cnt_eq + 1 over the
    # 7-cell per-block grid. cnt_less = rank() - 1 (NOT a ROWS-frame
    # count, which under ties depends on the nondeterministic order of
    # tied rows); cnt_eq = partition count at the tied value.
    wb = W.partitionBy("block").orderBy("y")
    weq = W.partitionBy("block", "y")
    ranked = cells.select(
        "block",
        "cond",
        (
            2 * (F.rank().over(wb) - 1)
            + F.count(F.lit(1)).over(weq)
            + 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    return ranked.agg(
        F.countDistinct("block").cast("bigint").alias("n_blocks"),
        F.countDistinct("cond").cast("bigint").alias("n_conditions"),
        F.sum((F.col("cond") + 1) * F.col("r2")).cast("bigint").alias("page_l_x2"),
    )


# ---------------------------------------------------------------------------
# Round-7 additions (SURVEY §2.17): six more of the classical battery —
# Spearman rank correlation, the Wald-Wolfowitz runs test, McNemar's
# paired test, Cochran's Q, Kendall's W concordance, and Brown-Forsythe
# robust variance homogeneity. Same exactness posture as the r5/r6
# tiers: doubled midranks / doubled medians keep rank machinery in
# BIGINT, group sums pivot to ONE row so every float composition is a
# single shared IEEE expression tree, ln-free throughout.
# ---------------------------------------------------------------------------


@register(
    "stats_spearman_daily_corr",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        ranked AS (
            SELECT
              2 * rank() OVER (ORDER BY x)
                + COUNT(*) OVER (PARTITION BY x) - 1 AS drx,
              2 * rank() OVER (ORDER BY y)
                + COUNT(*) OVER (PARTITION BY y) - 1 AS dry
            FROM daily
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(drx) AS BIGINT) AS sx,
                   CAST(SUM(dry) AS BIGINT) AS sy,
                   CAST(SUM(drx * dry) AS BIGINT) AS sxy,
                   CAST(SUM(drx * drx) AS BIGINT) AS sxx,
                   CAST(SUM(dry * dry) AS BIGINT) AS syy
            FROM ranked
        )
        SELECT n AS n_days,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman_rho,
               abs(CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
                   * sqrt(CAST(n AS DOUBLE) - 1.0) > 1.959963984540054
                   AS significant_at_5pct
        FROM s
    """,
    doc=(
        "ST71: Spearman rank correlation between the daily click and "
        "view counts — the monotone-association companion to the "
        "Pearson and Kendall tiers already in the battery, robust to "
        "outlier days. Tie-corrected exactly by computing Pearson on "
        "DOUBLED midranks (dr = 2*rank + ties - 1 is always an exact "
        "BIGINT; the doubling cancels in the correlation), so every "
        "aggregate is an exact integer sum and rho plus its normal-"
        "approximation 5%% verdict (|rho|*sqrt(n-1) > z_.975) are one "
        "shared IEEE expression. Facts reduce to day grain "
        "distributedly; the 30-row rank pass is metadata-scale."
    ),
    tags=("stats", "timeseries"),
)
def stats_spearman_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    ranked = daily.select(
        (
            2 * F.rank().over(W.orderBy("x"))
            + F.count(F.lit(1)).over(W.partitionBy("x"))
            - 1
        ).alias("drx"),
        (
            2 * F.rank().over(W.orderBy("y"))
            + F.count(F.lit(1)).over(W.partitionBy("y"))
            - 1
        ).alias("dry"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("drx").cast("bigint").alias("sx"),
        F.sum("dry").cast("bigint").alias("sy"),
        F.sum(F.col("drx") * F.col("dry")).cast("bigint").alias("sxy"),
        F.sum(F.col("drx") * F.col("drx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dry") * F.col("dry")).cast("bigint").alias("syy"),
    )
    rho = (
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
        " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.expr(rho).alias("spearman_rho"),
        F.expr(
            f"abs({rho}) * sqrt(CAST(n AS DOUBLE) - 1.0) > 1.959963984540054"
        ).alias("significant_at_5pct"),
    )


@register(
    "stats_runs_test_wald_wolfowitz",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        ordered AS (
            SELECT x, row_number() OVER (ORDER BY x, day) AS rn,
                   COUNT(*) OVER () AS n
            FROM daily
        ),
        med AS (
            SELECT CAST(SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                                 THEN x END) AS BIGINT)
                   * (CASE WHEN (n + 1) // 2 = (n + 2) // 2 THEN 2 ELSE 1 END)
                     AS m2
            FROM ordered GROUP BY n
        ),
        signs AS (
            SELECT day,
                   CASE WHEN 2 * x > m2 THEN 1
                        WHEN 2 * x < m2 THEN -1 ELSE 0 END AS s
            FROM daily CROSS JOIN med
        ),
        nz AS (
            SELECT day, s,
                   lag(s) OVER (ORDER BY day) AS s_prev
            FROM signs WHERE s <> 0
        ),
        agg AS (
            SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(1 + SUM(CASE WHEN s_prev IS NOT NULL AND s <> s_prev
                                     THEN 1 ELSE 0 END) AS BIGINT) AS runs
            FROM nz
        )
        SELECT n1 AS n_above, n2 AS n_below, runs,
               (CAST(runs AS DOUBLE)
                - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
               / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                         - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))
                 AS z_runs,
               abs((CAST(runs AS DOUBLE)
                - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
               / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                         - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))))
                 <= 1.959963984540054 AS random_at_5pct
        FROM agg
    """,
    doc=(
        "ST72: Wald-Wolfowitz runs test on the daily event-count "
        "series — are above-median and below-median days randomly "
        "interleaved, or do they clump (regime persistence the "
        "mean-based tests cannot see)? The median is the DOUBLED "
        "order-statistic sum (x_(k) + x_(k+1)), always an exact "
        "BIGINT, so the three-way sign classification is pure integer "
        "comparison; median-equal days drop per the classical "
        "definition. Runs count = 1 + sign changes over the day-"
        "ordered lag; z and the 5%% randomness verdict are one shared "
        "IEEE expression of the three integer counts. Day-grain "
        "reduction first — nothing fact-grain is windowed."
    ),
    tags=("stats", "timeseries"),
)
def stats_runs_test_wald_wolfowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    ordered = daily.select(
        "x",
        F.row_number().over(W.orderBy("x", "day")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    med = ordered.groupBy("n").agg(
        (
            F.sum(
                F.when(
                    F.col("rn").isin(
                        F.expr("(n + 1) DIV 2"), F.expr("(n + 2) DIV 2")
                    ),
                    F.col("x"),
                )
            )
            * F.expr("CASE WHEN (n + 1) DIV 2 = (n + 2) DIV 2 THEN 2 ELSE 1 END")
        )
        .cast("bigint")
        .alias("m2")
    ).select("m2")
    signs = daily.crossJoin(F.broadcast(med)).select(
        "day",
        F.when(2 * F.col("x") > F.col("m2"), 1)
        .when(2 * F.col("x") < F.col("m2"), -1)
        .otherwise(0)
        .alias("s"),
    )
    nz = signs.filter(F.col("s") != 0).select(
        "s", F.lag("s").over(W.orderBy("day")).alias("s_prev")
    )
    agg = nz.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).cast("bigint").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("s_prev").isNotNull() & (F.col("s") != F.col("s_prev")), 1
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
    )
    z = (
        "(CAST(runs AS DOUBLE)"
        " - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))"
        " / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        " - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))"
        " / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
        " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
        " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))"
    )
    return agg.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "runs",
        F.expr(z).alias("z_runs"),
        F.expr(f"abs({z}) <= 1.959963984540054").alias("random_at_5pct"),
    )


@register(
    "stats_mcnemar_paired_activity",
    oracle="""
        WITH act AS (
            SELECT user_id,
                   MAX(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                            THEN 1 ELSE 0 END) AS a,
                   MAX(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                            THEN 1 ELSE 0 END) AS b
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(a * b) AS BIGINT) AS n_both,
                   CAST(SUM(a * (1 - b)) AS BIGINT) AS n_first_only,
                   CAST(SUM((1 - a) * b) AS BIGINT) AS n_second_only
            FROM act
        )
        SELECT n_users, n_both, n_first_only, n_second_only,
               CASE WHEN n_first_only + n_second_only = 0 THEN 0.0
                    ELSE CAST(n_first_only - n_second_only AS DOUBLE)
                         * CAST(n_first_only - n_second_only AS DOUBLE)
                         / CAST(n_first_only + n_second_only AS DOUBLE) END
                 AS mcnemar_chi2,
               CASE WHEN n_first_only + n_second_only = 0 THEN 0.0
                    ELSE CAST(n_first_only - n_second_only AS DOUBLE)
                         * CAST(n_first_only - n_second_only AS DOUBLE)
                         / CAST(n_first_only + n_second_only AS DOUBLE) END
                 > 3.841458820694124 AS churn_shift_at_5pct
        FROM cells
    """,
    doc=(
        "ST73: McNemar's paired test on per-user activity between the "
        "first and second half of the month — did the population of "
        "active users SHIFT (churn vs activation), as opposed to "
        "merely change size? The paired design uses only the "
        "discordant cells: chi2 = (b - c)^2 / (b + c) over exact "
        "BIGINT user counts, with the chi-square(1) 95%% verdict — "
        "one shared expression, ln-free. The user table is one hash "
        "agg over the fact scan (two conditional MAXes); everything "
        "after is a one-row fold."
    ),
    tags=("stats", "funnel"),
)
def stats_mcnemar_paired_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    act = t.events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("ts").cast("date") <= F.lit("2024-01-15").cast("date"), 1)
            .otherwise(0)
        ).alias("a"),
        F.max(
            F.when(F.col("ts").cast("date") > F.lit("2024-01-15").cast("date"), 1)
            .otherwise(0)
        ).alias("b"),
    )
    cells = act.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n_both"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n_first_only"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n_second_only"),
    )
    chi2 = (
        "CASE WHEN n_first_only + n_second_only = 0 THEN 0.0"
        " ELSE CAST(n_first_only - n_second_only AS DOUBLE)"
        " * CAST(n_first_only - n_second_only AS DOUBLE)"
        " / CAST(n_first_only + n_second_only AS DOUBLE) END"
    )
    return cells.select(
        "n_users",
        "n_both",
        "n_first_only",
        "n_second_only",
        F.expr(chi2).alias("mcnemar_chi2"),
        F.expr(f"{chi2} > 3.841458820694124").alias("churn_shift_at_5pct"),
    )


@register(
    "stats_cochran_q_binary",
    oracle="""
        WITH x AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                   MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
            FROM events GROUP BY user_id
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(c) AS BIGINT) AS g_click,
                   CAST(SUM(v) AS BIGINT) AS g_view,
                   CAST(SUM(p) AS BIGINT) AS g_purchase,
                   CAST(SUM(c + v + p) AS BIGINT) AS tot,
                   CAST(SUM((c + v + p) * (c + v + p)) AS BIGINT) AS sl2
            FROM x
        )
        SELECT n_users, g_click, g_view, g_purchase,
               CASE WHEN 3 * tot - sl2 = 0 THEN 0.0
                    ELSE 2.0 * CAST(3 * (g_click * g_click + g_view * g_view
                                         + g_purchase * g_purchase)
                                    - tot * tot AS DOUBLE)
                         / CAST(3 * tot - sl2 AS DOUBLE) END AS q_stat,
               CASE WHEN 3 * tot - sl2 = 0 THEN 0.0
                    ELSE 2.0 * CAST(3 * (g_click * g_click + g_view * g_view
                                         + g_purchase * g_purchase)
                                    - tot * tot AS DOUBLE)
                         / CAST(3 * tot - sl2 AS DOUBLE) END
                 > 5.991464547107979 AS differs_at_5pct
        FROM s
    """,
    doc=(
        "ST74: Cochran's Q over the three binary per-user engagement "
        "indicators (ever clicked / viewed / purchased) — the k-"
        "treatment generalization of McNemar: do the three actions "
        "have the same per-user success rate? Q = (k-1)(k*sum G_j^2 - "
        "N^2) / (k*N - sum L_i^2) is rational in exact BIGINT row/"
        "column sums, so the statistic and its chi-square(2) 95%% "
        "verdict are one shared expression (users who did all three "
        "or none contribute nothing, per the test's definition — the "
        "degenerate all-same corpus pins Q = 0). One hash agg over "
        "the fact scan; one-row fold after."
    ),
    tags=("stats", "funnel"),
)
def stats_cochran_q_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    x = t.events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
    )
    s = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("g_click"),
        F.sum("v").cast("bigint").alias("g_view"),
        F.sum("p").cast("bigint").alias("g_purchase"),
        F.sum(F.col("c") + F.col("v") + F.col("p")).cast("bigint").alias("tot"),
        F.sum(
            (F.col("c") + F.col("v") + F.col("p"))
            * (F.col("c") + F.col("v") + F.col("p"))
        )
        .cast("bigint")
        .alias("sl2"),
    )
    q = (
        "CASE WHEN 3 * tot - sl2 = 0 THEN 0.0"
        " ELSE 2.0 * CAST(3 * (g_click * g_click + g_view * g_view"
        " + g_purchase * g_purchase)"
        " - tot * tot AS DOUBLE)"
        " / CAST(3 * tot - sl2 AS DOUBLE) END"
    )
    return s.select(
        "n_users",
        "g_click",
        "g_view",
        "g_purchase",
        F.expr(q).alias("q_stat"),
        F.expr(f"{q} > 5.991464547107979").alias("differs_at_5pct"),
    )


@register(
    "stats_kendall_w_concordance",
    oracle="""
        WITH days_ AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        types_ AS (SELECT DISTINCT event_type FROM events),
        cnt AS (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY CAST(ts AS DATE), event_type
        ),
        grid AS (
            SELECT d.day, t.event_type, COALESCE(c.c, 0) AS c
            FROM days_ d CROSS JOIN types_ t
            LEFT JOIN cnt c ON c.day = d.day AND c.event_type = t.event_type
        ),
        ranked AS (
            SELECT day, event_type,
                   2 * rank() OVER (PARTITION BY day ORDER BY c)
                     + COUNT(*) OVER (PARTITION BY day, c) - 1 AS dr
            FROM grid
        ),
        rj AS (
            SELECT event_type, CAST(SUM(dr) AS BIGINT) AS r2j
            FROM ranked GROUP BY event_type
        ),
        ties AS (
            SELECT CAST(SUM(t3t) AS BIGINT) AS tt
            FROM (
                SELECT CAST(COUNT(*) AS BIGINT) * COUNT(*) * COUNT(*)
                       - COUNT(*) AS t3t
                FROM grid GROUP BY day, c
            )
        ),
        dims AS (
            SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS m,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n
            FROM grid
        ),
        s AS (
            SELECT CAST(SUM(r2j * r2j) AS BIGINT) AS sr2 FROM rj
        )
        SELECT m AS m_days, n AS n_items,
               CAST(3 * sr2 - 3 * m * m * n * (n + 1) * (n + 1) AS DOUBLE)
                   / CAST(m * m * n * (n * n - 1) - m * tt AS DOUBLE)
                 AS kendall_w,
               CAST(m AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                   * (CAST(3 * sr2 - 3 * m * m * n * (n + 1) * (n + 1) AS DOUBLE)
                      / CAST(m * m * n * (n * n - 1) - m * tt AS DOUBLE))
                 > 9.487729036781154 AS concordant_at_5pct
        FROM s CROSS JOIN dims CROSS JOIN ties
    """,
    doc=(
        "ST75: Kendall's coefficient of concordance W — do the days "
        "AGREE on how the event types rank by traffic (a stable "
        "product mix), or does the daily ranking churn? Judges = days, "
        "items = event types on the zero-filled day x type grid; "
        "doubled midranks keep the tie-corrected machinery in exact "
        "BIGINTs (12*sum R^2 becomes 3*sum R'^2), the tie term T = "
        "sum(t^3 - t) folds per (day, count) group, and W plus its "
        "chi-square(n-1) 95%% verdict (chi2 = m(n-1)W) are one shared "
        "division. Facts reduce to (day, type) grain in one hash agg; "
        "the 150-cell grid is metadata-scale."
    ),
    tags=("stats", "timeseries"),
)
def stats_kendall_w_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    ev = t.events
    days_ = ev.select(F.col("ts").cast("date").alias("day")).distinct()
    types_ = ev.select("event_type").distinct()
    cnt = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    grid = (
        days_.crossJoin(F.broadcast(types_))
        .join(cnt, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    ranked = grid.select(
        "day",
        "event_type",
        (
            2 * F.rank().over(W.partitionBy("day").orderBy("c"))
            + F.count(F.lit(1)).over(W.partitionBy("day", "c"))
            - 1
        ).alias("dr"),
    )
    rj = ranked.groupBy("event_type").agg(F.sum("dr").cast("bigint").alias("r2j"))
    ties = (
        grid.groupBy("day", "c")
        .agg(
            (
                F.count(F.lit(1)).cast("bigint")
                * F.count(F.lit(1))
                * F.count(F.lit(1))
                - F.count(F.lit(1))
            ).alias("t3t")
        )
        .agg(F.sum("t3t").cast("bigint").alias("tt"))
    )
    dims = grid.agg(
        F.countDistinct("day").cast("bigint").alias("m"),
        F.countDistinct("event_type").cast("bigint").alias("n"),
    )
    s = rj.agg(F.sum(F.col("r2j") * F.col("r2j")).cast("bigint").alias("sr2"))
    w_expr = (
        "CAST(3 * sr2 - 3 * m * m * n * (n + 1) * (n + 1) AS DOUBLE)"
        " / CAST(m * m * n * (n * n - 1) - m * tt AS DOUBLE)"
    )
    return (
        s.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("m").alias("m_days"),
            F.col("n").alias("n_items"),
            F.expr(w_expr).alias("kendall_w"),
            F.expr(
                f"CAST(m AS DOUBLE) * CAST(n - 1 AS DOUBLE) * ({w_expr})"
                " > 9.487729036781154"
            ).alias("concordant_at_5pct"),
        )
    )


#: the five event types, pinned alphabetically — the Brown-Forsythe
#: pivot emits one column triple (n, s, q) per type so the F statistic
#: composes as ONE shared expression with a deterministic term order
_BF_TYPES = ("click", "error", "purchase", "signup", "view")


def _bf_f_expr() -> str:
    """Shared Brown-Forsythe F expression over the pivoted one-row
    group sums (identical string on both engines — term order is the
    written order, so the float folds agree bit-for-bit)."""
    k = len(_BF_TYPES)
    n_tot = " + ".join(f"n_{t}" for t in _BF_TYPES)
    s_tot = " + ".join(f"s_{t}" for t in _BF_TYPES)
    sb = " + ".join(
        f"CAST(s_{t} AS DOUBLE) * CAST(s_{t} AS DOUBLE) / CAST(n_{t} AS DOUBLE)"
        for t in _BF_TYPES
    )
    qs = " + ".join(f"q_{t}" for t in _BF_TYPES)
    ssb = (
        f"(({sb}) - CAST({s_tot} AS DOUBLE) * CAST({s_tot} AS DOUBLE)"
        f" / CAST({n_tot} AS DOUBLE))"
    )
    ssw = f"(({qs}) - ({sb}))"
    return (
        f"CASE WHEN {ssw} <= 0.0 THEN NULL"
        f" ELSE ({ssb} / {k - 1}.0)"
        f" / ({ssw} / (CAST({n_tot} AS DOUBLE) - {k}.0)) END"
    )


def _bf_oracle() -> str:
    pivot = ",\n                   ".join(
        f"CAST(MAX(CASE WHEN event_type = '{t}' THEN {c} END) AS "
        + ("DOUBLE" if c == "q" else "BIGINT")
        + f") AS {c}_{t}"
        for t in _BF_TYPES
        for c in ("n", "s", "q")
    )
    f_expr = _bf_f_expr()
    n_tot = " + ".join(f"n_{t}" for t in _BF_TYPES)
    return f"""
        WITH pts AS (
            SELECT event_type, event_id,
                   CAST(round(value * 10000) AS BIGINT) AS x
            FROM events WHERE value IS NOT NULL
        ),
        ranked AS (
            SELECT event_type, x,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY x, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS ng
            FROM pts
        ),
        med AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN rn IN ((ng + 1) // 2, (ng + 2) // 2)
                                 THEN x END) AS BIGINT)
                   * (CASE WHEN (ng + 1) // 2 = (ng + 2) // 2 THEN 2 ELSE 1 END)
                     AS m2
            FROM ranked GROUP BY event_type, ng
        ),
        z AS (
            SELECT p.event_type, abs(2 * p.x - m.m2) AS z
            FROM pts p JOIN med m ON p.event_type = m.event_type
        ),
        g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(z) AS BIGINT) AS s,
                   CAST(CAST(SUM(CAST(z AS HUGEINT) * z) AS VARCHAR) AS DOUBLE)
                     AS q
            FROM z GROUP BY event_type
        ),
        piv AS (
            SELECT {pivot}
            FROM g
        )
        SELECT CAST({n_tot} AS BIGINT) AS n_total,
               CAST({len(_BF_TYPES)} AS BIGINT) AS k_groups,
               {f_expr} AS f_stat,
               COALESCE({f_expr} > 2.3719, FALSE) AS heteroscedastic_at_5pct
        FROM piv
    """


@register(
    "stats_brown_forsythe_variance",
    oracle=_bf_oracle(),
    doc=(
        "ST76: Brown-Forsythe robust variance-homogeneity test across "
        "the five event types' value distributions — one-way ANOVA on "
        "absolute deviations from each GROUP MEDIAN (the median-based "
        "Levene variant, robust where the F-ratio test already in the "
        "battery assumes normality). Doubled group medians (x_(k) + "
        "x_(k+1)) keep z = |2x - median*2| an exact BIGINT; per-group "
        "(n, sum z, sum z^2) pivot to ONE row (the 5-type grid is "
        "pinned in _BF_TYPES) so SSB/SSW/F and the F(4, inf) 95%% "
        "verdict (2.3719) compose as one shared expression with a "
        "written term order — no float aggregation-order hazard. The "
        "z^2 sum is 128-bit exact (DECIMAL/HUGEINT, VARCHAR-hopped). "
        "Two fact passes (median rank, deviation fold), both at "
        "event grain with per-type partitioning."
    ),
    tags=("stats", "agg"),
)
def stats_brown_forsythe_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    pts = t.events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("x"),
    )
    ranked = pts.select(
        "event_type",
        "x",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("x", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("ng"),
    )
    med = ranked.groupBy("event_type", "ng").agg(
        (
            F.sum(
                F.when(
                    F.col("rn").isin(
                        F.expr("(ng + 1) DIV 2"), F.expr("(ng + 2) DIV 2")
                    ),
                    F.col("x"),
                )
            )
            * F.expr("CASE WHEN (ng + 1) DIV 2 = (ng + 2) DIV 2 THEN 2 ELSE 1 END")
        )
        .cast("bigint")
        .alias("m2")
    ).select("event_type", "m2")
    z = pts.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(2 * F.col("x") - F.col("m2")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("s"),
        F.expr(
            "CAST(CAST(SUM(CAST(z AS DECIMAL(19,0)) * z) AS STRING) AS DOUBLE)"
        ).alias("q"),
    )
    piv = g.agg(
        *[
            F.expr(
                f"CAST(MAX(CASE WHEN event_type = '{ty}' THEN {c} END) AS "
                + ("DOUBLE" if c == "q" else "BIGINT")
                + f") AS {c}_{ty}"
            )
            for ty in _BF_TYPES
            for c in ("n", "s", "q")
        ]
    )
    f_expr = _bf_f_expr()
    n_tot = " + ".join(f"n_{ty}" for ty in _BF_TYPES)
    return piv.select(
        F.expr(f"CAST({n_tot} AS BIGINT)").alias("n_total"),
        F.lit(len(_BF_TYPES)).cast("bigint").alias("k_groups"),
        F.expr(f_expr).alias("f_stat"),
        F.expr(f"COALESCE({f_expr} > 2.3719, FALSE)").alias(
            "heteroscedastic_at_5pct"
        ),
    )


#: the five order priorities, pinned — the Mantel-Haenszel pivot emits
#: one 2x2 per stratum as columns (a=exposed-positive, b=exposed-
#: negative, c=unexposed-positive, d=unexposed-negative, n=total) so
#: the pooled estimator composes as ONE shared expression
_MH_STRATA = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_MH_COLS = ("a", "b", "c", "d", "n")


def _mh_or_expr() -> str:
    """Pooled Mantel-Haenszel odds ratio over the pivoted one-row
    strata — sum of per-stratum rationals in WRITTEN order (the
    Brown-Forsythe determinism trick; a multiply-through common
    denominator would overflow DECIMAL(38) past ~sf1)."""
    num = " + ".join(
        f"CAST(a_{i} AS DOUBLE) * CAST(d_{i} AS DOUBLE) / CAST(n_{i} AS DOUBLE)"
        for i in range(len(_MH_STRATA))
    )
    den = " + ".join(
        f"CAST(b_{i} AS DOUBLE) * CAST(c_{i} AS DOUBLE) / CAST(n_{i} AS DOUBLE)"
        for i in range(len(_MH_STRATA))
    )
    return f"CASE WHEN ({den}) = 0.0 THEN NULL ELSE ({num}) / ({den}) END"


def _mh_oracle() -> str:
    pivot = ",\n                   ".join(
        f"CAST(MAX(CASE WHEN o_orderpriority = '{s}' THEN {c} END) AS BIGINT)"
        f" AS {c}_{i}"
        for i, s in enumerate(_MH_STRATA)
        for c in _MH_COLS
    )
    n_tot = " + ".join(f"n_{i}" for i in range(len(_MH_STRATA)))
    return f"""
        WITH cells AS (
            SELECT o_orderpriority,
                   CAST(SUM(CASE WHEN o_custkey % 2 = 0
                                  AND o_totalprice > 150000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN o_custkey % 2 = 0
                                  AND o_totalprice <= 150000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS b,
                   CAST(SUM(CASE WHEN o_custkey % 2 <> 0
                                  AND o_totalprice > 150000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c,
                   CAST(SUM(CASE WHEN o_custkey % 2 <> 0
                                  AND o_totalprice <= 150000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_orderpriority
        ),
        piv AS (SELECT {pivot} FROM cells)
        SELECT CAST({n_tot} AS BIGINT) AS n_total,
               CAST({len(_MH_STRATA)} AS BIGINT) AS k_strata,
               {_mh_or_expr()} AS mh_odds_ratio
        FROM piv
    """


@register(
    "stats_mantel_haenszel_pooled_or",
    oracle=_mh_oracle(),
    doc=(
        "ST78: Mantel-Haenszel pooled odds ratio — the stratified 2x2 "
        "estimator (exposure = customer-key parity, outcome = order "
        "total above the pinned 150k threshold, strata = the five "
        "order priorities): does the exposure effect hold AFTER "
        "controlling for the stratifying confounder, the workhorse of "
        "every segmented A/B readout. Each stratum's 2x2 folds to "
        "exact BIGINTs in one conditional aggregate; the five strata "
        "pivot to ONE row (the pinned _MH_STRATA grid) so the pooled "
        "sum-of-rationals has a WRITTEN term order — deterministic "
        "float composition, no aggregation-order hazard, and no "
        "DECIMAL-overflow from a common-denominator multiply-through. "
        "One fact scan; everything after is a one-row fold."
    ),
    tags=("stats", "agg"),
)
def stats_mantel_haenszel_pooled_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    cells = t.orders.groupBy("o_orderpriority").agg(
        F.sum(
            F.when((F.col("o_custkey") % 2 == 0) & (F.col("o_totalprice") > 150000), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("a"),
        F.sum(
            F.when(
                (F.col("o_custkey") % 2 == 0) & (F.col("o_totalprice") <= 150000), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when((F.col("o_custkey") % 2 != 0) & (F.col("o_totalprice") > 150000), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            F.when(
                (F.col("o_custkey") % 2 != 0) & (F.col("o_totalprice") <= 150000), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    piv = cells.agg(
        *[
            F.expr(
                f"CAST(MAX(CASE WHEN o_orderpriority = '{s}' THEN {c} END)"
                f" AS BIGINT) AS {c}_{i}"
            )
            for i, s in enumerate(_MH_STRATA)
            for c in _MH_COLS
        ]
    )
    n_tot = " + ".join(f"n_{i}" for i in range(len(_MH_STRATA)))
    return piv.select(
        F.expr(f"CAST({n_tot} AS BIGINT)").alias("n_total"),
        F.lit(len(_MH_STRATA)).cast("bigint").alias("k_strata"),
        F.expr(_mh_or_expr()).alias("mh_odds_ratio"),
    )


@register(
    "stats_trimmed_mean_comparison",
    oracle="""
        WITH pts AS (
            SELECT event_type, event_id,
                   CAST(round(value * 10000) AS BIGINT) AS x
            FROM events WHERE value IS NOT NULL
        ),
        ranked AS (
            SELECT event_type, x,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY x, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS ng
            FROM pts
        ),
        agg AS (
            SELECT event_type,
                   CAST(MAX(ng) AS BIGINT) AS n,
                   CAST(MAX(ng) - 2 * (MAX(ng) // 10) AS BIGINT) AS n_trimmed,
                   CAST(SUM(x) AS BIGINT) AS s_all,
                   CAST(SUM(CASE WHEN rn > ng // 10 AND rn <= ng - ng // 10
                                 THEN x ELSE 0 END) AS BIGINT) AS s_trim
            FROM ranked GROUP BY event_type
        )
        SELECT event_type, n, n_trimmed,
               CAST(s_all AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)
                 AS raw_mean,
               CAST(s_trim AS DOUBLE) / (CAST(n_trimmed AS DOUBLE) * 10000.0)
                 AS trimmed_mean,
               CAST(s_all AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)
                 - CAST(s_trim AS DOUBLE) / (CAST(n_trimmed AS DOUBLE) * 10000.0)
                 AS tail_pull
        FROM agg
        ORDER BY event_type
    """,
    doc=(
        "ST79: 10%% two-sided trimmed mean vs the raw mean per event "
        "type — the robust-location diagnostic whose GAP (tail_pull) "
        "quantifies how much the tails drag the mean, the cheap test "
        "for 'is my average a tail artifact' before winsorization "
        "picks a clip. Values quantize to fixed-point integers; the "
        "per-type rank pass uses the deterministic (x, event_id) "
        "order, trim bounds are integer floor-divisions, and the "
        "three emitted doubles are shared single divisions of exact "
        "BIGINT sums (tail_pull composes the two written-order). One "
        "windowed fact pass partitioned by type, one hash agg."
    ),
    tags=("stats", "agg"),
)
def stats_trimmed_mean_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    pts = t.events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("x"),
    )
    ranked = pts.select(
        "event_type",
        "x",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("x", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("ng"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.max("ng").cast("bigint").alias("n"),
        F.expr("CAST(MAX(ng) - 2 * (MAX(ng) DIV 10) AS BIGINT)").alias("n_trimmed"),
        F.sum("x").cast("bigint").alias("s_all"),
        F.expr(
            "CAST(SUM(CASE WHEN rn > ng DIV 10 AND rn <= ng - ng DIV 10"
            " THEN x ELSE 0 END) AS BIGINT)"
        ).alias("s_trim"),
    )
    raw = "CAST(s_all AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)"
    trm = "CAST(s_trim AS DOUBLE) / (CAST(n_trimmed AS DOUBLE) * 10000.0)"
    return agg.select(
        "event_type",
        "n",
        "n_trimmed",
        F.expr(raw).alias("raw_mean"),
        F.expr(trm).alias("trimmed_mean"),
        F.expr(f"{raw} - {trm}").alias("tail_pull"),
    ).orderBy("event_type")


@register(
    "stats_goodman_kruskal_gamma",
    oracle="""
        WITH cells AS (
            SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS pr,
                   CAST(least(floor(o_totalprice / 100000), 3) AS INT) AS band,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1, 2
        ),
        pairs AS (
            SELECT CAST(SUM(CASE WHEN (b.pr > a.pr AND b.band > a.band)
                                   OR (b.pr < a.pr AND b.band < a.band)
                                 THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c2,
                   CAST(SUM(CASE WHEN (b.pr > a.pr AND b.band < a.band)
                                   OR (b.pr < a.pr AND b.band > a.band)
                                 THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d2
            FROM cells a CROSS JOIN cells b
        )
        SELECT CAST(c2 // 2 AS BIGINT) AS n_concordant,
               CAST(d2 // 2 AS BIGINT) AS n_discordant,
               CASE WHEN c2 + d2 = 0 THEN NULL
                    ELSE CAST(c2 - d2 AS DOUBLE) / CAST(c2 + d2 AS DOUBLE) END
                 AS gamma
        FROM pairs
    """,
    doc=(
        "ST80: Goodman-Kruskal gamma between order priority (ordinal "
        "1..5) and the price band (ordinal 0..3) — the ordinal-ordinal "
        "association measure that ignores ties entirely, completing "
        "the Kendall/Somers'-D family (gamma = (C-D)/(C+D) over "
        "concordant/discordant pairs ONLY). The fact table reduces to "
        "the <=20-cell contingency grid in one hash agg; pair counts "
        "come from the bounded grid's self-cross (metadata-scale, "
        "every ordered pair counted twice then halved — exact BIGINT "
        "products of cell counts, never a row-pair join); gamma is "
        "one shared division. DuckDB's // and Spark's DIV agree on "
        "the even halves."
    ),
    tags=("stats", "agg"),
)
def stats_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    cells = t.orders.groupBy(
        F.expr("CAST(substr(o_orderpriority, 1, 1) AS INT)").alias("pr"),
        F.expr("CAST(least(floor(o_totalprice / 100000), 3) AS INT)").alias("band"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = cells.select(
        F.col("pr").alias("apr"), F.col("band").alias("aband"), F.col("n").alias("an")
    )
    b = cells.select(
        F.col("pr").alias("bpr"), F.col("band").alias("bband"), F.col("n").alias("bn")
    )
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                ((F.col("bpr") > F.col("apr")) & (F.col("bband") > F.col("aband")))
                | ((F.col("bpr") < F.col("apr")) & (F.col("bband") < F.col("aband"))),
                F.col("an") * F.col("bn"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c2"),
        F.sum(
            F.when(
                ((F.col("bpr") > F.col("apr")) & (F.col("bband") < F.col("aband")))
                | ((F.col("bpr") < F.col("apr")) & (F.col("bband") > F.col("aband"))),
                F.col("an") * F.col("bn"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("d2"),
    )
    return pairs.select(
        F.expr("c2 DIV 2").alias("n_concordant"),
        F.expr("d2 DIV 2").alias("n_discordant"),
        F.expr(
            "CASE WHEN c2 + d2 = 0 THEN NULL"
            " ELSE CAST(c2 - d2 AS DOUBLE) / CAST(c2 + d2 AS DOUBLE) END"
        ).alias("gamma"),
    )


@register(
    "stats_cronbach_alpha_items",
    oracle="""
        WITH per_item AS (
            SELECT event_type,
                   CAST(SUM(c) AS DECIMAL(38,0)) AS s1,
                   CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS s2
            FROM (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
                  FROM events GROUP BY user_id, event_type)
            GROUP BY event_type
        ),
        per_user AS (
            SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n_users,
                   CAST(SUM(t) AS DECIMAL(38,0)) AS t1,
                   CAST(SUM(CAST(t AS DECIMAL(38,0)) * t) AS DECIMAL(38,0)) AS t2
            FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS t
                  FROM events GROUP BY user_id)
        ),
        items AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k_items,
                   CAST(SUM(u.n_users * s2 - s1 * s1) AS DECIMAL(38,0)) AS sum_item_var
            FROM per_item CROSS JOIN per_user u
            GROUP BY u.n_users
        )
        SELECT i.k_items,
               CAST(u.n_users AS BIGINT) AS n_users,
               CAST(CAST(i.k_items AS DOUBLE) / CAST(i.k_items - 1 AS DOUBLE)
                    * (1.0 - CAST(CAST(i.sum_item_var AS VARCHAR) AS DOUBLE)
                             / CAST(CAST(u.n_users * u.t2 - u.t1 * u.t1 AS VARCHAR)
                                    AS DOUBLE)) AS DOUBLE) AS cronbach_alpha
        FROM items i CROSS JOIN per_user u
    """,
    doc=(
        "ST82: Cronbach's alpha internal-consistency coefficient, with "
        "event types as items and per-user event counts as scores — "
        "the reliability check run before treating per-type activity "
        "counts as one engagement scale. Zero-score cells need no "
        "materialized user x item grid: a user absent from an item "
        "contributes 0 to both of that item's power sums, so per-item "
        "S1/S2 and per-user total T1/T2 aggregates (exact "
        "DECIMAL(38,0) multiply-through variances, N*S2 - S1^2 form) "
        "are the whole computation. alpha = k/(k-1) * (1 - sum_i "
        "var_i / var_total) as one shared expression; the two scalar "
        "cross joins are one-row broadcasts."
    ),
    tags=("stats", "agg"),
)
def stats_cronbach_alpha_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ui = t.events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_item = ui.groupBy("event_type").agg(
        F.expr("CAST(SUM(c) AS DECIMAL(38,0))").alias("s1"),
        F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0))").alias("s2"),
    )
    per_user = (
        t.events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n_users"),
            F.expr("CAST(SUM(t) AS DECIMAL(38,0))").alias("t1"),
            F.expr("CAST(SUM(CAST(t AS DECIMAL(38,0)) * t) AS DECIMAL(38,0))").alias("t2"),
        )
    )
    items = (
        per_item.crossJoin(F.broadcast(per_user))
        .groupBy("n_users", "t1", "t2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_items"),
            F.expr("CAST(SUM(n_users * s2 - s1 * s1) AS DECIMAL(38,0))").alias(
                "sum_item_var"
            ),
        )
    )
    return items.select(
        "k_items",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.expr(
            "CAST(CAST(k_items AS DOUBLE) / CAST(k_items - 1 AS DOUBLE)"
            " * (1.0 - CAST(sum_item_var AS DOUBLE)"
            "          / CAST(n_users * t2 - t1 * t1 AS DOUBLE)) AS DOUBLE)"
        ).alias("cronbach_alpha"),
    )


@register(
    "stats_intraclass_correlation",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(round(value * 10000) AS BIGINT))
                        AS VARCHAR) AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(CAST(round(value * 10000) AS BIGINT)
                                      AS DECIMAL(38,0))
                                 * CAST(round(value * 10000) AS BIGINT))
                        AS VARCHAR) AS DOUBLE) AS s2
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS a,
                   CAST(SUM(n) AS DOUBLE) AS ntd,
                   list_reduce(list(s1 ORDER BY event_type), (x, y) -> x + y) AS st1,
                   list_reduce(list(s2 ORDER BY event_type), (x, y) -> x + y) AS st2,
                   list_reduce(list(s1 * s1 / nd ORDER BY event_type),
                               (x, y) -> x + y) AS sgm,
                   list_reduce(list(nd * nd ORDER BY event_type),
                               (x, y) -> x + y) AS sn2
            FROM g
        )
        SELECT n_total, a,
               (sgm - st1 * st1 / ntd) / CAST(a - 1 AS DOUBLE) AS ms_between,
               (st2 - sgm) / CAST(n_total - a AS DOUBLE) AS ms_within,
               (ntd - sn2 / ntd) / CAST(a - 1 AS DOUBLE) AS k0,
               ((sgm - st1 * st1 / ntd) / CAST(a - 1 AS DOUBLE)
                - (st2 - sgm) / CAST(n_total - a AS DOUBLE))
               / ((sgm - st1 * st1 / ntd) / CAST(a - 1 AS DOUBLE)
                  + ((ntd - sn2 / ntd) / CAST(a - 1 AS DOUBLE) - 1.0)
                    * ((st2 - sgm) / CAST(n_total - a AS DOUBLE))) AS icc1
        FROM tot
    """,
    doc=(
        "ST83: intraclass correlation ICC(1,1) of sensor value within "
        "event type (how much of the value variance is explained by "
        "the type grouping) — one-way random-effects form with the "
        "unbalanced-design group size k0 = (N - sum n_g^2 / N)/(a-1). "
        "Values quantize to 1e-4 fixed point, per-group power sums are "
        "exact integers (DECIMAL(38,0) squares, VARCHAR-hop double "
        "casts), and the cross-group reductions reuse the ANOVA "
        "battery's ORDER-PINNED list folds; ICC is one shared closed "
        "form over MSB/MSW/k0."
    ),
    tags=("stats", "agg"),
)
def stats_intraclass_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    g = (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("double").alias("nd"),
            F.expr(
                "CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE)"
            ).alias("s1"),
            F.expr(
                "CAST(SUM(CAST(CAST(round(value * 10000) AS BIGINT) AS DECIMAL(38,0))"
                " * CAST(round(value * 10000) AS BIGINT)) AS DOUBLE)"
            ).alias("s2"),
        )
    )
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(event_type, {v} AS x))),"
        " s -> s.x), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("a"),
        F.sum("n").cast("double").alias("ntd"),
        F.expr(fold.format(v="s1")).alias("st1"),
        F.expr(fold.format(v="s2")).alias("st2"),
        F.expr(fold.format(v="s1 * s1 / nd")).alias("sgm"),
        F.expr(fold.format(v="nd * nd")).alias("sn2"),
    )
    msb = "(sgm - st1 * st1 / ntd) / CAST(a - 1 AS DOUBLE)"
    msw = "(st2 - sgm) / CAST(n_total - a AS DOUBLE)"
    k0 = "(ntd - sn2 / ntd) / CAST(a - 1 AS DOUBLE)"
    return tot.select(
        "n_total",
        "a",
        F.expr(msb).alias("ms_between"),
        F.expr(msw).alias("ms_within"),
        F.expr(k0).alias("k0"),
        F.expr(
            f"({msb} - {msw}) / ({msb} + ({k0} - 1.0) * ({msw}))"
        ).alias("icc1"),
    )


@register(
    "stats_lin_ccc_agreement",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        s AS (
            SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
            FROM daily
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               CAST(CAST(2 * (n * sxy - sx * sy) AS VARCHAR) AS DOUBLE)
               / CAST(CAST((n * sxx - sx * sx) + (n * syy - sy * sy)
                           + (sx - sy) * (sx - sy) AS VARCHAR) AS DOUBLE)
                 AS lin_ccc
        FROM s
    """,
    doc=(
        "ST84: Lin's concordance correlation coefficient between daily "
        "click and view counts — agreement with the 45-degree line, "
        "not just linear association (penalizes scale and location "
        "shifts Pearson ignores; the standard check when one metric "
        "is supposed to REPRODUCE another). Multiply-through form "
        "CCC = 2(n*Sxy - SxSy) / ((n*Sxx - Sx^2) + (n*Syy - Sy^2) + "
        "(Sx - Sy)^2): every term an exact DECIMAL(38,0) integer from "
        "one day-grain aggregate, one shared final division."
    ),
    tags=("stats", "timeseries"),
)
def stats_lin_ccc_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("y"),
    )
    s = daily.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(x) AS DECIMAL(38,0))").alias("sx"),
        F.expr("CAST(SUM(y) AS DECIMAL(38,0))").alias("sy"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))").alias("sxx"),
        F.expr("CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))").alias("syy"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))").alias("sxy"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        (
            F.expr("CAST(2 * (n * sxy - sx * sy) AS DOUBLE)")
            / F.expr(
                "CAST((n * sxx - sx * sx) + (n * syy - sy * sy)"
                " + (sx - sy) * (sx - sy) AS DOUBLE)"
            )
        ).alias("lin_ccc"),
    )


@register(
    "stats_bland_altman_agreement",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT)
                   - CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS d
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(d) AS BIGINT) AS sd1,
                   CAST(SUM(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0)) AS sd2
            FROM daily
        ),
        lim AS (
            SELECT n, sd1,
                   CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_diff,
                   sqrt((CAST(n AS DOUBLE)
                         * CAST(CAST(sd2 AS VARCHAR) AS DOUBLE)
                         - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd
            FROM s
        )
        SELECT n AS n_days, mean_diff,
               mean_diff - 1.96 * sd AS loa_lower,
               mean_diff + 1.96 * sd AS loa_upper,
               (SELECT CAST(SUM(CASE WHEN CAST(d AS DOUBLE)
                                          >= l.mean_diff - 1.96 * l.sd
                                      AND CAST(d AS DOUBLE)
                                          <= l.mean_diff + 1.96 * l.sd
                                 THEN 1 ELSE 0 END) AS BIGINT)
                FROM daily) AS n_within_limits
        FROM lim l
    """,
    doc=(
        "ST85: Bland-Altman limits of agreement between daily click "
        "and view counts — mean difference ± 1.96 sd plus the count of "
        "days inside the limits: the method-comparison companion of "
        "Lin's CCC (CCC scores agreement; Bland-Altman LOCATES the "
        "disagreement band). Differences are exact integers, the sd is "
        "one shared sqrt over DECIMAL-exact multiply-through sums, and "
        "the within-limits comparison pits exact integers against the "
        "same shared doubles on both engines. One day-grain aggregate "
        "+ a one-row broadcast back over the 30-day table."
    ),
    tags=("stats", "timeseries"),
)
def stats_bland_altman_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)"
            " - CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("d")
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd1"),
        F.expr("CAST(SUM(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0))").alias("sd2"),
    )
    lim = s.select(
        "n",
        F.expr("CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("mean_diff"),
        F.expr(
            "sqrt((CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE)"
            " - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
        ).alias("sd"),
    )
    within = (
        daily.crossJoin(F.broadcast(lim))
        .agg(
            F.sum(
                F.when(
                    (F.col("d").cast("double") >= F.col("mean_diff") - 1.96 * F.col("sd"))
                    & (F.col("d").cast("double") <= F.col("mean_diff") + 1.96 * F.col("sd")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_within_limits")
        )
    )
    return lim.crossJoin(F.broadcast(within)).select(
        F.col("n").alias("n_days"),
        "mean_diff",
        (F.col("mean_diff") - 1.96 * F.col("sd")).alias("loa_lower"),
        (F.col("mean_diff") + 1.96 * F.col("sd")).alias("loa_upper"),
        "n_within_limits",
    )


@register(
    "stats_process_capability_cpk",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(round(value * 10000) AS BIGINT))
                        AS DECIMAL(38,0)) AS s1,
                   CAST(SUM(CAST(CAST(round(value * 10000) AS BIGINT)
                                 AS DECIMAL(38,0))
                            * CAST(round(value * 10000) AS BIGINT))
                        AS DECIMAL(38,0)) AS s2,
                   CAST(SUM(CASE WHEN value < 0.0 OR value > 100.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_spec
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ),
        m AS (
            SELECT event_type, n, n_out_of_spec,
                   CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                       / CAST(n AS DOUBLE) / 10000.0 AS mu,
                   sqrt((CAST(n AS DOUBLE) * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(s1 AS VARCHAR) AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                   / 10000.0 AS sigma
            FROM g
        )
        SELECT event_type, n, mu, sigma, n_out_of_spec,
               (100.0 - 0.0) / (6.0 * sigma) AS cp,
               least((100.0 - mu) / (3.0 * sigma),
                     (mu - 0.0) / (3.0 * sigma)) AS cpk
        FROM m
        ORDER BY event_type
    """,
    doc=(
        "ST86: process capability indices Cp/Cpk of the value stream "
        "per event type against the declared [0, 100] spec band — the "
        "SPC question 'does this metric FIT its contract, centered?' "
        "(Cpk < 1 means the process breaches spec even if no point has "
        "yet). Mean and sigma come from 1e-4 fixed-point DECIMAL power "
        "sums (VARCHAR-hop casts), out-of-spec counts are exact, and "
        "Cp/Cpk are shared closed forms — one hash aggregate total."
    ),
    tags=("stats", "dq"),
)
def stats_process_capability_cpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    fixed = "CAST(round(value * 10000) AS BIGINT)"
    g = (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(f"CAST(SUM({fixed}) AS DECIMAL(38,0))").alias("s1"),
            F.expr(
                f"CAST(SUM(CAST({fixed} AS DECIMAL(38,0)) * {fixed}) AS DECIMAL(38,0))"
            ).alias("s2"),
            F.expr(
                "CAST(SUM(CASE WHEN value < 0.0 OR value > 100.0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_out_of_spec"),
        )
    )
    m = g.select(
        "event_type",
        "n",
        "n_out_of_spec",
        F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0").alias("mu"),
        F.expr(
            "sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 10000.0"
        ).alias("sigma"),
    )
    return m.select(
        "event_type",
        "n",
        "mu",
        "sigma",
        "n_out_of_spec",
        F.expr("(100.0 - 0.0) / (6.0 * sigma)").alias("cp"),
        F.expr(
            "least((100.0 - mu) / (3.0 * sigma), (mu - 0.0) / (3.0 * sigma))"
        ).alias("cpk"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Round-8 additions (SURVEY §2.18, continuation batch): Poisson
# dispersion, capture-recapture population size, and TOST equivalence.
# ---------------------------------------------------------------------------


@register(
    "stats_poisson_dispersion_index",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxx
            FROM daily GROUP BY event_type
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_days,
               CAST(sx AS BIGINT) AS n_events,
               CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                 / CAST(CAST((n - 1) * n * sx AS VARCHAR) AS DOUBLE)
                 * CAST(CAST(n AS VARCHAR) AS DOUBLE) AS dispersion_index,
               CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n * sx AS VARCHAR) AS DOUBLE) AS chi2_stat,
               n * sxx - sx * sx > (n - 1) * sx AS overdispersed
        FROM s
        ORDER BY event_type
    """,
    doc=(
        "ST87: Poisson dispersion (variance-to-mean) index of the "
        "daily arrival counts per event type — D = s^2 / x_bar, the "
        "first-line test for whether arrivals are Poisson (D = 1), "
        "bursty/clumped (D > 1, the usual web reality), or "
        "under-dispersed (rate-limited producers). Multiply-through "
        "form D = n * (n*Sxx - Sx^2) / ((n-1) * n * Sx): every term "
        "an exact DECIMAL(38,0) integer from one day-grain aggregate; "
        "the chi-square statistic (n-1)*D shares the same pieces and "
        "the over-dispersion verdict is an EXACT integer comparison "
        "(n*Sxx - Sx^2 > (n-1)*Sx), immune to float rounding at the "
        "D = 1 boundary. Two cascading hash aggregates, both "
        "map-side combinable; calendar-bounded day grain."
    ),
    tags=("stats", "timeseries"),
)
def stats_poisson_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    s = daily.groupBy("event_type").agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(y) AS DECIMAL(38,0))").alias("sx"),
        F.expr("CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))").alias(
            "sxx"
        ),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("sx").cast("bigint").alias("n_events"),
        F.expr(
            "CAST(n * sxx - sx * sx AS DOUBLE)"
            " / CAST((n - 1) * n * sx AS DOUBLE) * CAST(n AS DOUBLE)"
        ).alias("dispersion_index"),
        F.expr(
            "CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * sx AS DOUBLE)"
        ).alias("chi2_stat"),
        F.expr("n * sxx - sx * sx > (n - 1) * sx").alias("overdispersed"),
    ).orderBy("event_type")


@register(
    "stats_lincoln_petersen_recapture",
    oracle="""
        WITH flags AS (
            SELECT user_id,
                   MAX(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                            THEN 1 ELSE 0 END) AS in_a,
                   MAX(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                            THEN 1 ELSE 0 END) AS in_b
            FROM events GROUP BY user_id
        ),
        s AS (
            SELECT CAST(SUM(in_a) AS BIGINT) AS n1,
                   CAST(SUM(in_b) AS BIGINT) AS n2,
                   CAST(SUM(in_a * in_b) AS BIGINT) AS m,
                   CAST(COUNT(*) AS BIGINT) AS true_pop
            FROM flags
        )
        SELECT n1, n2, m, true_pop,
               CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / CAST(m + 1 AS DOUBLE) - 1.0
                 AS chapman_estimate,
               (CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / CAST(m + 1 AS DOUBLE) - 1.0
                - CAST(true_pop AS DOUBLE)) / CAST(true_pop AS DOUBLE)
                 AS rel_err
        FROM s
    """,
    doc=(
        "ST88: Lincoln-Petersen capture-recapture population estimate "
        "with the Chapman bias correction — treat the first and second "
        "calendar halves as two capture occasions of the user "
        "population and estimate total population from the overlap: "
        "N_hat = (n1+1)(n2+1)/(m+1) - 1. The ecology estimator is "
        "exactly the dedup/coverage question a crawl pipeline asks "
        "('how many documents exist, given two partial snapshots and "
        "their overlap'). One user-grain aggregate (two conditional "
        "MAX flags), then a one-row fold; n1/n2/m/true_pop are exact "
        "BIGINTs, the estimate and its relative error are shared "
        "closed-form doubles over exact integers. The true population "
        "ships alongside so the oracle pins estimator accuracy, not "
        "just arithmetic."
    ),
    tags=("stats", "llm"),
)
def stats_lincoln_petersen_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    flags = t.events.groupBy("user_id").agg(
        F.expr(
            "MAX(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15' THEN 1 ELSE 0 END)"
        ).alias("in_a"),
        F.expr(
            "MAX(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END)"
        ).alias("in_b"),
    )
    s = flags.agg(
        F.expr("CAST(SUM(in_a) AS BIGINT)").alias("n1"),
        F.expr("CAST(SUM(in_b) AS BIGINT)").alias("n2"),
        F.expr("CAST(SUM(in_a * in_b) AS BIGINT)").alias("m"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("true_pop"),
    )
    est = "CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / CAST(m + 1 AS DOUBLE) - 1.0"
    return s.select(
        "n1",
        "n2",
        "m",
        "true_pop",
        F.expr(est).alias("chapman_estimate"),
        F.expr(
            f"({est} - CAST(true_pop AS DOUBLE)) / CAST(true_pop AS DOUBLE)"
        ).alias("rel_err"),
    )


@register(
    "stats_tost_equivalence",
    oracle="""
        WITH s AS (
            SELECT
              CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n1,
              CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n2,
              CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(round(value * 10000) AS BIGINT) END)
                   AS DECIMAL(38,0)) AS s11,
              CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(round(value * 10000) AS BIGINT) END)
                   AS DECIMAL(38,0)) AS s12,
              CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(CAST(round(value * 10000) AS BIGINT)
                                 AS DECIMAL(38,0))
                            * CAST(round(value * 10000) AS BIGINT) END)
                   AS DECIMAL(38,0)) AS s21,
              CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(CAST(round(value * 10000) AS BIGINT)
                                 AS DECIMAL(38,0))
                            * CAST(round(value * 10000) AS BIGINT) END)
                   AS DECIMAL(38,0)) AS s22
            FROM events
            WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        ),
        m AS (
            SELECT n1, n2,
                   CAST(CAST(s11 AS VARCHAR) AS DOUBLE)
                     / CAST(n1 AS DOUBLE) / 10000.0 AS mu1,
                   CAST(CAST(s12 AS VARCHAR) AS DOUBLE)
                     / CAST(n2 AS DOUBLE) / 10000.0 AS mu2,
                   (CAST(n1 AS DOUBLE) * CAST(CAST(s21 AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(s11 AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(s11 AS VARCHAR) AS DOUBLE))
                     / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
                     / 100000000.0 AS v1,
                   (CAST(n2 AS DOUBLE) * CAST(CAST(s22 AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(s12 AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(s12 AS VARCHAR) AS DOUBLE))
                     / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))
                     / 100000000.0 AS v2
            FROM s
        ),
        f AS (
            SELECT n1, n2, mu1 - mu2 AS mean_diff,
                   sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)) AS se
            FROM m
        )
        SELECT n1, n2, mean_diff, se,
               (mean_diff + 2.0) / se AS t_lower,
               (mean_diff - 2.0) / se AS t_upper,
               (mean_diff + 2.0) / se > 1.6448536269514722
                 AND (mean_diff - 2.0) / se < -1.6448536269514722
                 AS equivalent_90
        FROM f
    """,
    doc=(
        "ST89: TOST (two one-sided tests) equivalence between the "
        "click and view value means at margin +/-2.0 — the test that "
        "answers the question a plain t-test cannot: 'are these two "
        "pipelines the SAME to within delta' (non-significance is not "
        "equivalence; TOST is the standard fix, 90% CI inside the "
        "margin). Welch machinery reused: per-arm 1e-4 fixed-point "
        "power sums in one conditional one-row aggregate (exact "
        "DECIMAL integers, VARCHAR-hopped to DOUBLE on the oracle "
        "side), then shared closed-form doubles for the two t "
        "statistics against the z_0.95 critical value (large-n normal "
        "approximation, documented). The verdict column is the same "
        "boolean expression on both engines over identical doubles."
    ),
    tags=("stats", "ab"),
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    fixed = "CAST(round(value * 10000) AS BIGINT)"
    s = (
        t.events.filter(
            F.col("value").isNotNull() & F.col("event_type").isin("click", "view")
        )
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n1"),
            F.expr(
                "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n2"),
            F.expr(
                f"CAST(SUM(CASE WHEN event_type = 'click' THEN {fixed} END)"
                " AS DECIMAL(38,0))"
            ).alias("s11"),
            F.expr(
                f"CAST(SUM(CASE WHEN event_type = 'view' THEN {fixed} END)"
                " AS DECIMAL(38,0))"
            ).alias("s12"),
            F.expr(
                "CAST(SUM(CASE WHEN event_type = 'click'"
                f" THEN CAST({fixed} AS DECIMAL(38,0)) * {fixed} END)"
                " AS DECIMAL(38,0))"
            ).alias("s21"),
            F.expr(
                "CAST(SUM(CASE WHEN event_type = 'view'"
                f" THEN CAST({fixed} AS DECIMAL(38,0)) * {fixed} END)"
                " AS DECIMAL(38,0))"
            ).alias("s22"),
        )
    )
    m = s.select(
        "n1",
        "n2",
        F.expr("CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE) / 10000.0").alias("mu1"),
        F.expr("CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE) / 10000.0").alias("mu2"),
        F.expr(
            "(CAST(n1 AS DOUBLE) * CAST(s21 AS DOUBLE)"
            " - CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE))"
            " / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) / 100000000.0"
        ).alias("v1"),
        F.expr(
            "(CAST(n2 AS DOUBLE) * CAST(s22 AS DOUBLE)"
            " - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))"
            " / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)) / 100000000.0"
        ).alias("v2"),
    )
    f = m.select(
        "n1",
        "n2",
        F.expr("mu1 - mu2").alias("mean_diff"),
        F.expr(
            "sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))"
        ).alias("se"),
    )
    return f.select(
        "n1",
        "n2",
        "mean_diff",
        "se",
        F.expr("(mean_diff + 2.0) / se").alias("t_lower"),
        F.expr("(mean_diff - 2.0) / se").alias("t_upper"),
        F.expr(
            "(mean_diff + 2.0) / se > 1.6448536269514722"
            " AND (mean_diff - 2.0) / se < -1.6448536269514722"
        ).alias("equivalent_90"),
    )


# ---------------------------------------------------------------------------
# Round-8 additions (SURVEY §2.18): the spatial-statistics tier over the
# deterministic coordinate model shared with geo_grid_hotspots
# (dashboard.py) — 10-degree grid cells, rook/queen adjacency by
# cell-key equi-join (never a distance cross join).
# ---------------------------------------------------------------------------

#: shared with dashboard.py::geo_grid_hotspots (the reference's
#: station-plus-jitter coordinate model re-derived from (user_id,
#: event_id) in centidegrees; iot-data-stream.py:139-257)
_GEO_LAT = "((user_id * 7919) % 18000 + (event_id % 21)) % 18000 - 9000"
_GEO_LON = "((user_id * 104729) % 36000 + (event_id % 17)) % 36000 - 18000"

#: 10-degree cells: 18 x 36 possible, every SF occupies most of them —
#: a dense lattice where rook adjacency is meaningful
_GEO_CELLS_SQL = f"""
        coords AS (
            SELECT CAST(floor(({_GEO_LAT}) / 1000.0) AS BIGINT) AS cell_lat,
                   CAST(floor(({_GEO_LON}) / 1000.0) AS BIGINT) AS cell_lon
            FROM events
        ),
        cells AS (
            SELECT cell_lat, cell_lon, CAST(COUNT(*) AS BIGINT) AS x
            FROM coords GROUP BY cell_lat, cell_lon
        )
"""


def _geo_cells(t: Tables) -> DataFrame:
    coords = t.events.select(
        F.expr(f"CAST(floor(({_GEO_LAT}) / 1000.0) AS BIGINT)").alias("cell_lat"),
        F.expr(f"CAST(floor(({_GEO_LON}) / 1000.0) AS BIGINT)").alias("cell_lon"),
    )
    return coords.groupBy("cell_lat", "cell_lon").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )


@register(
    "stats_moran_i_spatial",
    oracle=f"""
        WITH {_GEO_CELLS_SQL},
        s AS (
            SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS sx
            FROM cells
        ),
        dev AS (
            SELECT cell_lat, cell_lon,
                   CAST(s.n * c.x - s.sx AS DECIMAL(38,0)) AS d
            FROM cells c CROSS JOIN s
        ),
        pairs AS (
            SELECT a.d AS da, b.d AS db
            FROM dev a
            JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dl, dn) ON TRUE
            JOIN dev b ON b.cell_lat = a.cell_lat + o.dl
                      AND b.cell_lon = a.cell_lon + o.dn
        ),
        agg AS (
            SELECT (SELECT CAST(n AS BIGINT) FROM s) AS n_cells,
                   CAST(COUNT(*) AS BIGINT) AS w_pairs,
                   CAST(SUM(CAST(da AS DECIMAL(38,0)) * db) AS DECIMAL(38,0)) AS num,
                   (SELECT CAST(SUM(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0))
                    FROM dev) AS den
            FROM pairs
        )
        SELECT n_cells, w_pairs,
               CAST(n_cells AS DOUBLE) * CAST(CAST(num AS VARCHAR) AS DOUBLE)
                 / (CAST(w_pairs AS DOUBLE) * CAST(CAST(den AS VARCHAR) AS DOUBLE))
                 AS morans_i,
               -1.0 / CAST(n_cells - 1 AS DOUBLE) AS expected_i,
               CAST(n_cells AS DECIMAL(38,0)) * (n_cells - 1) * num
                 > -(CAST(w_pairs AS DECIMAL(38,0)) * den) AS clustered
        FROM agg
    """,
    doc=(
        "ST90: Moran's I global spatial autocorrelation of event "
        "density over the 10-degree grid (rook adjacency, binary "
        "weights, observed-cell universe) — THE first statistic of "
        "any spatial analysis: is density clustered (I > E[I]), "
        "random, or dispersed. Multiply-through basis d_i = n*x_i - S "
        "makes numerator Sum_pairs(d_i * d_j) and denominator "
        "Sum(d_i^2) exact DECIMAL integers whose shared n^2 scale "
        "cancels in I = n * num / (W * den) — one shared division, "
        "VARCHAR-hopped on the oracle side; the clustered verdict is "
        "an EXACT integer comparison against E[I] = -1/(n-1), immune "
        "to rounding at the boundary. Adjacency is a 4-offset "
        "cell-key EQUI-join on the bounded cell table (648 possible "
        "cells at any corpus size) — the spatial join never touches "
        "event grain and no distance cross join exists."
    ),
    tags=("stats", "geo"),
)
def stats_moran_i_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    cells = _geo_cells(t)
    s = cells.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(x) AS DECIMAL(38,0))").alias("sx"),
    )
    dev = cells.crossJoin(F.broadcast(s)).select(
        "cell_lat",
        "cell_lon",
        F.expr("CAST(n * x - sx AS DECIMAL(38,0))").alias("d"),
    )
    offsets = F.expr(
        "explode(array(struct(1 AS dl, 0 AS dn), struct(-1 AS dl, 0 AS dn),"
        " struct(0 AS dl, 1 AS dn), struct(0 AS dl, -1 AS dn)))"
    )
    a = dev.select("cell_lat", "cell_lon", F.col("d").alias("da"), offsets.alias("o"))
    b = dev.select(
        F.col("cell_lat").alias("blat"),
        F.col("cell_lon").alias("blon"),
        F.col("d").alias("db"),
    )
    pairs = a.join(
        b,
        (F.col("blat") == F.col("cell_lat") + F.col("o.dl"))
        & (F.col("blon") == F.col("cell_lon") + F.col("o.dn")),
    )
    den = dev.agg(
        F.expr("CAST(SUM(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0))").alias(
            "den"
        )
    )
    n_cells = cells.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    agg = (
        pairs.agg(
            F.count(F.lit(1)).cast("bigint").alias("w_pairs"),
            F.expr(
                "CAST(SUM(CAST(da AS DECIMAL(38,0)) * db) AS DECIMAL(38,0))"
            ).alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(n_cells))
    )
    return agg.select(
        "n_cells",
        "w_pairs",
        F.expr(
            "CAST(n_cells AS DOUBLE) * CAST(num AS DOUBLE)"
            " / (CAST(w_pairs AS DOUBLE) * CAST(den AS DOUBLE))"
        ).alias("morans_i"),
        F.expr("-1.0 / CAST(n_cells - 1 AS DOUBLE)").alias("expected_i"),
        F.expr(
            "CAST(n_cells AS DECIMAL(38,0)) * (n_cells - 1) * num"
            " > -(CAST(w_pairs AS DECIMAL(38,0)) * den)"
        ).alias("clustered"),
    )


@register(
    "stats_getis_ord_gi_hotspots",
    oracle=f"""
        WITH {_GEO_CELLS_SQL},
        s AS (
            SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
            FROM cells
        ),
        nbr AS (
            SELECT a.cell_lat, a.cell_lon,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(b.x) AS BIGINT) AS sum_x
            FROM cells a
            JOIN (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,0), (0,1),
                         (1,-1), (1,0), (1,1)) o(dl, dn) ON TRUE
            JOIN cells b ON b.cell_lat = a.cell_lat + o.dl
                        AND b.cell_lon = a.cell_lon + o.dn
            GROUP BY a.cell_lat, a.cell_lon
        )
        SELECT cell_lat, cell_lon, k, sum_x,
               CAST(CAST(s.n * nbr.sum_x - s.sx * nbr.k AS VARCHAR) AS DOUBLE)
                 / sqrt(CAST(CAST((s.n * s.sxx - s.sx * s.sx)
                                  * (s.n * nbr.k - nbr.k * nbr.k)
                             AS VARCHAR) AS DOUBLE)
                        / CAST(s.n - 1 AS DOUBLE)) AS gi_star_z
        FROM nbr CROSS JOIN s
        ORDER BY gi_star_z DESC, cell_lat, cell_lon
        LIMIT 10
    """,
    doc=(
        "ST91: Getis-Ord Gi* hot-spot detection over the 10-degree "
        "grid — per cell, the z-score of its queen-neighborhood "
        "(3x3, self-inclusive) density sum against the global field: "
        "the LOCAL companion of Moran's I (Moran says 'clustering "
        "exists'; Gi* says WHERE), and the statistic behind every "
        "'emerging hot spot' map. Multiply-through z: numerator "
        "n*sum_i - S*k_i and the radicand (n*Sxx - S^2)(n*k_i - "
        "k_i^2) are exact DECIMAL integers (VARCHAR-hopped on the "
        "oracle side), one shared sqrt + division per cell. "
        "Neighborhoods come from a 9-offset cell-key equi-join on "
        "the bounded (<= 648-row) cell table; top-10 is "
        "TakeOrderedAndProject with deterministic (z, lat, lon) "
        "tie-break — no global sort, no window."
    ),
    tags=("stats", "geo", "topk"),
)
def stats_getis_ord_gi_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    cells = _geo_cells(t)
    s = cells.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(x) AS DECIMAL(38,0))").alias("sx"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))").alias(
            "sxx"
        ),
    )
    offsets = F.expr(
        "explode(array("
        "struct(-1 AS dl, -1 AS dn), struct(-1 AS dl, 0 AS dn),"
        " struct(-1 AS dl, 1 AS dn), struct(0 AS dl, -1 AS dn),"
        " struct(0 AS dl, 0 AS dn), struct(0 AS dl, 1 AS dn),"
        " struct(1 AS dl, -1 AS dn), struct(1 AS dl, 0 AS dn),"
        " struct(1 AS dl, 1 AS dn)))"
    )
    a = cells.select("cell_lat", "cell_lon", offsets.alias("o"))
    b = cells.select(
        F.col("cell_lat").alias("blat"),
        F.col("cell_lon").alias("blon"),
        F.col("x").alias("bx"),
    )
    nbr = (
        a.join(
            b,
            (F.col("blat") == F.col("cell_lat") + F.col("o.dl"))
            & (F.col("blon") == F.col("cell_lon") + F.col("o.dn")),
        )
        .groupBy("cell_lat", "cell_lon")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("bx").cast("bigint").alias("sum_x"),
        )
    )
    return (
        nbr.crossJoin(F.broadcast(s))
        .select(
            "cell_lat",
            "cell_lon",
            "k",
            "sum_x",
            F.expr(
                "CAST(n * sum_x - sx * k AS DOUBLE)"
                " / sqrt(CAST((n * sxx - sx * sx) * (n * k - k * k) AS DOUBLE)"
                " / CAST(n - 1 AS DOUBLE))"
            ).alias("gi_star_z"),
        )
        .orderBy(F.desc("gi_star_z"), "cell_lat", "cell_lon")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Round-8 additions (SURVEY §2.18): Holm step-down over the BH test
# family, the Passing-Bablok method-comparison regression, and the
# Hurst rescaled-range table.
# ---------------------------------------------------------------------------

_HOLM_ALPHA = 0.1  # FWER level; identical literal text on both engines

_HOLM_TAIL = """
    stats AS (
        SELECT event_type, n_a, n_b,
               (s_a / nd_a - s_b / nd_b) AS mdiff,
               ((q_a - s_a * s_a / nd_a) / (nd_a - 1)) / nd_a
                 + ((q_b - s_b * s_b / nd_b) / (nd_b - 1)) / nd_b AS se2
        FROM {src}
    ),
    tests AS (
        SELECT event_type, n_a, n_b,
               CASE WHEN se2 = 0 THEN 0.0
                    ELSE (mdiff * mdiff) / se2 END AS z2,
               CASE WHEN mdiff * mdiff = 0 THEN 1.0
                    WHEN se2 = 0 THEN 0.0
                    ELSE LEAST(1.0, se2 / (mdiff * mdiff)) END AS p_chebyshev
        FROM stats
    ),
    ranked AS (
        SELECT *,
               CAST(row_number() OVER (ORDER BY p_chebyshev, event_type) AS BIGINT)
                   AS p_rank,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM tests
    ),
    adj AS (
        SELECT *,
               MAX(CAST(m - p_rank + 1 AS DOUBLE) * p_chebyshev)
                   OVER (ORDER BY p_rank
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS holm_raw
        FROM ranked
    )
    SELECT event_type, n_a, n_b, z2, p_chebyshev, p_rank,
           LEAST(1.0, holm_raw) AS holm_adjusted_p,
           CAST(CASE WHEN holm_raw <= {alpha} THEN 1 ELSE 0 END AS INT) AS reject
    FROM adj
    ORDER BY p_rank
"""


@register(
    "stats_holm_bonferroni_adjust",
    oracle=f"""
        WITH halves AS (
            SELECT event_type,
                   CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) % 2 AS half,
                   value
            FROM events
        ),
        holm_type_half_sums AS (
            SELECT event_type,
                   CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS n_a,
                   CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS n_b,
                   CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS DOUBLE) AS nd_a,
                   CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS DOUBLE) AS nd_b,
                   CAST(CAST(SUM(CASE WHEN half = 0
                                 THEN CAST(value AS DECIMAL(38,8)) END)
                        AS VARCHAR) AS DOUBLE) AS s_a,
                   CAST(CAST(SUM(CASE WHEN half = 1
                                 THEN CAST(value AS DECIMAL(38,8)) END)
                        AS VARCHAR) AS DOUBLE) AS s_b,
                   CAST(CAST(SUM(CASE WHEN half = 0
                                 THEN CAST(value AS DECIMAL(38,8)) * value END)
                        AS VARCHAR) AS DOUBLE) AS q_a,
                   CAST(CAST(SUM(CASE WHEN half = 1
                                 THEN CAST(value AS DECIMAL(38,8)) * value END)
                        AS VARCHAR) AS DOUBLE) AS q_b
            FROM halves GROUP BY event_type
        ),
        {_HOLM_TAIL.format(src='holm_type_half_sums', alpha=_HOLM_ALPHA)}
    """,
    doc=(
        "ST94: Holm-Bonferroni step-down adjustment over the same "
        "per-event-type drift family as the BH op — the FWER-"
        "controlling counterpart (BH controls FDR; Holm controls the "
        "chance of ANY false alarm, the right gate when a single "
        "false page costs more than a few missed drifts). Adjusted "
        "p_i = running MAX of (m - rank + 1) * p over the p-ordered "
        "prefix, capped at 1; the rejection verdict uses the UNCAPPED "
        "cummax against alpha, so the step-down 'stop at first "
        "failure' semantics are exact. Same exact DECIMAL power sums "
        "and ln-free Chebyshev p-values as BH; the cummax window runs "
        "over the |event types|-row test table — metadata, never "
        "fact grain."
    ),
    tags=("stats", "ab", "quality"),
)
def stats_holm_bonferroni_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    halves = t.events.select(
        "event_type",
        (F.expr("datediff(CAST(ts AS DATE), DATE'1970-01-01')") % 2).alias("half"),
        "value",
    )
    sums = halves.groupBy("event_type").agg(
        F.expr("CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS BIGINT)").alias("n_a"),
        F.expr("CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT)").alias("n_b"),
        F.expr("CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS DOUBLE)").alias("nd_a"),
        F.expr("CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS DOUBLE)").alias("nd_b"),
        F.expr(
            "CAST(SUM(CASE WHEN half = 0 THEN CAST(value AS DECIMAL(38,8)) END)"
            " AS DOUBLE)"
        ).alias("s_a"),
        F.expr(
            "CAST(SUM(CASE WHEN half = 1 THEN CAST(value AS DECIMAL(38,8)) END)"
            " AS DOUBLE)"
        ).alias("s_b"),
        F.expr(
            "CAST(SUM(CASE WHEN half = 0 THEN CAST(value AS DECIMAL(38,8)) * value END)"
            " AS DOUBLE)"
        ).alias("q_a"),
        F.expr(
            "CAST(SUM(CASE WHEN half = 1 THEN CAST(value AS DECIMAL(38,8)) * value END)"
            " AS DOUBLE)"
        ).alias("q_b"),
    )
    return spark.sql("WITH " + _HOLM_TAIL, src=sums, alpha=_HOLM_ALPHA)


@register(
    "stats_passing_bablok_regression",
    oracle="""
        WITH daily AS (
            SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS d,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        slopes AS (
            SELECT a.d AS da, b.d AS db,
                   CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
            FROM daily a JOIN daily b ON b.d > a.d AND b.x <> a.x
            WHERE CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) <> -1.0
        ),
        ranked AS (
            SELECT slope,
                   row_number() OVER (ORDER BY slope, da, db) AS rn,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN slope < -1.0 THEN 1 ELSE 0 END) OVER ()
                        AS BIGINT) AS k
            FROM slopes
        ),
        sel AS (
            SELECT MAX(n) AS n_slopes, MAX(k) AS k_offset,
                   MAX(CASE WHEN rn = (n + 1) // 2 + k THEN slope END) AS s_odd,
                   MAX(CASE WHEN rn = n // 2 + k THEN slope END) AS s_lo,
                   MAX(CASE WHEN rn = n // 2 + 1 + k THEN slope END) AS s_hi
            FROM ranked
        ),
        best AS (
            SELECT n_slopes, k_offset,
                   CASE WHEN n_slopes % 2 = 1 THEN s_odd
                        ELSE (s_lo + s_hi) / 2.0 END AS b_slope
            FROM sel
        ),
        resid AS (
            SELECT daily.d, CAST(daily.y AS DOUBLE)
                       - best.b_slope * CAST(daily.x AS DOUBLE) AS r,
                   best.n_slopes, best.k_offset, best.b_slope
            FROM daily CROSS JOIN best
        ),
        rranked AS (
            SELECT *,
                   row_number() OVER (ORDER BY r, d) AS rr,
                   CAST(COUNT(*) OVER () AS BIGINT) AS m
            FROM resid
        ),
        rsel AS (
            SELECT MAX(m) AS n_days, MAX(n_slopes) AS n_slopes,
                   MAX(k_offset) AS k_offset, MAX(b_slope) AS pb_slope,
                   MAX(CASE WHEN rr = (m + 1) // 2 THEN r END) AS r_odd,
                   MAX(CASE WHEN rr = m // 2 THEN r END) AS r_lo,
                   MAX(CASE WHEN rr = m // 2 + 1 THEN r END) AS r_hi
            FROM rranked
        )
        SELECT n_days, n_slopes, k_offset, pb_slope,
               CASE WHEN n_days % 2 = 1 THEN r_odd
                    ELSE (r_lo + r_hi) / 2.0 END AS pb_intercept
        FROM rsel
    """,
    doc=(
        "ST92: Passing-Bablok method-comparison regression between "
        "daily click and view counts — the non-parametric structural "
        "line (shifted median of pairwise slopes, K-offset for slopes "
        "below -1; intercept = median residual) that, unlike OLS, "
        "assumes NO error-free axis and resists outlier days: with "
        "CCC (agreement strength) and Bland-Altman (agreement band), "
        "this completes the method-comparison trio by giving the "
        "correction EQUATION. Slopes are exact-integer-ratio doubles "
        "over the calendar-bounded day-pair space (the Theil-Sen "
        "contract: pairs bound by calendar, never by volume); ranks "
        "run as the bucket-offset construction (bucket = "
        "floor(slope*8)), so a long horizon never single-partitions "
        "the pair table; the median selections and the even-n "
        "half-sum are shared IEEE expressions, tie-broken "
        "deterministically by (slope, da, db)."
    ),
    tags=("stats", "robust", "timeseries"),
)
def stats_passing_bablok_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_row_number

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("y"),
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    slopes = (
        a.crossJoin(b)
        .filter((F.col("db") > F.col("da")) & (F.col("xb") != F.col("xa")))
        .select(
            "da",
            "db",
            F.expr(
                "CAST(yb - ya AS DOUBLE) / CAST(nullif(xb - xa, 0) AS DOUBLE)"
            ).alias("slope"),
        )
        .filter(F.col("slope") != -1.0)
    )
    ranked = bucketed_row_number(
        slopes, F.floor(F.col("slope") * 8).cast("long"), ["slope", "da", "db"],
        out="rn",
    )
    tot = slopes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(SUM(CASE WHEN slope < -1.0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("k"),
    )
    best = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n_slopes"),
            F.max("k").alias("k_offset"),
            F.expr(
                "MAX(CASE WHEN rn = (n + 1) DIV 2 + k THEN slope END)"
            ).alias("s_odd"),
            F.expr("MAX(CASE WHEN rn = n DIV 2 + k THEN slope END)").alias("s_lo"),
            F.expr(
                "MAX(CASE WHEN rn = n DIV 2 + 1 + k THEN slope END)"
            ).alias("s_hi"),
        )
        .select(
            "n_slopes",
            "k_offset",
            F.expr(
                "CASE WHEN n_slopes % 2 = 1 THEN s_odd"
                " ELSE (s_lo + s_hi) / 2.0 END"
            ).alias("b_slope"),
        )
    )
    resid = daily.crossJoin(F.broadcast(best)).select(
        "d",
        F.expr("CAST(y AS DOUBLE) - b_slope * CAST(x AS DOUBLE)").alias("r"),
        "n_slopes",
        "k_offset",
        "b_slope",
    )
    rranked = bucketed_row_number(
        resid, F.floor(F.col("r") / 8).cast("long"), ["r", "d"], out="rr"
    )
    m = resid.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    return (
        rranked.crossJoin(F.broadcast(m))
        .agg(
            F.max("m").alias("n_days"),
            F.max("n_slopes").alias("n_slopes"),
            F.max("k_offset").alias("k_offset"),
            F.max("b_slope").alias("pb_slope"),
            F.expr("MAX(CASE WHEN rr = (m + 1) DIV 2 THEN r END)").alias("r_odd"),
            F.expr("MAX(CASE WHEN rr = m DIV 2 THEN r END)").alias("r_lo"),
            F.expr("MAX(CASE WHEN rr = m DIV 2 + 1 THEN r END)").alias("r_hi"),
        )
        .select(
            "n_days",
            "n_slopes",
            "k_offset",
            "pb_slope",
            F.expr(
                "CASE WHEN n_days % 2 = 1 THEN r_odd"
                " ELSE (r_lo + r_hi) / 2.0 END"
            ).alias("pb_intercept"),
        )
    )


def _hurst_branch_sql(m: int) -> str:
    """One rescaled-range block size over the shared hourly grid:
    (event_type, m, block, rs) with every term an exact integer until
    the one shared sqrt+division."""
    return f"""
            SELECT event_type, CAST({m} AS BIGINT) AS m, block,
                   CAST(MAX(d) - MIN(d) AS DOUBLE)
                     / sqrt(CAST(nullif({m} * MAX(syy) - MAX(sx) * MAX(sx), 0)
                            AS DOUBLE)) AS rs
            FROM (
                SELECT event_type, (rn - 1) // {m} AS block,
                       {m} * SUM(y) OVER (PARTITION BY event_type,
                                          (rn - 1) // {m}
                                          ORDER BY rn
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)
                         - ((rn - 1) % {m} + 1)
                           * SUM(y) OVER (PARTITION BY event_type,
                                          (rn - 1) // {m}) AS d,
                       SUM(y) OVER (PARTITION BY event_type,
                                    (rn - 1) // {m}) AS sx,
                       SUM(y * y) OVER (PARTITION BY event_type,
                                        (rn - 1) // {m}) AS syy
                FROM hours
            )
            GROUP BY event_type, block
    """


@register(
    "stats_hurst_rescaled_range",
    oracle=f"""
        WITH grid AS (
            SELECT t.event_type, d.day, h.hour
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(generate_series(DATE '2024-01-01',
                                DATE '2024-01-30', INTERVAL 1 DAY))::DATE
                            AS day) d
            CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS hour) h
        ),
        counts AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(hour(ts) AS BIGINT) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2, 3
        ),
        hours AS (
            SELECT g.event_type,
                   CAST(datediff('day', DATE '2024-01-01', g.day) * 24
                        + g.hour + 1 AS BIGINT) AS rn,
                   CAST(COALESCE(c.y, 0) AS BIGINT) AS y
            FROM grid g
            LEFT JOIN counts c ON c.event_type = g.event_type
                              AND c.day = g.day AND c.hour = g.hour
        ),
        rs AS (
            {_hurst_branch_sql(8)}
            UNION ALL
            {_hurst_branch_sql(16)}
        )
        SELECT event_type, m, block, rs FROM rs
        ORDER BY event_type, m, block
    """,
    doc=(
        "ST93: Hurst rescaled-range (R/S) table of the hourly arrival "
        "series per event type — per block of m in (8, 16) hours, "
        "R/S = (range of cumulative mean deviations) / (population "
        "sd): the long-memory diagnostic whose log-log slope is the "
        "Hurst exponent (0.5 = memoryless, > 0.5 = persistent/bursty "
        "— the traffic property that decides batch-size headroom). "
        "Everything is EXACT integers in the m-scaled basis: "
        "D_j = m*cumsum - j*S never leaves BIGINT, R = max(D)-min(D), "
        "and S folds into the shared denominator "
        "sqrt(m*Syy - S^2) — one sqrt + one division per block, NULL "
        "on constant blocks via nullif. The series sits on the "
        "explicit 720-slot hour grid (zeros included, as R/S "
        "requires); all windows partition by (type, block) — bounded, "
        "never fact-grain. The slope fit is left to the reader "
        "deliberately: ln is engine-divergent (the r5 ln-free "
        "contract), while the R/S table itself is hash-exact."
    ),
    tags=("stats", "timeseries"),
)
def stats_hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    grid = (
        t.events.select("event_type")
        .distinct()
        .crossJoin(
            t.events.sparkSession.range(1)
            .select(
                F.explode(
                    F.expr(
                        "sequence(DATE '2024-01-01', DATE '2024-01-30',"
                        " INTERVAL 1 DAY)"
                    )
                ).alias("day")
            )
            .crossJoin(
                t.events.sparkSession.range(1).select(
                    F.explode(F.expr("sequence(0, 23)")).alias("hour")
                )
            )
        )
    )
    counts = t.events.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    hours = grid.join(counts, ["event_type", "day", "hour"], "left").select(
        "event_type",
        F.expr(
            "CAST(datediff(day, DATE '2024-01-01') * 24 + hour + 1 AS BIGINT)"
        ).alias("rn"),
        F.expr("CAST(COALESCE(y, 0) AS BIGINT)").alias("y"),
    )

    def branch(m: int) -> DataFrame:
        from pyspark.sql import Window as W

        wp = W.partitionBy("event_type", F.expr(f"(rn - 1) DIV {m}"))
        wc = wp.orderBy("rn").rowsBetween(W.unboundedPreceding, W.currentRow)
        inner = hours.select(
            "event_type",
            F.expr(f"(rn - 1) DIV {m}").alias("block"),
            (
                m * F.sum("y").over(wc)
                - F.expr(f"(rn - 1) % {m} + 1") * F.sum("y").over(wp)
            ).alias("d"),
            F.sum("y").over(wp).alias("sx"),
            F.sum(F.col("y") * F.col("y")).over(wp).alias("syy"),
        )
        return inner.groupBy("event_type", "block").agg(
            F.lit(m).cast("bigint").alias("m"),
            F.expr(
                f"CAST(MAX(d) - MIN(d) AS DOUBLE)"
                f" / sqrt(CAST(nullif({m} * MAX(syy) - MAX(sx) * MAX(sx), 0)"
                f" AS DOUBLE))"
            ).alias("rs"),
        )

    return (
        branch(8)
        .unionByName(branch(16))
        .select("event_type", "m", "block", "rs")
        .orderBy("event_type", "m", "block")
    )


@register(
    "stats_sample_entropy_counts",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        seq AS (
            SELECT event_type, y,
                   row_number() OVER (PARTITION BY event_type ORDER BY d)
                       AS rn,
                   lead(y) OVER (PARTITION BY event_type ORDER BY d) AS y1,
                   lead(y, 2) OVER (PARTITION BY event_type ORDER BY d) AS y2
            FROM daily
        ),
        tol AS (
            SELECT event_type,
                   CAST(SUM(y) / (5 * COUNT(*)) AS BIGINT) AS r
            FROM seq GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type,
                   CASE WHEN greatest(abs(a.y - b.y), abs(a.y1 - b.y1)) <= t.r
                        THEN 1 ELSE 0 END AS m2,
                   CASE WHEN a.y2 IS NOT NULL AND b.y2 IS NOT NULL
                         AND greatest(abs(a.y - b.y), abs(a.y1 - b.y1),
                                      abs(a.y2 - b.y2)) <= t.r
                        THEN 1 ELSE 0 END AS m3
            FROM seq a
            JOIN seq b ON b.event_type = a.event_type AND b.rn > a.rn
                      AND a.y1 IS NOT NULL AND b.y1 IS NOT NULL
            JOIN tol t ON t.event_type = a.event_type
        )
        SELECT event_type,
               CAST(SUM(m2) AS BIGINT) AS n_template_matches_m2,
               CAST(SUM(m3) AS BIGINT) AS n_template_matches_m3,
               CAST(SUM(m3) AS DOUBLE) / CAST(nullif(SUM(m2), 0) AS DOUBLE)
                   AS conditional_match_ratio
        FROM pairs
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc=(
        "ST95: sample-entropy template counts of the daily arrival "
        "series per event type — A (length-3 template matches within "
        "Chebyshev tolerance r) over B (length-2 matches), the "
        "regularity statistic whose -ln is SampEn(2, r). The ratio "
        "A/B is emitted instead of its log (the r5 ln-free contract: "
        "ln is engine-divergent; the ratio carries identical "
        "information and is one shared division of exact integer "
        "counts). Tolerance r self-scales as the integer mean/5 of "
        "the series (exact BIGINT division), so the statistic is "
        "meaningful at every SF. Template pairs live on the "
        "calendar-bounded day-pair space (<= 435 pairs/month per "
        "type — the somers_d contract, a per-type equi-join), with "
        "lead() windows building the templates in one per-type pass."
    ),
    tags=("stats", "timeseries"),
)
def stats_sample_entropy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    wo = W.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type",
        "y",
        F.row_number().over(wo).alias("rn"),
        F.lead("y").over(wo).alias("y1"),
        F.lead("y", 2).over(wo).alias("y2"),
    )
    tol = seq.groupBy("event_type").agg(
        F.expr("CAST(SUM(y) DIV (5 * COUNT(*)) AS BIGINT)").alias("r")
    )
    a = seq.select(
        F.col("event_type").alias("et"),
        F.col("y").alias("ya"),
        F.col("y1").alias("ya1"),
        F.col("y2").alias("ya2"),
        F.col("rn").alias("ra"),
    )
    b = seq.select(
        F.col("event_type").alias("et"),
        F.col("y").alias("yb"),
        F.col("y1").alias("yb1"),
        F.col("y2").alias("yb2"),
        F.col("rn").alias("rb"),
    )
    pairs = (
        a.join(b, "et")
        .filter(
            (F.col("rb") > F.col("ra"))
            & F.col("ya1").isNotNull()
            & F.col("yb1").isNotNull()
        )
        .join(tol.withColumnRenamed("event_type", "et"), "et")
        .select(
            F.col("et").alias("event_type"),
            F.expr(
                "CASE WHEN greatest(abs(ya - yb), abs(ya1 - yb1)) <= r"
                " THEN 1 ELSE 0 END"
            ).alias("m2"),
            F.expr(
                "CASE WHEN ya2 IS NOT NULL AND yb2 IS NOT NULL"
                " AND greatest(abs(ya - yb), abs(ya1 - yb1), abs(ya2 - yb2)) <= r"
                " THEN 1 ELSE 0 END"
            ).alias("m3"),
        )
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.sum("m2").cast("bigint").alias("n_template_matches_m2"),
            F.sum("m3").cast("bigint").alias("n_template_matches_m3"),
            F.expr(
                "CAST(SUM(m3) AS DOUBLE) / CAST(nullif(SUM(m2), 0) AS DOUBLE)"
            ).alias("conditional_match_ratio"),
        )
        .orderBy("event_type")
    )


def _bd_tail() -> str:
    """Shared (verbatim on both engines) layered-CTE tail from the
    pivoted one-row strata to the Breslow-Day statistic: margins ->
    quadratic coefficients -> root selection -> tilded variance ->
    written-order component sum. Pure +,-,*,/,sqrt,CASE — dialect-free."""
    k = len(_MH_STRATA)
    pivot = ",\n               ".join(
        f"CAST(MAX(CASE WHEN o_orderpriority = '{s}' THEN {c} END) AS BIGINT)"
        f" AS {c}_{i}"
        for i, s in enumerate(_MH_STRATA)
        for c in _MH_COLS
    )
    m = ",\n               ".join(
        f"CAST(a_{i} + b_{i} AS DOUBLE) AS r1_{i},"
        f" CAST(c_{i} + d_{i} AS DOUBLE) AS r2_{i},"
        f" CAST(a_{i} + c_{i} AS DOUBLE) AS c1_{i}"
        for i in range(k)
    )
    q = ",\n               ".join(
        f"psi - 1.0 AS qa_{i},"
        f" -((r2_{i} - c1_{i}) + psi * (r1_{i} + c1_{i})) AS qb_{i},"
        f" psi * r1_{i} * c1_{i} AS qc_{i}"
        for i in range(k)
    )
    roots = ",\n               ".join(
        f"(-qb_{i} + sqrt(qb_{i} * qb_{i} - 4.0 * qa_{i} * qc_{i}))"
        f" / (2.0 * qa_{i}) AS x1_{i},"
        f" (-qb_{i} - sqrt(qb_{i} * qb_{i} - 4.0 * qa_{i} * qc_{i}))"
        f" / (2.0 * qa_{i}) AS x2_{i}"
        for i in range(k)
    )
    xe = ",\n               ".join(
        f"CASE WHEN abs(qa_{i}) < 1e-12 THEN -qc_{i} / qb_{i}"
        f" WHEN x1_{i} >= CASE WHEN c1_{i} - r2_{i} > 0.0"
        f" THEN c1_{i} - r2_{i} ELSE 0.0 END - 1e-9"
        f" AND x1_{i} <= CASE WHEN r1_{i} < c1_{i} THEN r1_{i}"
        f" ELSE c1_{i} END + 1e-9"
        f" THEN x1_{i} ELSE x2_{i} END AS xe_{i}"
        for i in range(k)
    )
    comp = ",\n               ".join(
        f"(CAST(a_{i} AS DOUBLE) - xe_{i}) * (CAST(a_{i} AS DOUBLE) - xe_{i})"
        f" * (1.0 / xe_{i} + 1.0 / (r1_{i} - xe_{i}) + 1.0 / (c1_{i} - xe_{i})"
        f" + 1.0 / (r2_{i} - c1_{i} + xe_{i})) AS comp_{i}"
        for i in range(k)
    )
    total = " + ".join(f"comp_{i}" for i in range(k))
    n_tot = " + ".join(f"n_{i}" for i in range(k))
    return f"""
        piv AS (SELECT {pivot} FROM {{src}}),
        withpsi AS (SELECT piv.*, {_mh_or_expr()} AS psi FROM piv),
        margins AS (SELECT withpsi.*, {m} FROM withpsi),
        quads AS (SELECT margins.*, {q} FROM margins),
        roots AS (SELECT quads.*, {roots} FROM quads),
        expected AS (SELECT roots.*, {xe} FROM roots),
        comps AS (SELECT expected.*, {comp} FROM expected)
        SELECT CAST({n_tot} AS BIGINT) AS n_total,
               CAST({k} AS BIGINT) AS k_strata,
               psi AS mh_odds_ratio,
               {total} AS bd_chi2,
               {total} <= 9.487729036781154 AS homogeneous_95
        FROM comps
    """


_BD_CELLS_SQL = """
            SELECT o_orderpriority,
                   CAST(SUM(CASE WHEN o_custkey % 2 = 0
                                  AND o_totalprice > 150000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN o_custkey % 2 = 0
                                  AND o_totalprice <= 150000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS b,
                   CAST(SUM(CASE WHEN o_custkey % 2 <> 0
                                  AND o_totalprice > 150000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c,
                   CAST(SUM(CASE WHEN o_custkey % 2 <> 0
                                  AND o_totalprice <= 150000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_orderpriority
"""


@register(
    "stats_breslow_day_homogeneity",
    oracle=f"""
        WITH cells AS ({_BD_CELLS_SQL}),
        {_bd_tail().format(src="cells")}
    """,
    doc=(
        "ST96: Breslow-Day homogeneity test over the same stratified "
        "2x2 family as the Mantel-Haenszel op — the check MH itself "
        "cannot make: a pooled odds ratio is only meaningful if the "
        "per-stratum ORs are HOMOGENEOUS; BD tests exactly that "
        "(expected a-cells under the common OR via the quadratic "
        "margin equation, X^2 = Sum (a - a_tilde)^2 / V_tilde vs "
        "chi2(k-1)). The whole computation after the one conditional "
        "fact aggregate is a SINGLE shared layered-CTE text evaluated "
        "verbatim by both engines: quadratic coefficients, a "
        "deterministic in-range root selection (both roots computed "
        "from one shared sqrt; linear fallback when psi ~ 1), the "
        "tilded harmonic variance, and a WRITTEN-order 5-term "
        "component sum (the Brown-Forsythe determinism trick) — no "
        "aggregation-order float hazard anywhere. The 95% verdict "
        "compares against the precomputed chi2(4) quantile literal "
        "(the power-analysis constant pattern)."
    ),
    tags=("stats", "ab"),
)
def stats_breslow_day_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    cells = t.orders.groupBy("o_orderpriority").agg(
        F.expr(
            "CAST(SUM(CASE WHEN o_custkey % 2 = 0 AND o_totalprice > 150000"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("a"),
        F.expr(
            "CAST(SUM(CASE WHEN o_custkey % 2 = 0 AND o_totalprice <= 150000"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("b"),
        F.expr(
            "CAST(SUM(CASE WHEN o_custkey % 2 <> 0 AND o_totalprice > 150000"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("c"),
        F.expr(
            "CAST(SUM(CASE WHEN o_custkey % 2 <> 0 AND o_totalprice <= 150000"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return spark.sql("WITH " + _bd_tail(), src=cells)


@register(
    "stats_cvm_one_sample_uniform",
    oracle="""
        WITH pts AS (
            SELECT event_type, event_id,
                   CAST(round(value * 10000) AS BIGINT) AS xf
            FROM events WHERE value IS NOT NULL
        ),
        ranked AS (
            SELECT event_type, xf,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY xf, event_id) AS i,
                   CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n
            FROM pts
        ),
        terms AS (
            SELECT event_type, n,
                   CAST(1000000 * (2 * CAST(i AS BIGINT) - 1) - 2 * n * xf
                        AS DECIMAL(38,0)) AS t
            FROM ranked
        ),
        s AS (
            SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                   CAST(SUM(t * t) AS DECIMAL(38,0)) AS st2
            FROM terms GROUP BY event_type
        )
        SELECT event_type, n,
               1.0 / (12.0 * CAST(n AS DOUBLE))
                 + CAST(CAST(st2 AS VARCHAR) AS DOUBLE)
                   / ((2.0 * CAST(n AS DOUBLE) * 1000000.0)
                      * (2.0 * CAST(n AS DOUBLE) * 1000000.0)) AS w2_stat,
               (1.0 / (12.0 * CAST(n AS DOUBLE))
                 + CAST(CAST(st2 AS VARCHAR) AS DOUBLE)
                   / ((2.0 * CAST(n AS DOUBLE) * 1000000.0)
                      * (2.0 * CAST(n AS DOUBLE) * 1000000.0)))
                 / (1.0 + 0.5 / CAST(n AS DOUBLE)) <= 0.461
                 AS uniform_ok_95
        FROM s
        ORDER BY event_type
    """,
    doc=(
        "ST97: one-sample Cramér-von Mises goodness-of-fit of each "
        "event type's value field against H0: Uniform(0, 100) — "
        "W^2 = 1/(12n) + Sum((2i-1)/(2n) - F(x_i))^2 with F(x) = "
        "x/100: the distribution-level shape audit (the invariants "
        "audit checks ranges and rates; this checks the SHAPE). On "
        "this corpus the verdict correctly REJECTS for every type "
        "(W^2 ~ 150 >> 0.461: the values follow the sensor-walk "
        "model, not uniform) — a decisively non-vacuous outcome the "
        "hash pins; a pipeline whose values silently became uniform "
        "noise (a classic dead-sensor failure) would flip it. The summand clears to the exact integer "
        "10^6*(2i-1) - 2n*xf over the common denominator 2n*10^6 "
        "(1e-4 fixed-point values), so the entire sum is one "
        "DECIMAL(38,0) fold with NO float accumulation — W^2 emerges "
        "from one VARCHAR-hopped division plus the closed 1/(12n) "
        "term, and the 95% verdict applies the standard small-sample "
        "correction against the asymptotic 0.461 critical value as a "
        "shared expression. Ranks use the trimmed-mean per-type "
        "pattern (deterministic (xf, event_id) order). DECIMAL "
        "ceiling: the fold holds to n ~ 5e6 per type at 1e-4 "
        "fixed-point; beyond that, drop to 1e-3 scaling (documented, "
        "the KS/CvM two-sample precedent)."
    ),
    tags=("stats", "dq"),
)
def stats_cvm_one_sample_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    pts = t.events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("xf"),
    )
    ranked = pts.select(
        "event_type",
        "xf",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("xf", "event_id"))
        .alias("i"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .cast("bigint")
        .alias("n"),
    )
    terms = ranked.select(
        "event_type",
        "n",
        F.expr(
            "CAST(1000000 * (2 * CAST(i AS BIGINT) - 1) - 2 * n * xf"
            " AS DECIMAL(38,0))"
        ).alias("t"),
    )
    s = terms.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.expr("CAST(SUM(t * t) AS DECIMAL(38,0))").alias("st2"),
    )
    w2 = (
        "1.0 / (12.0 * CAST(n AS DOUBLE))"
        " + CAST(st2 AS DOUBLE)"
        " / ((2.0 * CAST(n AS DOUBLE) * 1000000.0)"
        " * (2.0 * CAST(n AS DOUBLE) * 1000000.0))"
    )
    return s.select(
        "event_type",
        "n",
        F.expr(w2).alias("w2_stat"),
        F.expr(
            f"({w2}) / (1.0 + 0.5 / CAST(n AS DOUBLE)) <= 0.461"
        ).alias("uniform_ok_95"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Round-9 additions (SURVEY §2.19): four more exact-integer classical
# tests — Jonckheere-Terpstra ordered-alternative trend, Bartels' rank
# von Neumann randomness ratio, the Cox-Stuart sign trend test, and the
# turning-points randomness test. All at calendar-bounded day grain
# (the Kruskal/Friedman/Page contract: day tables are metadata at any
# SF), all integer sums until one pinned final expression.
# ---------------------------------------------------------------------------


@register(
    "stats_jonckheere_terpstra_trend",
    oracle="""
        WITH obs AS (
            SELECT event_type,
                   CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
                        AS BIGINT) AS cond,
                   CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events
            GROUP BY 1, 2, 3
        ),
        jt AS (
            SELECT CAST(SUM(CASE WHEN a.y < b.y THEN 2
                                 WHEN a.y = b.y THEN 1 ELSE 0 END)
                        AS BIGINT) AS jt2
            FROM obs a JOIN obs b ON a.cond < b.cond
        ),
        sizes AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n,
                   CAST(SUM(ng * ng) AS BIGINT) AS sn2,
                   CAST(SUM(ng * ng * (2 * ng + 3)) AS BIGINT) AS sn23
            FROM (SELECT cond, CAST(COUNT(*) AS BIGINT) AS ng
                  FROM obs GROUP BY cond)
        )
        SELECT s.n AS n_obs,
               j.jt2 AS jt_x2,
               s.n * s.n - s.sn2 AS e_jt_x4,
               s.n * s.n * (2 * s.n + 3) - s.sn23 AS var_jt_x72,
               (CAST(j.jt2 AS DOUBLE) / 2.0
                - CAST(s.n * s.n - s.sn2 AS DOUBLE) / 4.0)
               / sqrt(CAST(s.n * s.n * (2 * s.n + 3) - s.sn23 AS DOUBLE)
                      / 72.0) AS z_jt
        FROM jt j CROSS JOIN sizes s
    """,
    doc=(
        "ST98: Jonckheere-Terpstra test for ordered alternatives — the "
        "trend-aware upgrade of Kruskal-Wallis: do daily activity "
        "counts shift upward across ORDERED conditions (epoch-weekday "
        "0..6, the Page's-L ordering convention)? JT = sum over "
        "condition pairs a<b of Mann-Whitney exceedances; emitted as "
        "the integer jt_x2 = 2*#(x_a<x_b) + #(ties), with the exact "
        "null moments as integers too (e_jt_x4, var_jt_x72) and one "
        "pinned z expression over them. CAVEAT (r9 advice): "
        "var_jt_x72 is the NO-TIES null variance — day-grain count "
        "data is tie-rich (ties ARE half-credited in jt_x2 via the "
        "doubling trick), so z_jt systematically overstates "
        "significance; read it as a no-ties upper-bound screen, the "
        "same stated approximation as stats_ansari_bradley's z. The "
        "pair join runs at the (type, day) COUNT grain — a "
        "calendar-bounded metadata table at any SF — never at fact "
        "grain. No floats anywhere until z."
    ),
    tags=("stats",),
)
def stats_jonckheere_terpstra_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    obs = (
        t.events.groupBy(
            "event_type",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') % 7 AS BIGINT)"
            ).alias("cond"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    a = obs.select(F.col("cond").alias("ca"), F.col("y").alias("ya"))
    b = obs.select(F.col("cond").alias("cb"), F.col("y").alias("yb"))
    jt = a.join(b, F.col("ca") < F.col("cb")).agg(
        F.sum(
            F.when(F.col("ya") < F.col("yb"), 2)
            .when(F.col("ya") == F.col("yb"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("jt2")
    )
    sizes = (
        obs.groupBy("cond")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ng"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.expr("ng")).cast("bigint").alias("n"),
            F.sum(F.expr("ng * ng")).cast("bigint").alias("sn2"),
            F.sum(F.expr("ng * ng * (2 * ng + 3)")).cast("bigint").alias("sn23"),
        )
    )
    return jt.crossJoin(sizes).select(
        F.col("n").alias("n_obs"),
        F.col("jt2").alias("jt_x2"),
        F.expr("n * n - sn2").alias("e_jt_x4"),
        F.expr("n * n * (2 * n + 3) - sn23").alias("var_jt_x72"),
        F.expr(
            "(CAST(jt2 AS DOUBLE) / 2.0 - CAST(n * n - sn2 AS DOUBLE) / 4.0)"
            " / sqrt(CAST(n * n * (2 * n + 3) - sn23 AS DOUBLE) / 72.0)"
        ).alias("z_jt"),
    )


@register(
    "stats_bartels_rank_von_neumann",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        ranked AS (
            SELECT event_type, day, y,
                   CAST(2 * (SELECT COUNT(*) FROM daily d2
                             WHERE d2.event_type = d.event_type AND d2.y < d.y)
                        + (SELECT COUNT(*) FROM daily d2
                           WHERE d2.event_type = d.event_type AND d2.y = d.y)
                        + 1 AS BIGINT) AS r2
            FROM daily d
        ),
        seq AS (
            SELECT event_type, day, r2,
                   lead(r2) OVER (PARTITION BY event_type ORDER BY day) AS r2n
            FROM ranked
        ),
        agg AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN r2n IS NOT NULL
                                 THEN (r2 - r2n) * (r2 - r2n) ELSE 0 END)
                        AS BIGINT) AS nd,
                   CAST(SUM(r2 * r2) AS BIGINT) AS sr2
            FROM seq GROUP BY event_type
        )
        SELECT event_type, n AS n_days, nd AS num_x4,
               sr2 - n * (n + 1) * (n + 1) AS den_x4,
               CAST(nd AS DOUBLE)
                   / CAST(sr2 - n * (n + 1) * (n + 1) AS DOUBLE) AS rvn,
               CAST(nd AS DOUBLE)
                   / CAST(sr2 - n * (n + 1) * (n + 1) AS DOUBLE) < 2.0
                   AS positive_autocorr
        FROM agg
        ORDER BY event_type
    """,
    doc=(
        "ST99: Bartels' rank von Neumann ratio — the rank-based "
        "randomness test against serial correlation in each type's "
        "daily series: RVN = sum of squared successive rank "
        "differences over the centered rank sum of squares (null mean "
        "2; < 2 means positive autocorrelation). Ranks are DOUBLED "
        "midranks (the Spearman trick), which scales numerator and "
        "denominator by the same 4, so both are exact integers — the "
        "centered denominator collapses to sum(R^2) - n(n+1)^2 "
        "because doubled midranks always sum to n(n+1) even under "
        "ties. One shared division; the verdict compares the same "
        "double. Day-grain midranks via the correlated-count subquery "
        "(the Page's-L pattern) — metadata-scale at any SF."
    ),
    tags=("stats", "timeseries"),
)
def stats_bartels_rank_von_neumann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    # doubled midrank = 2*(#less) + (#equal) + 1, with #less = RANK - 1
    # — both windows partition by event_type (5 partitions at day grain)
    ranked = daily.select(
        "event_type",
        "day",
        "y",
        F.expr(
            "CAST(2 * (RANK() OVER (PARTITION BY event_type ORDER BY y) - 1)"
            " + COUNT(*) OVER (PARTITION BY event_type, y) + 1 AS BIGINT)"
        ).alias("r2"),
    )
    seq = ranked.select(
        "event_type",
        "r2",
        F.lead("r2").over(W.partitionBy("event_type").orderBy("day")).alias("r2n"),
        "day",
    )
    agg = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("r2n").isNotNull(),
                (F.col("r2") - F.col("r2n")) * (F.col("r2") - F.col("r2n")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("nd"),
        F.sum(F.expr("r2 * r2")).cast("bigint").alias("sr2"),
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("nd").alias("num_x4"),
        F.expr("sr2 - n * (n + 1) * (n + 1)").alias("den_x4"),
        F.expr(
            "CAST(nd AS DOUBLE) / CAST(sr2 - n * (n + 1) * (n + 1) AS DOUBLE)"
        ).alias("rvn"),
        F.expr(
            "CAST(nd AS DOUBLE) / CAST(sr2 - n * (n + 1) * (n + 1) AS DOUBLE)"
            " < 2.0"
        ).alias("positive_autocorr"),
    ).orderBy("event_type")


@register(
    "stats_cox_stuart_trend",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY CAST(ts AS DATE)) AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        paired AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS BIGINT)
                       AS s_plus,
                   CAST(SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS BIGINT)
                       AS s_minus
            FROM daily a
            JOIN daily b ON b.event_type = a.event_type
                        AND b.i = a.i + (a.n + 1) // 2
            WHERE a.i <= a.n // 2
            GROUP BY a.event_type
        )
        SELECT event_type, s_plus, s_minus, s_plus + s_minus AS m_untied,
               CASE WHEN s_plus > s_minus THEN 'increasing'
                    WHEN s_plus < s_minus THEN 'decreasing'
                    ELSE 'none' END AS trend
        FROM paired
        ORDER BY event_type
    """,
    doc=(
        "ST100: Cox-Stuart sign trend test — pair day i (i <= n DIV 2) "
        "with day i + ceil(n/2) and count sign(second - first): the "
        "distribution-free trend detector that needs NO ranks and no "
        "variance estimate (under no trend, S+ ~ Binomial(m, 1/2)). "
        "The textbook pairing: offset ceil(n/2), so for odd n the "
        "middle day is skipped entirely and every day is used at most "
        "once (r9 advice fix — the floor-offset variant reused the "
        "median day and never paired the last one). Emitted values "
        "are pure integer counts plus the categorical verdict; ties "
        "drop per the classical treatment. The pairing is a self-equi-join on "
        "the day index at calendar-bounded day grain. Complements "
        "Mann-Kendall (which weighs ALL pairs) with the half-offset "
        "pairing that is immune to seasonal midpoints."
    ),
    tags=("stats", "timeseries"),
)
def stats_cox_stuart_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    wd = W.partitionBy("event_type").orderBy("day")
    daily = (
        t.events.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .select(
            "event_type",
            "y",
            F.row_number().over(wd).alias("i"),
            F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
        )
    )
    a = daily.select(
        F.col("event_type"), F.col("y").alias("ya"), "i", "n"
    ).filter(F.col("i") <= F.expr("n DIV 2"))
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("y").alias("yb"),
        F.col("i").alias("ib"),
    )
    paired = a.join(
        b,
        (F.col("event_type") == F.col("et_b"))
        & (F.col("ib") == F.col("i") + F.expr("(n + 1) DIV 2")),
    ).groupBy("event_type").agg(
        F.sum(F.when(F.col("yb") > F.col("ya"), 1).otherwise(0))
        .cast("bigint")
        .alias("s_plus"),
        F.sum(F.when(F.col("yb") < F.col("ya"), 1).otherwise(0))
        .cast("bigint")
        .alias("s_minus"),
    )
    return paired.select(
        "event_type",
        "s_plus",
        "s_minus",
        (F.col("s_plus") + F.col("s_minus")).alias("m_untied"),
        F.when(F.col("s_plus") > F.col("s_minus"), "increasing")
        .when(F.col("s_plus") < F.col("s_minus"), "decreasing")
        .otherwise("none")
        .alias("trend"),
    ).orderBy("event_type")


@register(
    "stats_turning_points_test",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        seq AS (
            SELECT event_type, day, y,
                   lag(y) OVER (PARTITION BY event_type ORDER BY day) AS yp,
                   lead(y) OVER (PARTITION BY event_type ORDER BY day) AS yn
            FROM daily
        ),
        agg AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN yp IS NOT NULL AND yn IS NOT NULL
                                  AND ((y > yp AND y > yn)
                                       OR (y < yp AND y < yn))
                                 THEN 1 ELSE 0 END) AS BIGINT) AS t_pts
            FROM seq GROUP BY event_type
        )
        SELECT event_type, n AS n_days, t_pts AS turning_points,
               2 * (n - 2) AS e_t_x3,
               16 * n - 29 AS var_t_x90,
               (CAST(t_pts AS DOUBLE) - CAST(2 * (n - 2) AS DOUBLE) / 3.0)
                   / sqrt(CAST(16 * n - 29 AS DOUBLE) / 90.0) AS z_t
        FROM agg
        ORDER BY event_type
    """,
    doc=(
        "ST101: turning-points randomness test — count interior days "
        "that are strict local maxima or minima of the type's daily "
        "series; under i.i.d. exchangeability E[T] = 2(n-2)/3 and "
        "Var[T] = (16n-29)/90, both emitted as EXACT integers "
        "(e_t_x3, var_t_x90) beside the count, with one pinned z "
        "expression. Too few turning points means trend/persistence, "
        "too many means alternation — the eyeball 'does this series "
        "wiggle like noise' check as a statistic. Ties break "
        "turning-point status (strict inequalities), matching the "
        "classical treatment. Two lag/lead windows per type at "
        "calendar-bounded day grain."
    ),
    tags=("stats", "timeseries"),
)
def stats_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    wd = W.partitionBy("event_type").orderBy("day")
    daily = t.events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    seq = daily.select(
        "event_type",
        "y",
        F.lag("y").over(wd).alias("yp"),
        F.lead("y").over(wd).alias("yn"),
    )
    agg = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("yp").isNotNull()
                & F.col("yn").isNotNull()
                & (
                    ((F.col("y") > F.col("yp")) & (F.col("y") > F.col("yn")))
                    | ((F.col("y") < F.col("yp")) & (F.col("y") < F.col("yn")))
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("t_pts"),
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("t_pts").alias("turning_points"),
        F.expr("2 * (n - 2)").alias("e_t_x3"),
        F.expr("16 * n - 29").alias("var_t_x90"),
        F.expr(
            "(CAST(t_pts AS DOUBLE) - CAST(2 * (n - 2) AS DOUBLE) / 3.0)"
            " / sqrt(CAST(16 * n - 29 AS DOUBLE) / 90.0)"
        ).alias("z_t"),
    ).orderBy("event_type")


#: Siegel-Tukey z: the ST ranks are a permutation of 1..N', so the
#: Wilcoxon rank-sum moments apply verbatim (no-ties form — ties are
#: resolved by the documented deterministic total order below).
_ST_Z = (
    "(wd - n1d * (nd + 1.0) / 2.0)"
    " / sqrt(n1d * n2d * (nd + 1.0) / 12.0)"
)


@register(
    "stats_siegel_tukey_dispersion",
    oracle=f"""
        WITH pooled AS (
            SELECT event_id,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
                   value
            FROM events
            WHERE event_type IN ('click', 'error') AND value IS NOT NULL
        ),
        ranked AS (
            SELECT grp,
                   row_number() OVER (ORDER BY value, grp, event_id) AS i,
                   COUNT(*) OVER () AS n
            FROM pooled
        ),
        scored AS (
            SELECT grp, n,
                   CASE WHEN 2 * i <= n THEN 2 * i - (i % 2)
                        ELSE 2 * (n + 1 - i) - (1 - (n + 1 - i) % 2)
                   END AS st
            FROM ranked WHERE NOT (n % 2 = 1 AND 2 * i = n + 1)
        ),
        s AS (
            SELECT CAST(MAX(n) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_eff,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n1_eff,
                   CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                       AS n1d,
                   CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS DOUBLE)
                       AS n2d,
                   CAST(SUM(CASE WHEN grp = 1 THEN st ELSE 0 END) AS BIGINT)
                       AS w_st,
                   CAST(SUM(CASE WHEN grp = 1 THEN st ELSE 0 END) AS DOUBLE)
                       AS wd
            FROM scored
        )
        SELECT n, n_eff, n1_eff, w_st, {_ST_Z} AS z_score FROM s
    """,
    doc=(
        "ST102: Siegel-Tukey dispersion test (click vs error values) — "
        "Ansari-Bradley's historical sibling with the OTHER rank "
        "scheme: instead of folding ranks inward, ranks alternate from "
        "the extremes (1 to the smallest; 2, 3 to the two largest; "
        "4, 5 to the next two smallest; ...), which makes the sum of "
        "group-1 ranks an ordinary Wilcoxon rank-sum statistic — small "
        "W means group 1 holds the extremes, i.e. higher dispersion. "
        "Position-to-rank is closed-form from the global sort position "
        "(bottom j: 2j - (j odd); top k: 2k - (k even)); for odd N the "
        "median observation is DROPPED per the classical procedure "
        "(the r9-advice Cox-Stuart convention). Ties carry no natural "
        "order, so the sort key is the documented deterministic total "
        "order (value, grp, event_id) — engine-consistent, stated as "
        "the no-ties approximation it is (the ansari_bradley "
        "contract). The global position runs on the bucket-offset "
        "machinery (bucket = floor(value)) — never a fact-grain "
        "single-partition sort; W and all counts are exact integers; "
        "z is one shared rational-arithmetic expression + IEEE sqrt."
    ),
    tags=("stats", "ab", "window"),
)
def stats_siegel_tukey_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_row_number

    t = Tables(spark, sf_dir)
    pooled = t.events.filter(
        F.col("event_type").isin("click", "error") & F.col("value").isNotNull()
    ).select(
        "event_id",
        F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 2 END").alias("grp"),
        "value",
    )
    n = pooled.count()  # one metadata-scale scalar (the ansari contract)
    ranked = bucketed_row_number(
        pooled, F.floor(F.col("value")).cast("long"), ["value", "grp", "event_id"], out="i"
    )
    scored = ranked.filter(
        ~((F.lit(n % 2 == 1)) & (2 * F.col("i") == F.lit(n + 1)))
    ).selectExpr(
        "grp",
        f"CASE WHEN 2 * i <= {n} THEN 2 * i - (i % 2)"
        f" ELSE 2 * ({n} + 1 - i) - (1 - ({n} + 1 - i) % 2) END AS st",
    )
    s = scored.agg(
        F.lit(n).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_eff"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr("CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("n1_eff"),
        F.expr("CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS DOUBLE)").alias("n1d"),
        F.expr("CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS DOUBLE)").alias("n2d"),
        F.expr("CAST(SUM(CASE WHEN grp = 1 THEN st ELSE 0 END) AS BIGINT)").alias("w_st"),
        F.expr("CAST(SUM(CASE WHEN grp = 1 THEN st ELSE 0 END) AS DOUBLE)").alias("wd"),
    )
    return s.select("n", "n_eff", "n1_eff", "w_st", F.expr(_ST_Z).alias("z_score"))


#: the five treatments (pins k = 5 so (k+1) is a literal)
_QUADE_TYPES = ("click", "error", "purchase", "signup", "view")
_QUADE_K = len(_QUADE_TYPES)


@register(
    "stats_quade_weighted_blocks",
    oracle=f"""
        WITH piv AS (
            SELECT CAST(ts AS DATE) AS day,
                   {", ".join(
                       f"CAST(SUM(CASE WHEN event_type = '{ty}' THEN 1 ELSE 0 END) AS BIGINT) AS c_{ty}"
                       for ty in _QUADE_TYPES)}
            FROM events WHERE event_type IN {_QUADE_TYPES!r}
            GROUP BY 1
        ),
        weighted AS (
            SELECT *,
                   greatest({", ".join(f"c_{ty}" for ty in _QUADE_TYPES)})
                   - least({", ".join(f"c_{ty}" for ty in _QUADE_TYPES)}) AS rng
            FROM piv
        ),
        q AS (
            SELECT *,
                   2 * rank() OVER (ORDER BY rng)
                     + COUNT(*) OVER (PARTITION BY rng) - 1 AS q2
            FROM weighted
        ),
        cells AS (
            SELECT day, q2,
                   unnest({list(_QUADE_TYPES)!r}) AS event_type,
                   unnest([{", ".join(f"c_{ty}" for ty in _QUADE_TYPES)}]) AS cnt
            FROM q
        ),
        r AS (
            SELECT day, event_type, q2,
                   2 * rank() OVER (PARTITION BY day ORDER BY cnt)
                     + COUNT(*) OVER (PARTITION BY day, cnt) - 1 AS r2
            FROM cells
        ),
        bytreat AS (
            SELECT event_type,
                   COUNT(*) AS n_days,
                   SUM(q2 * (r2 - {_QUADE_K + 1})) AS s4,
                   SUM(q2 * (r2 - {_QUADE_K + 1})
                       * q2 * (r2 - {_QUADE_K + 1})) AS ssq
            FROM r GROUP BY 1
        )
        SELECT CAST(MAX(n_days) AS BIGINT) AS b_blocks,
               CAST({_QUADE_K} AS BIGINT) AS k_treatments,
               CAST(SUM(ssq) AS BIGINT) AS a16,
               CAST(SUM(s4 * s4) AS BIGINT) AS b16b,
               CAST((MAX(n_days) - 1) * SUM(s4 * s4) AS DOUBLE)
                   / CAST(MAX(n_days) * SUM(ssq) - SUM(s4 * s4) AS DOUBLE)
                   AS f_quade
        FROM bytreat
    """,
    doc=(
        "ST103: Quade test — the weighted Friedman: blocks (days) with "
        "larger within-block RANGE get larger weights, so treatments "
        "that separate most where separation is most visible dominate "
        "the statistic (the k-sample paired test of choice when block "
        "scales differ, k = 5 event types x b calendar days). Exact "
        "integer core by double-doubling: within-block doubled "
        "midranks r2 = 2r, block-weight doubled midranks q2 = 2Q, so "
        "s4 = q2*(r2-(k+1)) = 4*Q*(r - (k+1)/2) = 4*S_ij exactly; A = "
        "sum S^2 and B = (1/b) sum_j S_j^2 carry as the integers a16 = "
        "16A and b16b = 16bB, and F = (b-1)B/(A-B) = (b-1)*b16b / "
        "(b*a16 - b16b) is ONE double division of exact integers. The "
        "dense (day x treatment) grid comes from five conditional "
        "counts + unnest/stack — no cross join, no BNLJ; the only "
        "single-partition window is the day-grain block-weight rank "
        "(calendar-bounded metadata at any SF, the pettitt contract)."
    ),
    tags=("stats", "ab", "window"),
)
def stats_quade_weighted_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    k = _QUADE_K
    piv = (
        t.events.filter(F.col("event_type").isin(*_QUADE_TYPES))
        .groupBy(F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(
            *[
                F.expr(
                    f"CAST(SUM(CASE WHEN event_type = '{ty}' THEN 1 ELSE 0 END) AS BIGINT)"
                ).alias(f"c_{ty}")
                for ty in _QUADE_TYPES
            ]
        )
    )
    cols = ", ".join(f"c_{ty}" for ty in _QUADE_TYPES)
    weighted = piv.selectExpr("*", f"greatest({cols}) - least({cols}) AS rng")
    q = weighted.selectExpr(
        "*",
        "2 * rank() OVER (ORDER BY rng)"
        " + COUNT(*) OVER (PARTITION BY rng) - 1 AS q2",
    )
    stack_args = ", ".join(f"'{ty}', c_{ty}" for ty in _QUADE_TYPES)
    cells = q.selectExpr(
        "day", "q2", f"stack({k}, {stack_args}) AS (event_type, cnt)"
    )
    r = cells.selectExpr(
        "day",
        "event_type",
        "q2",
        "2 * rank() OVER (PARTITION BY day ORDER BY cnt)"
        " + COUNT(*) OVER (PARTITION BY day, cnt) - 1 AS r2",
    )
    bytreat = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr(f"SUM(q2 * (r2 - {k + 1}))").alias("s4"),
        F.expr(
            f"SUM(q2 * (r2 - {k + 1}) * q2 * (r2 - {k + 1}))"
        ).alias("ssq"),
    )
    return bytreat.agg(
        F.expr("CAST(MAX(n_days) AS BIGINT)").alias("b_blocks"),
        F.lit(k).cast("bigint").alias("k_treatments"),
        F.expr("CAST(SUM(ssq) AS BIGINT)").alias("a16"),
        F.expr("CAST(SUM(s4 * s4) AS BIGINT)").alias("b16b"),
        F.expr(
            "CAST((MAX(n_days) - 1) * SUM(s4 * s4) AS DOUBLE)"
            " / CAST(MAX(n_days) * SUM(ssq) - SUM(s4 * s4) AS DOUBLE)"
        ).alias("f_quade"),
    )


#: Fligner-Policello z over the six exact aggregates (each engine
#: produces the *d doubles by correctly-rounded casts; this expression
#: text is then shared verbatim): placements kept DOUBLED for integer
#: tie handling (midplacement x2), hence the /2 and /4 scalings.
_FP_Z = (
    "((sp2d - sq2d) / 2.0e0)"
    " / (2.0e0 * sqrt("
    "   (sp2sqd / 4.0e0 - (sp2d / 2.0e0) * (sp2d / 2.0e0) / md)"
    " + (sq2sqd / 4.0e0 - (sq2d / 2.0e0) * (sq2d / 2.0e0) / nd)"
    " + (sp2d / (2.0e0 * md)) * (sq2d / (2.0e0 * nd))))"
)


#: shared placement-aggregate CTE prefix (Fligner-Policello and
#: Brunner-Munzel are two closed forms over the SAME six exact
#: placement aggregates)
_PLACEMENT_CTES = """
        pooled AS (
            SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
                   CAST(round(value * 10000) AS BIGINT) AS x
            FROM events
            WHERE event_type IN ('click', 'error') AND value IS NOT NULL
        ),
        vg AS (
            SELECT x,
                   CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
                   CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2
            FROM pooled GROUP BY x
        ),
        cum AS (
            SELECT k1, k2,
                   SUM(k1) OVER (ORDER BY x) AS c1,
                   SUM(k2) OVER (ORDER BY x) AS c2
            FROM vg
        ),
        pl AS (
            SELECT k1, k2,
                   2 * (c2 - k2) + k2 AS p2,
                   2 * (c1 - k1) + k1 AS q2
            FROM cum
        ),
        s AS (
            SELECT CAST(SUM(k1) AS BIGINT) AS m,
                   CAST(SUM(k2) AS BIGINT) AS n,
                   CAST(SUM(k1) AS DOUBLE) AS md,
                   CAST(SUM(k2) AS DOUBLE) AS nd,
                   CAST(SUM(k1 * p2) AS BIGINT) AS sp2,
                   CAST(SUM(k2 * q2) AS BIGINT) AS sq2,
                   CAST(SUM(k1 * p2) AS DOUBLE) AS sp2d,
                   CAST(SUM(k2 * q2) AS DOUBLE) AS sq2d,
                   CAST(CAST(SUM(CAST(k1 * p2 AS HUGEINT) * p2) AS VARCHAR)
                        AS DOUBLE) AS sp2sqd,
                   CAST(CAST(SUM(CAST(k2 * q2 AS HUGEINT) * q2) AS VARCHAR)
                        AS DOUBLE) AS sq2sqd
            FROM pl
        )"""


def _placement_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six exact placement aggregates (click vs error) both robust
    rank tests consume: m, n, doubled placement sums and squared sums
    per group (integer; squared sums DECIMAL-exact), plus their
    correctly-rounded double twins."""
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    pts = t.events.filter(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "error")
    ).select(
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("x"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("i1"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("i2"),
    )
    vg = pts.groupBy("x").agg(
        F.sum("i1").cast("bigint").alias("k1"),
        F.sum("i2").cast("bigint").alias("k2"),
    )
    # bucket-offset inclusive prefix sums at distinct-value grain (the
    # exact-KS machinery; the only single-partition window is the
    # metadata-scale bucket-offsets pass)
    b = vg.withColumn("__bkt", F.expr("x DIV 65536"))
    bt = b.groupBy("__bkt").agg(F.sum("k1").alias("b1"), F.sum("k2").alias("b2"))
    wo = W.partitionBy().orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = bt.select(
        "__bkt",
        F.coalesce(F.sum("b1").over(wo), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("b2").over(wo), F.lit(0)).alias("o2"),
    )
    wl = W.partitionBy("__bkt").orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    pl = (
        b.join(F.broadcast(offs), "__bkt")
        .select(
            "k1",
            "k2",
            (F.col("o1") + F.sum("k1").over(wl)).cast("bigint").alias("c1"),
            (F.col("o2") + F.sum("k2").over(wl)).cast("bigint").alias("c2"),
        )
        .selectExpr(
            "k1",
            "k2",
            "2 * (c2 - k2) + k2 AS p2",
            "2 * (c1 - k1) + k1 AS q2",
        )
    )
    s = pl.agg(
        F.expr("CAST(SUM(k1) AS BIGINT)").alias("m"),
        F.expr("CAST(SUM(k2) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(k1) AS DOUBLE)").alias("md"),
        F.expr("CAST(SUM(k2) AS DOUBLE)").alias("nd"),
        F.expr("CAST(SUM(k1 * p2) AS BIGINT)").alias("sp2"),
        F.expr("CAST(SUM(k2 * q2) AS BIGINT)").alias("sq2"),
        F.expr("CAST(SUM(k1 * p2) AS DOUBLE)").alias("sp2d"),
        F.expr("CAST(SUM(k2 * q2) AS DOUBLE)").alias("sq2d"),
        F.expr(
            "CAST(SUM(CAST(k1 * p2 AS DECIMAL(19,0)) * CAST(p2 AS DECIMAL(19,0)))"
            " AS DOUBLE)"
        ).alias("sp2sqd"),
        F.expr(
            "CAST(SUM(CAST(k2 * q2 AS DECIMAL(19,0)) * CAST(q2 AS DECIMAL(19,0)))"
            " AS DOUBLE)"
        ).alias("sq2sqd"),
    )
    return s


@register(
    "stats_fligner_policello",
    oracle=f"""
        WITH {_PLACEMENT_CTES}
        SELECT m, n, sp2 AS sum_placements_x2_a, sq2 AS sum_placements_x2_b,
               {_FP_Z} AS z_fp
        FROM s
    """,
    doc=(
        "ST104: Fligner-Policello robust rank-order test (click vs "
        "error values) — the nonparametric Behrens-Fisher answer: "
        "unlike Mann-Whitney it does NOT assume equal shapes/"
        "variances, because the variance is estimated from the "
        "PLACEMENTS themselves (P_i = #{Y below X_i}, Q_j = #{X "
        "below Y_j}). Ties take half-credit via doubled "
        "midplacements (2*cnt_less_other + cnt_eq_other — integer, "
        "the Jonckheere-Terpstra convention), on the shared "
        "round(value*10000) integer grid both engines quantize "
        "identically. Placements reduce at DISTINCT-VALUE grain from "
        "the same bucket-offset ECDF prefix pass the exact-KS test "
        "uses (never a row-grain global window); the squared-"
        "placement sums accumulate in DECIMAL/HUGEINT (overflow-safe "
        "past 2^63 at 100 TB scale) and every aggregate is exact "
        "until the ONE shared z expression."
    ),
    tags=("stats", "ab", "window"),
)
def stats_fligner_policello(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _placement_sums(spark, sf_dir).select(
        "m",
        "n",
        F.col("sp2").alias("sum_placements_x2_a"),
        F.col("sq2").alias("sum_placements_x2_b"),
        F.expr(_FP_Z).alias("z_fp"),
    )


#: Brunner-Munzel closed forms over the shared placement aggregates.
#: Derivation (verified against the published lawstat example — W
#: 3.13747, p-hat 0.788961, df 17.6828 — in tests): with doubled
#: placements p2, the rank-difference variance collapses to
#: V = (n*Sum(p2^2) - Sum(p2)^2) / (4n(n-1)), the mean-rank gap to
#: (Sq/n2 - Sp/n1 + n2 - n1)/2, and p-hat to Sq/(2*n1*n2).
_BM_V1 = "((md * sp2sqd - sp2d * sp2d) / (4.0e0 * md * (md - 1.0e0)))"
_BM_V2 = "((nd * sq2sqd - sq2d * sq2d) / (4.0e0 * nd * (nd - 1.0e0)))"
_BM_W = (
    f"(md * nd * ((sq2d / nd - sp2d / md + nd - md) / 2.0e0))"
    f" / ((md + nd) * sqrt(md * {_BM_V1} + nd * {_BM_V2}))"
)
_BM_PHAT = "sq2d / (2.0e0 * md * nd)"
_BM_DF = (
    f"((md * {_BM_V1} + nd * {_BM_V2}) * (md * {_BM_V1} + nd * {_BM_V2}))"
    f" / ((md * {_BM_V1}) * (md * {_BM_V1}) / (md - 1.0e0)"
    f" + (nd * {_BM_V2}) * (nd * {_BM_V2}) / (nd - 1.0e0))"
)


@register(
    "stats_brunner_munzel",
    oracle=f"""
        WITH {_PLACEMENT_CTES}
        SELECT m, n,
               {_BM_PHAT} AS p_hat,
               {_BM_W} AS w_bm,
               {_BM_DF} AS df_welch
        FROM s
    """,
    doc=(
        "ST105: Brunner-Munzel test (click vs error values) — the "
        "modern default for two-sample stochastic-superiority "
        "inference: like Fligner-Policello it drops the equal-"
        "variance assumption, and additionally supplies the Welch-"
        "style df for small-sample t-approximation; p_hat = "
        "P(X<Y) + P(X=Y)/2 is the effect estimate itself. Implemented "
        "as closed forms over the SAME six exact placement aggregates "
        "as stats_fligner_policello (one shared distinct-value-grain "
        "plan: doubled midplacements, DECIMAL squared sums): the "
        "rank-difference variance collapses algebraically to "
        "(n*Spp - Sp^2)/(4n(n-1)) — derivation pinned against the "
        "published lawstat reference example (W 3.13747, p_hat "
        "0.788961, df 17.6828) in tests/test_r4_invariants.py. Every "
        "aggregate exact; three shared final expressions."
    ),
    tags=("stats", "ab", "window"),
)
def stats_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _placement_sums(spark, sf_dir).select(
        "m",
        "n",
        F.expr(_BM_PHAT).alias("p_hat"),
        F.expr(_BM_W).alias("w_bm"),
        F.expr(_BM_DF).alias("df_welch"),
    )
