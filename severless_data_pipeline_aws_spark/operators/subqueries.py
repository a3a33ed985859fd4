"""Subquery family: scalar, IN, correlated EXISTS/NOT-IN — the query
shapes a SQL user of the reference's Redshift layer (README.md:2
declares "Redshift (for SQL data)") would reach for first, plus the
TPC-H Q5 multi-join shape as a join-reordering exercise.

Catalyst rewrites all of these into joins (scalar subquery → broadcast
of a 1-row aggregate; IN → left-semi; NOT IN → null-aware anti), so
they inherit the join family's scale behavior — no per-row subquery
execution anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register


@register(
    "subquery_scalar_above_avg",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.75 * (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                                         / COUNT(*) FROM orders)
    """,
    doc=(
        "Scalar subquery: orders above 1.75x the average price. The "
        "aggregate is one row — Catalyst plans it as a broadcast below "
        "the filter (exact decimal avg so both engines agree)."
    ),
    tags=("subquery", "scalar"),
)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM {orders}
        WHERE o_totalprice > 1.75 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
                                         / COUNT(*) FROM {orders})
        """
    )


@register(
    "subquery_in_hot_parts",
    oracle="""
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
    """,
    doc="IN subquery → left-semi join (no duplicate explosion from the inner side).",
    tags=("subquery", "in"),
)
def subquery_in_hot_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM {part}
        WHERE p_partkey IN (SELECT l_partkey FROM {lineitem} WHERE l_quantity >= 49)
        """
    )


@register(
    "subquery_correlated_exists",
    oracle="""
        SELECT p_partkey, p_name
        FROM part p
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
          AND NOT EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey AND l2.l_returnflag = 'R'
                            AND l2.l_quantity >= 40)
    """,
    doc=(
        "Correlated EXISTS + NOT EXISTS on the same key (parts with a "
        "max-quantity sale but no large returned sale) → semi join "
        "stacked on anti join; the correlation becomes the join key. "
        "Correlates on part: supplier cardinality is too low for the "
        "NOT EXISTS side to survive at small scales."
    ),
    tags=("subquery", "exists"),
)
def subquery_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT p_partkey, p_name
        FROM {part} p
        WHERE EXISTS (SELECT 1 FROM {lineitem} l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
          AND NOT EXISTS (SELECT 1 FROM {lineitem} l2
                          WHERE l2.l_partkey = p.p_partkey AND l2.l_returnflag = 'R'
                            AND l2.l_quantity >= 40)
        """
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
        SELECT n_name,
               CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    doc=(
        "TPC-H Q5 shape: 6-table join (two facts, four dims) with a "
        "region filter and local-supplier correlation — the classic "
        "join-ordering stress test. Dims broadcast; fact-fact shuffles "
        "on orderkey; Catalyst+AQE pick the order."
    ),
    tags=("join", "agg", "tpch", "headline"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._helpers import dsum_double

    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t.supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(dsum_double("l_extendedprice * (1 - l_discount)").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "subquery_not_in_null_aware",
    oracle="""
        SELECT c_custkey, c_nationkey
        FROM customer
        WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation
                                  WHERE n_regionkey = 2)
          AND c_custkey <= 1000
    """,
    doc=(
        "NOT IN subquery -> null-aware anti join. SQL's NOT IN is NOT "
        "a plain anti join: one NULL in the inner relation empties the "
        "result (three-valued logic); Catalyst plans the null-aware "
        "variant. The empty-on-NULL behavior is pinned in "
        "tests/test_correctness.py::test_not_in_goes_empty_on_null."
    ),
    tags=("subquery", "not_in", "nulls"),
)
def subquery_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT c_custkey, c_nationkey
        FROM {customer}
        WHERE c_nationkey NOT IN (SELECT n_nationkey FROM {nation}
                                  WHERE n_regionkey = 2)
          AND c_custkey <= 1000
        """
    )


@register(
    "subquery_lateral_topn_per_key",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM customer c
        JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 3
        ) o ON TRUE
        WHERE c.c_custkey <= 50
        ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
    """,
    doc=(
        "Correlated LATERAL subquery with per-key ORDER BY + LIMIT: "
        "each customer's top-3 orders by value — the SQL-standard "
        "alternative to the row_number window idiom "
        "(window_rank_topn_per_group computes the same shape). Catalyst "
        "decorrelates the lateral into a join + per-key ranking, so the "
        "plan scales like the window form rather than re-scanning "
        "orders per customer."
    ),
    tags=("subquery", "lateral", "topk"),
)
def subquery_lateral_topn_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Tables(spark, sf_dir).sql(
        """
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM {customer} c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM {orders}
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
        ) o
        WHERE c.c_custkey <= 50
        ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
        """
    )


@register(
    "subquery_all_quantified",
    oracle="""
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
        WHERE c_acctbal > ALL (SELECT s_acctbal FROM supplier)
    """,
    doc=(
        "Quantified-ALL comparison subquery: customers whose balance "
        "exceeds EVERY supplier's. Spark SQL has no ALL/ANY "
        "quantifier, so the engine applies the standard decorrelation: "
        "`> ALL (SELECT x ...)` == `> (SELECT MAX(x) ...)` on a "
        "non-empty null-free subquery — one scalar aggregate broadcast "
        "into the filter, no join explosion. The oracle runs DuckDB's "
        "NATIVE ALL quantifier, so the rewrite's equivalence is what's "
        "being verified, not assumed (non-vacuous: 6 rows at sf0.01)."
    ),
    tags=("subquery", "rewrite"),
)
def subquery_all_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    sup_max = t.supplier.agg(F.max("s_acctbal").alias("sup_max"))
    return (
        t.customer.crossJoin(F.broadcast(sup_max))
        .filter(F.col("c_acctbal") > F.col("sup_max"))
        .select(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        )
    )
