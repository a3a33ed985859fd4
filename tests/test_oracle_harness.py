"""Pin the local oracle harness to the driver's strictness (r5 verdict #2).

The driver canonicalizes through pandas and hashes exact values, so a
DuckDB oracle that leaves an integer ``SUM(...)`` uncast (HUGEINT →
pandas float64) mismatches Spark's int64 AT THE DRIVER even when the
numbers are equal.  The old ``fetchall()``-based harness could not see
that class — ``text_lang_stats`` shipped wrong for four rounds.  These
tests make the class unshippable: the harness itself must fail a
deliberately uncast SUM, and must keep matching the benign shapes the
registry relies on (dates, timestamps, NULLs, arrays, CAST sums).
"""

from __future__ import annotations

from .oracle import compare, duckdb_connect


def test_uncast_integer_sum_fails(spark, sf_dir):
    """DuckDB SUM(BIGINT) widens to HUGEINT → pandas float64; Spark's
    sum(long) stays int64. The harness MUST flag it (the driver does)."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables

    df = Tables(spark, sf_dir).orders.agg(F.sum("o_custkey").alias("s"))
    con = duckdb_connect(sf_dir)
    try:
        errs = compare(df, con, "SELECT SUM(o_custkey) AS s FROM orders")
        assert errs, "uncast integer SUM must fail the driver-faithful gate"
        assert any("'float'" in e and "'int'" in e for e in errs), errs
        # and the one-line fix passes:
        ok = compare(df, con, "SELECT CAST(SUM(o_custkey) AS BIGINT) AS s FROM orders")
        assert not ok, ok
    finally:
        con.close()


def test_benign_shapes_still_match(spark, sf_dir):
    """Dates (Spark date object vs DuckDB midnight Timestamp), real
    timestamps (ns vs us pandas units), NULLs in every family, JSON-
    encoded arrays, and exact doubles must all canon equal."""
    sql = """
        SELECT DATE '2024-01-05' AS d,
               TIMESTAMP '2024-01-05 03:04:05.123' AS ts,
               CAST(NULL AS BIGINT) AS nb,
               CAST(NULL AS DOUBLE) AS nf,
               CAST(NULL AS VARCHAR) AS ns,
               1.5 AS f,
               7 AS i,
               CAST(to_json([1, 2, 3]) AS VARCHAR) AS arr
    """
    df = spark.sql(
        sql.replace(
            "CAST(to_json([1, 2, 3]) AS VARCHAR)", "to_json(ARRAY(1, 2, 3))"
        ).replace(
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS STRING)"
        )
        # Spark has no bare-decimal literal semantics mismatch here:
        # 1.5 parses DECIMAL(2,1) in Spark SQL — force double.
        .replace("1.5 AS f", "CAST(1.5 AS DOUBLE) AS f")
        .replace("7 AS i", "CAST(7 AS BIGINT) AS i")
    )
    con = duckdb_connect(sf_dir)
    try:
        errs = compare(
            df,
            con,
            sql.replace("1.5 AS f", "CAST(1.5 AS DOUBLE) AS f").replace(
                "7 AS i", "CAST(7 AS BIGINT) AS i"
            ),
        )
        assert not errs, errs
    finally:
        con.close()


def test_complex_cells_rejected_loudly(spark, sf_dir):
    """r6 verdict #2: the driver CRASHES on list/map cells
    (pdf.sort_values -> factorize -> unhashable) — a harness that
    quietly canonicalizes them to tuples is lenient exactly where the
    driver is strict (five latent red rows shipped that way). A scratch
    query returning a raw array column must now fail this gate loudly,
    and the same schema predicate the registry-wide plan sweep uses
    must flag it."""
    import pytest
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = spark.sql("SELECT ARRAY(1, 2, 3) AS arr")
    assert any(
        isinstance(f.dataType, (ArrayType, MapType, StructType))
        for f in df.schema.fields
    ), "schema predicate must flag a raw array output column"
    con = duckdb_connect(sf_dir)
    try:
        with pytest.raises(TypeError, match="complex cell"):
            compare(df, con, "SELECT [1, 2, 3] AS arr")
    finally:
        con.close()


def test_row_count_and_vacuous_guards(spark, sf_dir):
    con = duckdb_connect(sf_dir)
    try:
        df0 = spark.sql("SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0")
        errs = compare(df0, con, "SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0", require_rows=True)
        assert errs and "vacuous" in errs[0]
        df1 = spark.sql("SELECT CAST(1 AS BIGINT) AS x")
        errs = compare(df1, con, "SELECT CAST(1 AS BIGINT) AS x UNION ALL SELECT 2")
        assert errs and "row count" in errs[0]
    finally:
        con.close()
