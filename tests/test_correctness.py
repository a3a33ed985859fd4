"""Replay the driver's oracle gate locally: every registered query with
an oracle must match DuckDB at the test scale factor."""

from __future__ import annotations

import pytest

from severless_data_pipeline_aws_spark import registry

from .oracle import compare, duckdb_connect

SPECS = registry.load_all()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is None)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connect(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(name, spark, sf_dir, con):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    errs = compare(df, con, spec.oracle, require_rows=True)
    assert not errs, f"{name}: " + "; ".join(errs[:10])


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(name, spark, sf_dir):
    """Non-oracled queries must still produce rows — a 0-row result
    verifies nothing (the round-1 vacuous-pass lesson)."""
    df = SPECS[name].fn(spark, sf_dir)
    assert df.count() > 0


def test_not_in_goes_empty_on_null(spark, sf_dir):
    """SQL NOT IN three-valued logic: a NULL in the inner set empties
    the result — the behavior that distinguishes the null-aware anti
    join from a plain anti join."""
    from severless_data_pipeline_aws_spark.io import Tables

    n = Tables(spark, sf_dir).sql(
        """
        SELECT count(*) AS n FROM {customer}
        WHERE c_nationkey NOT IN (
            SELECT CASE WHEN n_regionkey = 2 THEN n_nationkey
                        ELSE NULL END
            FROM {nation})
        """
    ).first()["n"]
    assert n == 0


def test_maxby_extremes_are_unique(spark, sf_dir):
    """agg_maxby_countif_bool's determinism rests on each group's
    max/min price being held by exactly one order — assert it so a
    data regeneration that breaks the property fails loudly here, not
    as a mysterious oracle hash flake."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables

    o = Tables(spark, sf_dir).orders
    ext = o.groupBy("o_orderstatus").agg(
        F.max("o_totalprice").alias("mx"), F.min("o_totalprice").alias("mn")
    )
    joined = o.join(ext, "o_orderstatus")
    n_at_max = joined.filter(F.col("o_totalprice") == F.col("mx")).count()
    n_at_min = joined.filter(F.col("o_totalprice") == F.col("mn")).count()
    n_groups = ext.count()
    assert n_at_max == n_groups and n_at_min == n_groups
