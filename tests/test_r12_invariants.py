"""Round-12 optimization invariants.

Pins the internals the r12 optimization round changed:

- ``materialize()`` (the r11-verdict #9 checkpoint policy): the
  fault-tolerant ``persist`` deployment mode must return exactly the
  rows the default ``localCheckpoint`` mode returns.
- ``spread()``: repartitioning is a pure layout change — row multisets
  are untouched, and well-split inputs pass through unchanged.
- pair generation from bucket lists (``bucket_pairs``: minhash LSH /
  simhash / ahash / basket pairs): the i<j explode must reproduce the
  band self-join's candidate set.
- the pointer-jumping CC loop: labels must match the one-hop min-label
  fixpoint (both are pinned to the recursive-CTE oracle elsewhere; this
  cross-checks the two Spark strategies directly).
"""

from __future__ import annotations

import os
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from severless_data_pipeline_aws_spark.operators._helpers import (
    bucket_pairs,
    materialize,
    spread,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_materialize_persist_mode_matches_local(spark):
    from severless_data_pipeline_aws_spark.operators.text import (
        text_kneser_ney_bigram_lm,
    )

    base = _rows(text_kneser_ney_bigram_lm(spark, SF_DIR))
    os.environ["SPARK_GRAFT_MATERIALIZE"] = "persist"
    try:
        persisted = _rows(text_kneser_ney_bigram_lm(spark, SF_DIR))
    finally:
        del os.environ["SPARK_GRAFT_MATERIALIZE"]
    assert persisted == base
    spark.catalog.clearCache()


def test_spread_preserves_rows_and_passes_through_wide_inputs(spark):
    df = spark.range(0, 1000).withColumn("k", F.col("id") % 7)
    assert _rows(spread(df)) == _rows(df)
    # already at >= defaultParallelism partitions -> identity, no shuffle
    wide = df.repartition(spark.sparkContext.defaultParallelism)
    assert spread(wide) is wide


def test_bucket_list_pairs_match_self_join(spark):
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.operators.dedup import (
        _pair_docs,
        minhash_lsh_candidates,
        minhash_signature,
        _LSH_BANDS,
        _LSH_ROWS,
        _MINHASH_K,
    )

    docs = _pair_docs(Tables(spark, SF_DIR))
    sig = minhash_signature(docs).select(
        "doc_id", *[f"mh_{s}" for s in range(_MINHASH_K)]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"mh_{b * _LSH_ROWS + r}")
                                for r in range(_LSH_ROWS)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(_LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    joined = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    assert _rows(minhash_lsh_candidates(docs)) == _rows(joined)

    # the shared generator itself: exactly the i<j pairs, for every size
    arrs = spark.createDataFrame(
        [(k, list(range(10, 10 + k))) for k in range(5)], "k int, ds array<int>"
    )
    pairs = arrs.select("k", bucket_pairs("ds", "x AS a, y AS b").alias("p"))
    assert _rows(pairs.select("k", "p.a", "p.b")) == sorted(
        (k, a, b) for k in range(5) for a, b in combinations(range(10, 10 + k), 2)
    )


def test_pointer_jump_cc_matches_star(spark):
    from severless_data_pipeline_aws_spark.operators.dedup import (
        dedup_connected_components,
        dedup_connected_components_star,
    )

    a = _rows(dedup_connected_components(spark, SF_DIR))
    b = _rows(dedup_connected_components_star(spark, SF_DIR))
    assert a == b
