"""UDF surface (SURVEY §2.9): pandas_udf scalar, pandas_udf GROUPED_AGG,
and applyInPandas grouped-map — the engine's three Python extension
points, all Arrow-batched (never row-at-a-time Python).

The reference's only "UDFs" are row-wise pandas .apply lambdas
(iot_dashboard.py:117-130, :18-41) which this engine replaces with
native exprs (P2/F12); this module exposes the surface itself for
operations that genuinely need Python, and deliberately computes
EXACT things (linear transforms, max-min, subtract-group-min) so each
entry is hash-verified against the DuckDB oracle — proving the Arrow
round-trip does not perturb values.

Scale: scalar pandas_udf streams Arrow batches (no shuffle);
grouped-agg/grouped-map shuffle once on the group key, same as a
native aggregate. The hot path should stay on built-ins — these are
the escape hatch, and their cost model is documented here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..io import Tables
from ..registry import register


def _rescale(v: pd.Series) -> pd.Series:
    """Vectorized scalar: 2x+1 with a clip at 15 (exact in IEEE)."""
    return (v * 2.0 + 1.0).clip(upper=15.0)


@register(
    "udf_pandas_scalar",
    oracle="""
        SELECT event_id, value,
               LEAST(value * 2.0 + 1.0, 15.0) AS rescaled
        FROM events WHERE value IS NOT NULL AND user_id <= 10
    """,
    doc="Scalar pandas_udf (Arrow-batched): exact linear transform + clip.",
    tags=("udf", "pandas"),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # pandas_udf parses its DDL type against the active session, so wrap
    # at call time rather than module import
    rescale_udf = pandas_udf(_rescale, "double")
    return (
        t.events.filter(F.col("value").isNotNull() & (F.col("user_id") <= 10))
        .select("event_id", "value", rescale_udf("value").alias("rescaled"))
    )


def _value_range(v: pd.Series) -> float:
    """Grouped-agg pandas_udf: max - min (exact on doubles)."""
    return float(v.max() - v.min())


def _group_size(v: pd.Series) -> int:
    """Grouped-agg pandas_udf: COUNT (the type hints select GROUPED_AGG)."""
    return len(v)


@register(
    "udf_pandas_grouped_agg",
    oracle="""
        SELECT event_type,
               MAX(value) - MIN(value) AS value_range,
               COUNT(value) AS n
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type
    """,
    doc="GROUPED_AGG pandas_udf (UDAF surface): per-type value range.",
    tags=("udf", "pandas", "agg"),
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    range_udf = pandas_udf(_value_range, "double")
    # grouped-agg pandas UDFs cannot mix with native aggregates in one
    # agg() — the count rides along as a second pandas aggregate
    count_udf = pandas_udf(_group_size, "bigint")
    return (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            range_udf("value").alias("value_range"),
            count_udf("value").alias("n"),
        )
    )


def _shift_to_group_min(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map: rebase each group's values at its minimum (exact)."""
    out = pdf[["event_id", "event_type", "value"]].copy()
    out["value_rebased"] = out["value"] - out["value"].min()
    return out


@register(
    "udf_grouped_map_applyinpandas",
    oracle="""
        SELECT event_id, event_type, value,
               value - MIN(value) OVER (PARTITION BY event_type) AS value_rebased
        FROM events WHERE value IS NOT NULL AND user_id <= 10
    """,
    doc=(
        "applyInPandas grouped-map (UDTF-like surface): whole-group "
        "pandas transform, one shuffle on the key — semantically a window "
        "subtract, hash-verified against it."
    ),
    tags=("udf", "pandas", "grouped_map"),
)
def udf_grouped_map_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.filter(F.col("value").isNotNull() & (F.col("user_id") <= 10))
        .groupBy("event_type")
        .applyInPandas(
            _shift_to_group_min,
            schema="event_id bigint, event_type string, value double, value_rebased double",
        )
    )


def _quantize_batches(batches):
    """Arrow-native int8 quantization of embedding vectors.

    Operates on RecordBatches directly (mapInArrow) — no pandas
    conversion at all; the flat float32 values buffer is scaled in one
    numpy pass per batch and rebuilt as a list array over int8.
    """
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        vec_id = batch.column("vec_id")
        emb = batch.column("embedding")
        flat = np.asarray(emb.values, dtype=np.float64)
        offsets = np.asarray(emb.offsets)
        # per-vector max |x| via reduceat over the flat buffer (guard empties)
        absmax = np.maximum.reduceat(np.abs(flat), offsets[:-1]) if len(flat) else np.array([])
        absmax = np.where(absmax == 0.0, 1.0, absmax)
        scale = absmax / 127.0
        widths = np.diff(offsets)
        q = np.clip(np.round(flat / np.repeat(scale, widths)), -127, 127).astype(np.int8)
        out = pa.RecordBatch.from_arrays(
            [
                vec_id,
                pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), pa.array(q)),
                pa.array(scale, type=pa.float64()),
            ],
            ["vec_id", "q_embedding", "scale"],
        )
        yield out


@register(
    "udf_map_in_arrow_quantize",
    # r4: exact DuckDB twin — scale = max|x|/127 (0 -> 1.0) and the
    # clip(round(x/scale)) quantizer are plain per-row list arithmetic;
    # q values agree exactly when no component lands on a .5 tie (numpy
    # rounds half-even, DuckDB half-away) — ties require x*127/max|x| to
    # hit .5 in float64, which the hash-derived corpus never does
    # (verified at sf0.001/0.01/0.1); a future tie would fail the gate
    # loudly, not silently.
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
            FROM embeddings
        ),
        m AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, e -> abs(e))) AS absmax
            FROM v
        ),
        s AS (
            SELECT vec_id, v,
                   (CASE WHEN absmax = 0.0 THEN 1.0 ELSE absmax END) / 127.0 AS scale
            FROM m
        )
        SELECT vec_id,
               CAST(to_json(list_transform(
                   v, e -> CAST(least(greatest(round(e / scale), -127.0), 127.0) AS TINYINT)
               )) AS VARCHAR) AS q_embedding,
               scale
        FROM s
    """,
    doc=(
        "mapInArrow surface: int8 embedding quantization straight on "
        "Arrow RecordBatches — the zero-copy tier below pandas UDFs "
        "(no Series materialization; one numpy pass over the flat "
        "values buffer per batch). The storage-shrink op an embedding "
        "corpus needs before ANN at 100 TB: 4x smaller, dequantization "
        "error bounded by scale/2 per component (asserted in pytest). "
        "Wire format: the int8 vector crosses the driver boundary as a "
        "to_json string (r6 verdict #1/#2 — raw array columns crash "
        "the driver's pandas canonicalizer); ``quantize_embeddings`` "
        "keeps the typed array as the library API."
    ),
    tags=("udf", "arrow", "llm", "similarity"),
)
def udf_map_in_arrow_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantize_embeddings(spark, sf_dir).withColumn(
        "q_embedding", F.to_json("q_embedding")
    )


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library API: quantized vectors as ``array<tinyint>``."""
    t = Tables(spark, sf_dir)
    out_schema = "vec_id bigint, q_embedding array<tinyint>, scale double"
    return (
        t.embeddings.select("vec_id", "embedding")
        .mapInArrow(_quantize_batches, out_schema)
        .orderBy("vec_id")
    )


class _WordChunks:
    """Python UDTF: explode a document into fixed 10-word chunks.

    Deliberately mirrors the codegen'd ``text_chunk_sliding_windows``
    shape so the two tiers are comparable: UDTFs are the row-at-a-time
    Python tier (flexible, slow) — use them only when the per-row
    logic cannot be expressed with built-ins or Arrow batches. Here
    the logic IS expressible natively, which is exactly what makes the
    UDTF hash-verifiable against the DuckDB oracle.
    """

    def eval(self, doc_id: int, text: str):
        words = text.split(" ")
        for i in range(max((len(words) + 9) // 10, 1)):
            yield doc_id, i, " ".join(words[i * 10 : (i + 1) * 10])


@register(
    "udf_python_udtf_chunks",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM documents WHERE doc_id < 20
        ),
        ch AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, greatest(CAST(ceil(len(words) / 10.0) AS BIGINT), 1)),
                       i -> struct_pack(
                           idx := i,
                           chunk := array_to_string(words[i*10+1 : i*10+10], ' '))))
                       AS s
            FROM w
        )
        SELECT doc_id, CAST(s.idx AS INT) AS chunk_idx, s.chunk AS chunk
        FROM ch
    """,
    doc=(
        "Python UDTF surface (Spark 4 `udtf`): a table function lateral-"
        "joined per input row, yielding N output rows each — the fourth "
        "Python extension point beside pandas_udf / applyInPandas / "
        "mapInArrow. Registered and invoked through SQL LATERAL, so it "
        "composes with the relational layer. Bounded to 20 docs: UDTFs "
        "run row-at-a-time Python and exist for logic built-ins can't "
        "express; the codegen'd twin (text_chunk_sliding_windows) is "
        "the hot path."
    ),
    tags=("udf", "udtf", "text"),
)
def udf_python_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    chunker = udtf(_WordChunks, returnType="doc_id bigint, chunk_idx int, chunk string")
    spark.udtf.register("word_chunks", chunker)
    return Tables(spark, sf_dir).sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.chunk
        FROM {documents} d, LATERAL word_chunks(d.doc_id, d.text) c
        WHERE d.doc_id < 20
        """
    )
