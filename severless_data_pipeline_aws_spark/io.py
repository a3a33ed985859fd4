"""Table loading over the driver's parquet test tables + generic sources.

The reference's storage layer was DynamoDB scanned into pandas
(``iot_dashboard.py:46-86``); here the landed layer is columnar parquet
read by Spark with predicate pushdown and column pruning — the scan cap
(``Limit``) becomes ``df.limit(n)`` planned as CollectLimit/LocalLimit.
"""

from __future__ import annotations

import os
import string

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimensions small enough to broadcast at ANY scale factor (bounded cardinality)
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: path -> (stamp, Spark's inferred schema, TIMESTAMP(NANOS) column names)
_SCHEMAS: dict[str, tuple[tuple, StructType, frozenset[str]]] = {}


def _stamp(path: str) -> tuple | None:
    """(name, mtime_ns, size) of the file, or of every file under a
    directory table; None when the path cannot be read locally."""
    try:
        files = (
            sorted(os.path.join(d, n) for d, _, names in os.walk(path) for n in names)
            if os.path.isdir(path)
            else [path]
        )
        return tuple((p, (st := os.stat(p)).st_mtime_ns, st.st_size) for p in files)
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, frozenset[str]]:
    """``spark.read.parquet(path)`` plus the names of its TIMESTAMP(NANOS)
    columns.

    Schema inference is a Spark job (a footer read per load), so the
    inferred schema is cached with the file stamps it was read under and
    handed to later loads through ``spark.read.schema``; a rewritten or
    resized file misses the cache and is inferred again."""
    stamp = _stamp(path)
    hit = _SCHEMAS.get(path)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path), hit[2]
    import pyarrow.dataset as ds

    df = spark.read.parquet(path)
    nanos = frozenset(
        f.name
        for f in ds.dataset(path, format="parquet").schema
        if str(f.type).startswith("timestamp[ns")
    )
    if stamp is not None:
        _SCHEMAS[path] = (stamp, df.schema, nanos)
    return df, nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, nanos = _read_parquet(spark, table_path(sf_dir, name))
    # parquet TIMESTAMP(NANOS) arrives as long under nanosAsLong; convert to
    # TimestampType via integer division (float div would lose precision on
    # ~1.7e18 epoch-nanos). Data is generated at micro precision => lossless.
    # Detection is generic (arrow footer), not hardcoded to one column.
    for col in nanos:
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    # parquet timestamp[us] arrives as TIMESTAMP_NTZ; normalize to the
    # session-zoned TimestampType (session tz is pinned UTC, so values are
    # unchanged) — streaming watermarks and several chrono functions
    # (unix_millis, window) require TIMESTAMP, and this keeps the engine's
    # surface identical whether the generator stored NANOS or MICROS.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


class Tables:
    """Lazy accessor: ``Tables(spark, sf_dir).lineitem`` etc.

    Each attribute is a fresh DataFrame over the parquet file; Catalyst
    dedups identical scans, so repeated access is free.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return load_table(self.spark, self.sf_dir, name)
        raise AttributeError(name)

    def sql(self, text: str, **kwargs) -> DataFrame:
        """``spark.sql(text, **kwargs)`` with every ``{table}`` placeholder
        bound to that table as a DataFrame argument: PySpark names the view
        uniquely and drops it once the query is analyzed, so the session
        catalog is left as it was."""
        names = {f for _, f, _, _ in string.Formatter().parse(text) if f in TABLES}
        return self.spark.sql(text, **{n: getattr(self, n) for n in names}, **kwargs)


def read_csv_tolerant(
    spark: SparkSession, path: str, schema_ddl: str
) -> DataFrame:
    """PERMISSIVE CSV ingest: parse what parses, quarantine what doesn't.

    Rows that violate the declared schema are NOT dropped and do NOT
    fail the job — they land with null fields plus the raw line in
    ``_corrupt_record``, so a downstream filter can route them to a
    quarantine sink while clean rows flow on. This is the ingest
    posture a 100 TB landing zone needs: schema-on-read with explicit,
    auditable rejects instead of silent loss (DROPMALFORMED) or a
    cluster-wide abort on one bad file (FAILFAST).

    The reference tolerated malformed timestamps per-record
    (iot_dashboard.py:33-36); this is the same policy applied at the
    source boundary.

    Spark caveat: a query that references ONLY ``_corrupt_record``
    raises (the parser never materializes the other fields to know
    what failed) — ``cache()`` the frame before routing on the corrupt
    column, as the quarantine test does.
    """
    return spark.read.csv(
        path,
        schema=schema_ddl + ", _corrupt_record STRING",
        header=True,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )


def read_jsonl_tolerant(
    spark: SparkSession, path: str, schema_ddl: str
) -> DataFrame:
    """PERMISSIVE JSON-lines ingest — the wire-format twin of
    :func:`read_csv_tolerant`.

    The reference's ingest path carries JSON records (Kinesis wire
    format, iot-data-stream.py:279); a landing zone reading those files
    needs the same posture as CSV: schema-on-read, malformed lines
    quarantined in ``_corrupt_record`` (truncated payloads, bad quotes,
    type violations), clean rows flowing on. FAILFAST would abort a
    100 TB backfill on one bad shard; DROPMALFORMED loses data silently;
    PERMISSIVE + explicit routing is the only auditable option.

    Same Spark caveat as CSV: cache() before filtering on only the
    corrupt column.
    """
    return spark.read.schema(schema_ddl + ", _corrupt_record STRING").json(
        path,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )


class SchemaContractError(ValueError):
    """A landed table violates its declared schema contract."""


def assert_schema(df: DataFrame, expected_ddl: str) -> DataFrame:
    """Schema contract gate: fail LOUDLY (with a per-column diff) when a
    DataFrame's schema drifts from the declared DDL.

    The ingest-side twin of the dashboard's column-existence guard: a
    producer silently adding/dropping/retyping a column should stop the
    pipeline at the landing step, not corrupt a downstream join. Name
    order is not part of the contract; names and types are.
    """
    from pyspark.sql.types import StructType

    expected = StructType.fromDDL(expected_ddl)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in expected.fields}
    if got == want:
        return df
    problems = []
    for name in sorted(want.keys() - got.keys()):
        problems.append(f"missing column {name} ({want[name]})")
    for name in sorted(got.keys() - want.keys()):
        problems.append(f"unexpected column {name} ({got[name]})")
    for name in sorted(got.keys() & want.keys()):
        if got[name] != want[name]:
            problems.append(f"type drift on {name}: {got[name]} != {want[name]}")
    raise SchemaContractError("; ".join(problems))
