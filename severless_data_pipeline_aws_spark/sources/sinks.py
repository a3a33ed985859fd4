"""Sinks (SURVEY §2.1 S3-S6) + the bucketed writer for co-located joins.

Reference sinks re-expressed Spark-first:
  S3 console     log/pretty-print each batch   iot-data-stream.py:377-379
  S4 JSON file   accumulate + write JSON       iot-data-stream.py:299-309
  S5 CSV file    flatten nested then to_csv    iot-data-stream.py:312-346
  S6 keyed sink  put_records keyed by device   iot-data-stream.py:259-296

The reference's S4 writes ONE json array; Spark writes JSON-lines part
files — the distributed-correct format (a single array would serialize
through the driver). S6's Kinesis partition-key semantics (all records
of a device land on one shard, ordered) map to ``repartition(key)`` +
per-partition files, or ``partitionBy(key)`` for a directory per key.

The bucketed writer is the 100 TB fact-fact join story (joins.py:15-18):
write both join sides bucketed by the key into the warehouse and the
sort-merge join needs NO shuffle at read time (verified by
tests/test_sinks.py asserting the absence of Exchange in the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_console(df: DataFrame, n: int = 1) -> None:
    """S3: console sink — batch size + first record(s), like the
    reference's per-tick log (iot-data-stream.py:377-379)."""
    df.show(n, truncate=False, vertical=True)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4: JSON-lines sink (distributed twin of save_to_file)."""
    df.write.mode(mode).json(path)


def write_csv_flat(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5: flatten nested readings then CSV with header (save_to_csv).

    Accepts either the nested reading frame (flattens it) or an
    already-flat frame (writes as-is) — CSV cannot hold structs/maps.
    """
    from .generator import flatten_readings

    if "readings" in df.columns:
        df = flatten_readings(df)
    df.write.mode(mode).option("header", True).csv(path)


def write_keyed(df: DataFrame, path: str, key: str = "device_id", mode: str = "overwrite") -> None:
    """S6: keyed sink — all records of one key co-located and ordered
    within their file, the Kinesis partition-key contract
    (iot-data-stream.py:276-288). ``partitionBy`` gives a directory per
    key value for partition-pruned reads."""
    df.repartition(key).sortWithinPartitions(key).write.mode(mode).partitionBy(key).parquet(path)


def write_keyed_wire(df: DataFrame, path: str, key: str, mode: str = "overwrite") -> None:
    """S6 wire twin: the keyed sink in WIRE format — each record
    serialized to one JSON line (the reference's ``json.dumps`` +
    ``put_records`` payload, iot-data-stream.py:276-288), all records
    of one key co-located in one shard directory and ordered within
    their file. Output is directly consumable by the ingest path
    (``streaming.pipeline.json_wire_stream`` over ``path/*/``), which
    closes the produce->transport->consume loop end-to-end; the
    round-trip + exactly-once test lives in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    (
        df.select(
            F.col(key).alias("__shard"),
            # microsecond timestampFormat: the default SSS wire format
            # silently truncates to millis and breaks value-exact replay
            F.to_json(
                F.struct(*df.columns),
                {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
            ).alias("value"),
        )
        .repartition("__shard")
        .sortWithinPartitions("__shard")
        .write.mode(mode)
        .partitionBy("__shard")
        .text(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Bucketed warehouse table: pre-shuffled by ``key`` at write time.

    Two tables bucketed on the same key with the same bucket count join
    with ZERO exchange — at 100 TB this converts the per-query shuffle
    of the biggest joins into a one-time write-side cost.
    """
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_files: int,
    cluster_by: str | None = None,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``target_files`` files, optionally clustered on a key.

    The 100 TB maintenance op streaming landings make necessary: a
    micro-batched ingest leaves thousands of KB-sized files whose open
    cost dominates scans. ``repartition(n)`` round-robins rows into
    exactly n writers; ``cluster_by`` additionally hash-partitions and
    sorts within files so min/max footer stats turn the key into a
    row-group pruning predicate (poor man's Z-order on one dimension).
    Returns the row count written — measured by ``Dataset.observe`` ON
    the write pass itself, not by re-scanning the output (an audit
    re-read of a 100 TB compaction would double its cost).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.read.parquet(src_path)
    if cluster_by:
        out = df.repartition(target_files, cluster_by).sortWithinPartitions(cluster_by)
    else:
        out = df.repartition(target_files)
    audit = Observation("compact_audit")
    out = out.observe(audit, F.count(F.lit(1)).alias("rows"))
    out.write.mode(mode).parquet(dst_path)
    return int(audit.get["rows"])


def _zvalue(col_a, col_b, bits: int = 16):
    """Interleave the low ``bits`` bits of two non-negative ints (Morton
    code) as a pure column expression — stays in whole-stage codegen."""
    from pyspark.sql import functions as F

    def bit_at(col, i):
        # (col >> i) & 1 with a Column shift amount: shiftright() needs a
        # literal, so divide by 2^i instead (inputs are < 2^bits, exact)
        return (col / F.pow(F.lit(2.0), i)).cast("long") % 2

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + bit_at(col_a, i) * F.pow(F.lit(2.0), i * 2).cast("long")
        + bit_at(col_b, i) * F.pow(F.lit(2.0), i * 2 + 1).cast("long"),
    )


def _quantile_rank(df: DataFrame, col: str, bits: int):
    """Map a numeric column into [0, 2^bits) by its approximate quantiles.

    The 2^bits - 1 boundaries are bounded metadata collected once
    (percentile_approx, one aggregate) and inlined as a literal array,
    so the per-row rank is MAP-ONLY — no global sort, no single-
    partition window. Quantile buckets also absorb skew: a hot value
    region still spreads over the curve.
    """
    from pyspark.sql import functions as F

    n = (1 << bits) - 1
    fracs = [i / (n + 1) for i in range(1, n + 1)]
    bounds = df.agg(F.percentile_approx(col, fracs, 10_000).alias("b")).first()["b"]
    barr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.aggregate(
        barr,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.when(F.col(col) >= b, 1).otherwise(0).cast("long"),
    )


def write_zordered(
    spark,
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    target_files: int,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustering on two dimensions.

    One-dimensional clustering (compact_parquet's sort) prunes on one
    key and destroys locality on every other; interleaving the bits of
    BOTH keys gives every file a small rectangle of the (a, b) space, so
    row-group min/max stats prune selective filters on EITHER dimension
    — the engine-level equivalent of Delta's OPTIMIZE ZORDER BY, built
    from quantile-bucket rank normalization (map-only, skew-absorbing;
    see _quantile_rank) + range partitioning on the interleaved code +
    in-file sort. 8 bits per dimension addresses 65k curve cells —
    far beyond per-file row-group counts.

    At 100 TB: rewrite per partition (e.g. per day) so each range sort
    stays bounded; the z column itself is dropped before writing.
    """
    ra = _quantile_rank(df, col_a, bits)
    rb = _quantile_rank(df, col_b, bits)
    z = df.withColumn("__z", _zvalue(ra, rb, bits))
    (
        z.repartitionByRange(target_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def backfill_partitions(
    spark,
    corrected: DataFrame,
    path: str,
    partition_by: str,
) -> None:
    """Idempotent partition backfill: rewrite ONLY the partitions present
    in ``corrected``, leaving every other partition untouched.

    Uses dynamic partition overwrite — the 100 TB reprocessing
    primitive: a late-data or bug-fix recompute of one day must not
    truncate the rest of the dataset (static overwrite mode would), and
    re-running the same backfill is a no-op semantically (idempotent).
    The mode is a write option, so the session conf is untouched.
    """
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_by)
        .parquet(path)
    )
    # the session's FileStatusCache still lists the replaced files;
    # readers would otherwise hit FILE_NOT_EXIST on the stale entries
    spark.catalog.refreshByPath(path)


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    split_col: str = "split",
    size_col: str = "n_chars",
    target_rows_per_file: int = 100_000,
) -> dict:
    """Write a split-partitioned training corpus with a JSON manifest.

    The last mile of a curation pipeline: each split lands under
    ``out_dir/split=<name>/`` in files sized to ``target_rows_per_file``
    (explicit repartition per split — a single partitionBy write cannot
    control per-split file counts), and ``_manifest.json`` records per
    split the row count, file count, and total ``size_col`` mass — the
    contract a training job validates before consuming shards. The
    manifest stats come from one tiny aggregate (split-cardinality
    rows); data is written once. Returns the manifest dict.

    At 100 TB the same two-phase shape holds: the stats pass is a
    metadata-scale aggregate, and per-split repartition counts keep
    shard sizes uniform for data-parallel loaders regardless of how
    skewed the split sizes are.
    """
    import json
    import math
    import os

    from pyspark.sql import functions as F

    stats = {
        r["s"]: (r["n"], r["mass"])
        for r in df.groupBy(F.col(split_col).alias("s"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(size_col).cast("bigint").alias("mass"),
        )
        .collect()
    }
    manifest: dict = {"splits": {}, "target_rows_per_file": target_rows_per_file}
    for split, (n, mass) in sorted(stats.items()):
        n_files = max(1, math.ceil(n / target_rows_per_file))
        (
            df.filter(F.col(split_col) == split)
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"split={split}"))
        )
        manifest["splits"][split] = {
            "n_rows": int(n),
            "n_files": n_files,
            "total_" + size_col: int(mass),
        }
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def read_training_shards(spark, out_dir: str, validate: bool = True) -> DataFrame:
    """Manifest-validated read of a shard directory written above.

    With ``validate=True`` the actual per-split row counts are checked
    against ``_manifest.json`` before returning — a truncated or
    half-written corpus fails loudly at load time, not mid-training.
    """
    import json
    import os

    from pyspark.sql import functions as F

    df = spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "split=*")
    )
    if validate:
        with open(os.path.join(out_dir, "_manifest.json")) as f:
            manifest = json.load(f)
        actual = {
            r["split"]: r["n"]
            for r in df.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        expected = {s: v["n_rows"] for s, v in manifest["splits"].items()}
        if actual != expected:
            raise ValueError(
                f"shard corpus does not match manifest: {actual} != {expected}"
            )
    return df


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (S5-adjacent: the second columnar interchange format).

    ORC support is built into Spark (no extra package, unlike Avro);
    predicate pushdown and column pruning work the same as parquet, so
    an ORC landing zone is a drop-in swap where the downstream consumer
    demands it.
    """
    df.write.mode(mode).orc(path)


def read_orc(spark, path: str) -> DataFrame:
    return spark.read.orc(path)


def storage_layout_report(path: str) -> "list[dict]":
    """Parquet-layout audit for a table directory (or single file): per
    file — bytes, rows, row groups, and the min row-group size — plus a
    small-file / tiny-row-group flag. Pure footer metadata via pyarrow
    (no data read); at warehouse scale this runs per table off the
    manifest and feeds compaction planning (compact_parquet is the
    remediation this report triggers)."""
    import os

    import pyarrow.parquet as pq

    paths = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            paths += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    else:
        paths = [path]
    report = []
    for p in sorted(paths):
        meta = pq.ParquetFile(p).metadata
        rg_rows = [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]
        size = os.path.getsize(p)
        report.append(
            {
                "file": p,
                "bytes": size,
                "n_rows": meta.num_rows,
                "n_row_groups": meta.num_row_groups,
                "min_row_group_rows": min(rg_rows) if rg_rows else 0,
                "small_file": size < 8 * 1024 * 1024,
            }
        )
    return report
