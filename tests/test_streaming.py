"""Structured Streaming parity tests (M3).

All streams are file-sourced and driven with ``availableNow`` so runs
are bounded and deterministic. Covers: S9 ingest (json wire → from_json
→ parquet landing with checkpoint), W6 watermarked windows matching the
batch twin, and W4 stateful drift — equivalence with the imperative
replay plus state survival across a checkpointed restart.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from severless_data_pipeline_aws_spark.io import Tables
from severless_data_pipeline_aws_spark.streaming import pipeline, stateful


def _events_as_jsonl(spark, sf_dir, out_dir):
    df = Tables(spark, sf_dir).events.filter(F.col("user_id") <= 10)
    df.select(F.to_json(F.struct(*df.columns)).alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(str(out_dir))
    return df


def test_ingest_json_to_parquet_landing(spark, sf_dir, tmp_path):
    src = tmp_path / "wire"
    expected = _events_as_jsonl(spark, sf_dir, src)

    stream = pipeline.json_wire_stream(spark, str(src))
    q = pipeline.land_parquet(
        stream, str(tmp_path / "landed"), str(tmp_path / "ckpt"), partition_by="event_type"
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    landed = spark.read.parquet(str(tmp_path / "landed"))
    assert landed.count() == expected.count()
    assert set(landed.columns) == set(expected.columns)
    # exactly-once: re-running with the same checkpoint adds nothing
    q2 = pipeline.land_parquet(
        pipeline.json_wire_stream(spark, str(src)),
        str(tmp_path / "landed"),
        str(tmp_path / "ckpt"),
        partition_by="event_type",
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "landed")).count() == expected.count()


def test_streaming_tumbling_matches_batch_twin(spark, sf_dir, tmp_path):
    src = tmp_path / "wire"
    _events_as_jsonl(spark, sf_dir, src)

    agg = pipeline.tumbling_counts(pipeline.json_wire_stream(spark, str(src)))
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("tumbling_stream").collect()
    }

    batch = (
        Tables(spark, sf_dir).events.filter(F.col("user_id") <= 10)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(value AS DECIMAL(38,8))")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def _steps_df(spark, n_devices=4, n_ticks=30):
    rows = []
    import hashlib

    for d in range(n_devices):
        dev = f"device_{d}"
        for s, (lo, hi, prec) in {
            "temperature": (-10.0, 45.0, 1),
            "battery_level": (0.0, 100.0, 0),
        }.items():
            for t in range(1, n_ticks + 1):
                h = int(hashlib.md5(f"{dev}|{s}|{t}".encode()).hexdigest()[:8], 16)
                u = h / 0xFFFFFFFF
                drift = (u * 2 - 1) * (0.1 if s == "temperature" else 0.5)
                if s == "battery_level":
                    drift = -abs(drift)
                rows.append((dev, s, t, drift, lo, hi, 20.0 if s == "temperature" else 90.0, prec))
    return spark.createDataFrame(rows, schema=stateful.STEP_SCHEMA)


def test_stateful_drift_stream_equals_replay(spark, tmp_path):
    steps = _steps_df(spark)
    src = str(tmp_path / "steps_once")
    steps.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(stateful.STEP_SCHEMA).parquet(src)
    q = (
        stateful.drift_walk(stream)
        .writeStream.format("memory")
        .queryName("drift_once")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("drift_once").toPandas()
    want = stateful.batch_replay(steps.toPandas())
    key = ["device_id", "sensor", "tick"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_stateful_drift_transform_with_state_equals_replay(spark, tmp_path):
    """The Spark 4 transformWithState form must produce the identical walk."""
    import pytest

    if stateful.drift_walk_tws is None:
        pytest.skip("transformWithState requires Spark 4+")
    if not stateful.tws_runtime_available():
        pytest.skip("transformWithState runner needs google.protobuf (absent here)")
    steps = _steps_df(spark)
    src = str(tmp_path / "steps_tws")
    steps.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(stateful.STEP_SCHEMA).parquet(src)
    q = (
        stateful.drift_walk_tws(stream)
        .writeStream.format("memory")
        .queryName("drift_tws")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("drift_tws").toPandas()
    want = stateful.batch_replay(steps.toPandas())
    key = ["device_id", "sensor", "tick"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_stateful_drift_state_survives_restart(spark, tmp_path):
    steps = _steps_df(spark).toPandas()
    first = steps[steps.tick <= 15]
    second = steps[steps.tick > 15]
    src = tmp_path / "steps"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_batch(pdf, fname):
        spark.createDataFrame(pdf, schema=stateful.STEP_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        stream = spark.readStream.schema(stateful.STEP_SCHEMA).parquet(str(src))
        q = (
            stateful.drift_walk(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_batch(first, "a")   # run 1: ticks 1-15
    run_batch(second, "b")  # restart from checkpoint: ticks 16-30

    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["device_id", "sensor", "tick"])
        .reset_index(drop=True)
    )
    want = (
        stateful.batch_replay(steps)
        .sort_values(["device_id", "sensor", "tick"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_watermark_drops_late_rows(spark, tmp_path):
    """W7: a row older than the watermark is discarded, not aggregated.

    Three checkpointed availableNow runs over a growing file source:
    run 1 sets the watermark, run 2 delivers a LATE row (older than the
    watermark), run 3 pushes the watermark far enough to finalize all
    windows. If the late row had been accepted, its 30-min window would
    appear in the append-mode output; it must not.
    """
    import datetime as dt

    src = tmp_path / "late_src"
    src.mkdir()
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")

    def write_rows(rows, fname):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
        spark.createDataFrame(pdf, schema=pipeline.EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run():
        stream = spark.readStream.schema(pipeline.EVENT_SCHEMA).parquet(str(src))
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    T = dt.datetime(2024, 6, 1, 10, 0, 0)
    m = dt.timedelta(minutes=1)
    # run 1: two on-time rows at 10:00/10:05 -> watermark 9:55
    write_rows([(1, T, 1, "click", 1.0, "{}"), (2, T + 5 * m, 1, "click", 1.0, "{}")], "a")
    run()
    # run 2: a LATE row at 9:00 (< watermark) -> must be dropped
    write_rows([(3, T - 60 * m, 1, "click", 1.0, "{}")], "b")
    run()
    # run 3: a future row at 11:00 -> watermark 10:50 finalizes [10:00,10:30)
    write_rows([(4, T + 60 * m, 1, "click", 1.0, "{}")], "c")
    run()

    got = {r["window_start"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got.get(T) == 2  # the on-time window, both rows
    assert (T - 60 * m) not in got  # the late row's window never materialized


def test_rate_reading_stream_is_streaming(spark):
    stream = pipeline.rate_reading_stream(spark, rows_per_second=5)
    assert stream.isStreaming
    assert set(stream.columns) == {"ts", "tick", "device_id"}


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """W-join: watermarked stream-stream interval join == its batch twin.

    Clicks and purchases (user_id <= 10) are replayed as two file
    streams; each purchase joins clicks by the same user in the
    preceding hour. Both sides are watermarked so the join state is
    bounded (the 100 TB requirement); availableNow keeps the run
    deterministic, and the result must equal the identical batch join.
    """
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") <= 10)
    clicks_dir, buys_dir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    ev.filter(F.col("event_type") == "click").write.mode("overwrite").parquet(clicks_dir)
    ev.filter(F.col("event_type") == "purchase").write.mode("overwrite").parquet(buys_dir)

    schema = spark.read.parquet(clicks_dir).schema

    def _stream(d, alias):
        return (
            spark.readStream.schema(schema)
            .parquet(d)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
                F.col("event_id").alias(f"{alias}_id"),
            )
            .withWatermark(f"{alias}_ts", "2 hours")
        )

    joined = _stream(clicks_dir, "c").join(
        _stream(buys_dir, "b"),
        F.expr(
            "c_user = b_user AND c_ts >= b_ts - INTERVAL 1 HOUR AND c_ts <= b_ts"
        ),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream-stream join did not finish in time"
    got = {
        (r["c_id"], r["b_id"]) for r in spark.table("ss_join").collect()
    }

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"), F.col("event_id").alias("b_id")
    )
    want = {
        (r["c_id"], r["b_id"])
        for r in c.join(
            b, F.expr("c_user = b_user AND c_ts >= b_ts - INTERVAL 1 HOUR AND c_ts <= b_ts")
        ).collect()
    }
    assert want, "interval-join twin is vacuous — widen the interval"
    assert got == want


def test_foreach_batch_upsert_merges_stream_into_snapshot(spark, sf_dir, tmp_path):
    """foreachBatch CDC: replaying events (with 20% of rows modified)
    over an existing snapshot must update those rows and insert nothing
    new — merge semantics, not append."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") <= 10).select(
        "event_id", "event_type", "value"
    )
    snapshot = str(tmp_path / "snapshot")
    ev.write.mode("overwrite").parquet(snapshot)
    n_base = ev.count()

    changes = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", F.lit(-1.0)
    )
    src = str(tmp_path / "changes")
    changes.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(changes.schema).parquet(src)

    q = (
        pipeline.foreach_batch_upsert(stream, snapshot, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    merged = spark.read.parquet(snapshot)
    assert merged.count() == n_base, "upsert must not change row count"
    assert merged.filter(F.col("value") == -1.0).count() == changes.count()
    # idempotent replay: same checkpoint, no new work, snapshot unchanged
    q2 = (
        pipeline.foreach_batch_upsert(
            spark.readStream.schema(changes.schema).parquet(src),
            snapshot,
            str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(300)
    again = spark.read.parquet(snapshot)
    assert again.count() == n_base
    assert again.filter(F.col("value") == -1.0).count() == changes.count()


def test_mergeschema_reads_evolved_landing(spark, sf_dir, tmp_path):
    """Schema evolution at the landing zone: a later batch adds a column;
    mergeSchema reads both generations, old rows NULL-filled."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") <= 10).select(
        "event_id", "event_type", "value"
    )
    landed = str(tmp_path / "landed")
    gen1 = ev.filter(F.col("event_id") % 2 == 0)
    gen2 = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "schema_version", F.lit(2)
    )
    gen1.write.mode("overwrite").parquet(landed + "/batch=1")
    gen2.write.mode("overwrite").parquet(landed + "/batch=2")

    wide = spark.read.option("mergeSchema", "true").parquet(landed)
    assert set(wide.columns) >= {"event_id", "event_type", "value", "schema_version"}
    assert wide.count() == ev.count()
    assert wide.filter(F.col("schema_version").isNull()).count() == gen1.count()
    assert wide.filter(F.col("schema_version") == 2).count() == gen2.count()


def test_foreach_batch_upsert_dedups_batch_and_drops_null_keys(spark, sf_dir, tmp_path):
    """MERGE must not fan out on duplicate keys within one batch, and
    NULL-key rows (no merge identity) are dropped."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") <= 10).select(
        "event_id", "event_type", "value"
    )
    snapshot = str(tmp_path / "snapshot")
    ev.write.mode("overwrite").parquet(snapshot)
    n_base = ev.count()

    changes = ev.filter(F.col("event_id") % 5 == 0).withColumn("value", F.lit(-1.0))
    dirty = changes.unionAll(changes).unionAll(  # duplicate every change row
        changes.limit(3).withColumn("event_id", F.lit(None).cast("bigint"))
    )
    src = str(tmp_path / "changes")
    dirty.write.mode("overwrite").parquet(src)

    q = (
        pipeline.foreach_batch_upsert(
            spark.readStream.schema(dirty.schema).parquet(src),
            snapshot,
            str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    merged = spark.read.parquet(snapshot)
    assert merged.count() == n_base, "dup keys in batch must not fan out"
    assert merged.filter(F.col("event_id").isNull()).count() == 0
    assert merged.filter(F.col("value") == -1.0).count() == changes.count()


def test_stream_static_broadcast_enrichment(spark, sf_dir, tmp_path):
    """Stream-static join: each micro-batch enriches against a static
    (broadcastable) dimension with no stateful shuffle — the streaming
    twin of J1. Result must equal the batch join."""
    t = Tables(spark, sf_dir)
    events = t.events.filter(F.col("user_id") <= 10)
    src = str(tmp_path / "events_parquet")
    events.coalesce(1).write.mode("overwrite").parquet(src)

    # static dim: users -> nation names (synthetic mapping via modulo)
    dim = t.nation.select(
        F.col("n_nationkey").cast("bigint").alias("user_mod"), "n_name"
    )
    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = stream.withColumn("user_mod", F.col("user_id") % 25).join(
        F.broadcast(dim), "user_mod"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("stream_static")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("stream_static")
    want = events.withColumn("user_mod", F.col("user_id") % 25).join(
        F.broadcast(dim), "user_mod"
    )
    assert got.count() == want.count()
    assert got.filter(F.col("n_name").isNull()).count() == 0


def test_streaming_mv_merge_equals_batch_recompute(spark, sf_dir, tmp_path):
    """Fold orders through the streaming MV maintainer one file-batch at
    a time; the standing snapshot must equal a from-scratch groupBy
    (exact decimal sums), and a replayed batch_id must be a no-op."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.streaming.pipeline import (
        foreach_batch_mv_merge,
        merge_partial_aggregates,
    )

    orders = Tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = str(tmp_path / "src")
    orders.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches
    mv = str(tmp_path / "mv")
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        foreach_batch_mv_merge(stream, mv, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def _as_dict(df):
        return {
            r["o_orderstatus"]: (r["n_rows"], r["sum_val"]) for r in df.collect()
        }

    got = _as_dict(spark.read.parquet(mv).select("o_orderstatus", "n_rows", "sum_val"))
    want = _as_dict(
        orders.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(38,8)")).alias("sum_val"),
        )
    )
    assert got == want  # exact, including Decimal sums

    # replaying an already-applied batch_id must not double-count
    merge_partial_aggregates(orders, mv, batch_id=0)
    assert _as_dict(
        spark.read.parquet(mv).select("o_orderstatus", "n_rows", "sum_val")
    ) == want


def test_streaming_zscore_equals_batch_replay(spark, sf_dir):
    """The streamed prequential z-score must equal the single-process
    imperative replay exactly — same pure function, same per-key order,
    state carried across Arrow chunks without loss."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        zscore_batch_replay,
    )

    got = {
        r["event_id"]: (r["zscore"], r["is_anomaly"])
        for r in load_all()["streaming_zscore_anomaly"].fn(spark, sf_dir).collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.select("event_type", "event_id", "ts", "value")
        .toPandas()
    )
    want_pdf = zscore_batch_replay(events_pdf)
    want = {
        int(r.event_id): (
            None if pd.isna(r.zscore) else float(r.zscore),
            r.is_anomaly,
        )
        for r in want_pdf.itertuples(index=False)
    }
    assert len(got) == len(want) > 0
    n_anom = 0
    for eid, (z, flag) in want.items():
        gz, gflag = got[eid]
        assert gflag == flag
        n_anom += flag == "Y"
        if z is None:
            assert gz is None or pd.isna(gz)
        else:
            assert gz == z, (eid, gz, z)  # bit-exact: identical fold order
    assert n_anom > 0  # the detector actually fires on the test data


def test_stream_stream_left_outer_join_emits_nulls(spark, sf_dir, tmp_path):
    """W-join (outer): watermarked stream-stream LEFT OUTER join.

    Outer results are the hard part of streaming joins: an unmatched
    click may only emit its null-padded row once the watermark proves
    no future purchase can match it. A future-dated flush row (written
    as a SECOND file, with maxFilesPerTrigger=1 forcing it into a later
    micro-batch) pushes the watermark past every real row, so the
    streaming result must equal the batch left-outer twin exactly —
    including the null-padded rows.
    """
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") <= 10)
    clicks_dir, buys_dir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    clicks.coalesce(1).write.mode("overwrite").parquet(clicks_dir)
    buys.coalesce(1).write.mode("overwrite").parquet(buys_dir)

    max_ts = ev.agg(F.max("ts")).first()[0]
    flush = spark.createDataFrame(
        [(-1, max_ts, -1, "flush", 0.0, "{}")],
        schema=spark.read.parquet(clicks_dir).schema,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
    flush.coalesce(1).write.mode("append").parquet(clicks_dir)
    flush.coalesce(1).write.mode("append").parquet(buys_dir)

    schema = spark.read.parquet(clicks_dir).schema

    def _stream(d, alias):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
                F.col("event_id").alias(f"{alias}_id"),
            )
            .withWatermark(f"{alias}_ts", "2 hours")
        )

    cond = "c_user = b_user AND b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 1 HOUR"
    joined = _stream(clicks_dir, "c").join(
        _stream(buys_dir, "b"), F.expr(cond), "left_outer"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_left_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream-stream left join did not finish"
    got = {
        (r["c_id"], r["b_id"])
        for r in spark.table("ss_left_join").collect()
        if r["c_id"] >= 0  # drop the flush row's own (pending) output
    }

    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    b = buys.select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"), F.col("event_id").alias("b_id")
    )
    want = {
        (r["c_id"], r["b_id"])
        for r in c.join(b, F.expr(cond), "left_outer").collect()
    }
    assert any(bid is None for _, bid in want), "outer twin is vacuous"
    assert got == want


def test_stream_stream_full_outer_join_emits_both_sides(spark, sf_dir, tmp_path):
    """W-join (full outer): watermarked stream-stream FULL OUTER join.

    Completes the outer-join family: unmatched rows on EITHER side must
    emit null-padded once the watermark passes them. Same flush-row
    technique as the left-outer test; the streaming result must equal
    the batch full-outer twin exactly, including null-padded rows from
    both inputs.
    """
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") <= 10)
    clicks_dir, buys_dir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    clicks.coalesce(1).write.mode("overwrite").parquet(clicks_dir)
    buys.coalesce(1).write.mode("overwrite").parquet(buys_dir)

    max_ts = ev.agg(F.max("ts")).first()[0]
    flush = spark.createDataFrame(
        [(-1, max_ts, -1, "flush", 0.0, "{}")],
        schema=spark.read.parquet(clicks_dir).schema,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
    flush.coalesce(1).write.mode("append").parquet(clicks_dir)
    flush.coalesce(1).write.mode("append").parquet(buys_dir)

    schema = spark.read.parquet(clicks_dir).schema

    def _stream(d, alias):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
                F.col("event_id").alias(f"{alias}_id"),
            )
            .withWatermark(f"{alias}_ts", "2 hours")
        )

    cond = "c_user = b_user AND b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 1 HOUR"
    joined = _stream(clicks_dir, "c").join(
        _stream(buys_dir, "b"), F.expr(cond), "full_outer"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_full_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream-stream full join did not finish"

    def _real(cid, bid):
        return (cid is None or cid >= 0) and (bid is None or bid >= 0)

    got = {
        (r["c_id"], r["b_id"])
        for r in spark.table("ss_full_join").collect()
        if _real(r["c_id"], r["b_id"])
    }

    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    b = buys.select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"), F.col("event_id").alias("b_id")
    )
    want = {
        (r["c_id"], r["b_id"])
        for r in c.join(b, F.expr(cond), "full_outer").collect()
    }
    assert any(bid is None for _, bid in want), "left-unmatched side vacuous"
    assert any(cid is None for cid, _ in want), "right-unmatched side vacuous"
    assert got == want


def test_streaming_alert_debounce_equals_batch(spark, sf_dir):
    """The one-bit-state streaming debouncer must emit EXACTLY the edge
    set of the batch lag-window query — same rows, same labels."""
    from severless_data_pipeline_aws_spark.operators.windows import (
        _DEBOUNCE_HI,
        window_alert_debounce,
    )
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming import stateful

    assert stateful.EDGE_THRESHOLD == _DEBOUNCE_HI  # twin contract

    got_df = load_all()["streaming_alert_debounce"].fn(spark, sf_dir)
    got = {
        (r["user_id"], r["event_id"], r["edge"]) for r in got_df.collect()
    }
    want = {
        (r["user_id"], r["event_id"], r["edge"])
        for r in window_alert_debounce(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
    assert {e for (_, _, e) in want} == {"raised", "cleared"}


def test_streaming_rate_limit_equals_batch_replay(spark, sf_dir):
    """The streamed token-bucket decisions must equal the imperative
    replay exactly (all-integer state), and both allow and throttle
    must actually occur so the limiter is non-vacuous."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        rate_limit_batch_replay,
    )

    got = {
        r["event_id"]: (r["decision"], r["tokens_after"])
        for r in load_all()["streaming_rate_limit_tokens"].fn(spark, sf_dir).collect()
    }
    events_pdf = (
        Tables(spark, sf_dir).events.select("event_type", "event_id", "ts").toPandas()
    )
    want_pdf = rate_limit_batch_replay(events_pdf)
    want = {
        int(r.event_id): (r.decision, float(r.tokens_after))
        for r in want_pdf.itertuples(index=False)
    }
    assert len(got) == len(want) > 0
    decisions = set()
    for eid, (dec, tok) in want.items():
        gdec, gtok = got[eid]
        assert gdec == dec, (eid, gdec, dec)
        assert gtok == tok, (eid, gtok, tok)  # bit-exact: integer state
        decisions.add(dec)
    assert decisions == {"allow", "throttle"}


def test_streaming_holt_equals_batch_replay(spark, sf_dir):
    """The streamed Holt smoother must equal the single-process replay
    bit-exactly: same pure function, same per-key order, (level, trend)
    carried across Arrow chunks without loss."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        holt_batch_replay,
    )

    got = {
        r["event_id"]: (r["forecast"], r["level"], r["trend"])
        for r in load_all()["streaming_holt_forecast"].fn(spark, sf_dir).collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.select("event_type", "event_id", "ts", "value")
        .toPandas()
    )
    want_pdf = holt_batch_replay(events_pdf)
    assert len(got) == len(want_pdf) > 0
    for r in want_pdf.itertuples(index=False):
        gf, gl, gt = got[int(r.event_id)]
        if pd.isna(r.forecast):
            assert gf is None or pd.isna(gf)
        else:
            assert gf == float(r.forecast)
        assert gl == float(r.level) and gt == float(r.trend)


def test_streaming_session_timeout_equals_batch_sessions(spark, sf_dir):
    """W4g: timeout-emitted streaming sessions must equal the batch
    lag + running-sum sessionization EXACTLY — same gap rule, same
    micro-precision boundaries — proving (a) sessions emit when the
    watermark passes end + gap, not at query end, and (b) the phased
    replay genuinely advances the watermark between micro-batches."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in load_all()["streaming_session_emit_on_timeout"]
        .fn(spark, sf_dir)
        .collect()
    }

    ev = Tables(spark, sf_dir).events.select("user_id", "event_id", "ts")
    wkey = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn(
        "new_session",
        F.expr(
            "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
            " IS NULL OR (unix_micros(ts) - unix_micros("
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))"
            " > 1800000000 THEN 1 ELSE 0 END"
        ),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("new_session").over(wkey.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_keyed_wire_roundtrip_exactly_once(spark, sf_dir, tmp_path):
    """S6 end-to-end over the wire FORMAT: produce the keyed JSON wire
    layout (write_keyed_wire — the put_records payload contract:
    dir-per-key shards, JSON-lines records), consume it back through
    the ingest path (json_wire_stream -> land_parquet with checkpoint),
    and prove (a) every record round-trips value-exact, (b) the shard
    layout is one directory per key, (c) a re-run against the same
    checkpoint lands nothing new (exactly-once)."""
    from severless_data_pipeline_aws_spark.sources import sinks

    src = tmp_path / "wire_shards"
    df = Tables(spark, sf_dir).events.filter(F.col("user_id") <= 10)
    sinks.write_keyed_wire(df, str(src), key="event_type")

    # (b) one shard directory per key
    shard_dirs = {p.name for p in src.iterdir() if p.name.startswith("__shard=")}
    keys = {r["event_type"] for r in df.select("event_type").distinct().collect()}
    assert shard_dirs == {f"__shard={k}" for k in keys}

    stream = pipeline.json_wire_stream(spark, str(src) + "/*/")
    q = (
        pipeline.land_parquet(stream, str(tmp_path / "landed"), str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    landed = spark.read.parquet(str(tmp_path / "landed"))
    want = sorted(map(tuple, df.select(*sorted(df.columns)).collect()))
    got = sorted(map(tuple, landed.select(*sorted(df.columns)).collect()))
    assert got == want  # (a) value-exact round trip

    # (c) exactly-once on replay
    q2 = (
        pipeline.land_parquet(
            pipeline.json_wire_stream(spark, str(src) + "/*/"),
            str(tmp_path / "landed"),
            str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "landed")).count() == df.count()


def test_socket_wire_ingest(spark, sf_dir, tmp_path):
    """S6 over a REAL wire: a TCP server replays JSON event records;
    socket_wire_stream consumes and schema-projects them. Closes the
    keyed-wire-transport gap as far as the sandbox allows (no broker
    ships here): the bytes genuinely cross a socket."""
    import json as _json
    import socket
    import threading

    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-0{1 + i % 5} 12:00:{i:02d}",
            "user_id": i % 3,
            "event_type": "click" if i % 2 else "view",
            "value": float(i) / 2,
            "props": None,
        }
        for i in range(20)
    ]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        payload = "".join(_json.dumps(r) + "\n" for r in rows)
        conn.sendall(payload.encode())
        # keep the connection open until the query stops reading
        try:
            conn.recv(1)
        except OSError:
            pass
        conn.close()

    th = threading.Thread(target=serve, daemon=True)
    th.start()

    stream = pipeline.socket_wire_stream(spark, "127.0.0.1", port)
    q = (
        stream.writeStream.format("memory")
        .queryName("socket_wire")
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("socket_wire").count() >= len(rows):
                break
            time.sleep(0.5)
        got = {
            (r["event_id"], r["user_id"], r["event_type"], r["value"])
            for r in spark.table("socket_wire").collect()
        }
    finally:
        q.stop()
        srv.close()
    want = {(r["event_id"], r["user_id"], r["event_type"], r["value"]) for r in rows}
    assert got == want


def test_streaming_page_hinkley_equals_batch_replay(spark, sf_dir):
    """The streamed online Page-Hinkley walk must equal the
    single-process imperative replay bit-for-bit — same pure step
    function, same per-key order, 4-scalar state carried across Arrow
    chunks without loss — and the statistic must be non-negative by
    construction (m - running min m)."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        page_hinkley_batch_replay,
    )

    got = {
        r["event_id"]: (r["ph_stat"], r["alarm"])
        for r in load_all()["streaming_page_hinkley"].fn(spark, sf_dir).collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "ts", "value")
        .toPandas()
    )
    want_pdf = page_hinkley_batch_replay(events_pdf)
    want = {
        int(r.event_id): (float(r.ph_stat), r.alarm)
        for r in want_pdf.itertuples(index=False)
    }
    assert len(got) == len(want) > 0
    assert got == want
    assert all(ph >= 0.0 for ph, _ in got.values())


def test_streaming_running_extrema_equals_batch_replay(spark, sf_dir):
    """The streamed online min-max normalizer must equal the
    single-process imperative replay bit-for-bit — same pure step
    function, same per-key order, 2-scalar state carried across Arrow
    chunks — and the position must lie in [0, 1] with the running
    extrema monotone by construction."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        running_extrema_batch_replay,
    )

    got = {
        r["event_id"]: (r["running_min"], r["running_max"], r["pos_in_range"])
        for r in load_all()["streaming_running_extrema"].fn(spark, sf_dir).collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "ts", "value")
        .toPandas()
    )
    want_pdf = running_extrema_batch_replay(events_pdf)
    want = {
        int(r.event_id): (
            float(r.running_min),
            float(r.running_max),
            float(r.pos_in_range),
        )
        for r in want_pdf.itertuples(index=False)
    }
    assert len(got) == len(want) > 0
    assert got == want
    assert all(0.0 <= p <= 1.0 for _, _, p in got.values())
    assert all(mn <= mx for mn, mx, _ in got.values())


def test_streaming_online_slope_equals_batch_replay(spark, sf_dir):
    """The streamed online regression slope must equal the single-
    process imperative replay bit-for-bit — same pure step function,
    same per-key order, 3-scalar state carried across Arrow chunks —
    and the emitted n must count each key's events 1..n_k with slope
    NULL exactly at n = 1."""
    import math

    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        online_slope_batch_replay,
    )

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return float(v)

    got = {
        r["event_id"]: (int(r["n"]), canon(r["slope"]))
        for r in load_all()["streaming_online_regression_slope"]
        .fn(spark, sf_dir)
        .collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "ts", "value")
        .toPandas()
    )
    want_pdf = online_slope_batch_replay(events_pdf)
    want = {
        int(r.event_id): (int(r.n), canon(r.slope))
        for r in want_pdf.itertuples(index=False)
    }
    assert len(got) == len(want) > 0
    assert got == want
    assert all(s is None for n, s in got.values() if n == 1)
    assert all(s is not None for n, s in got.values() if n >= 2)


def test_streaming_misra_gries_equals_batch_replay(spark, sf_dir):
    """The streamed Misra-Gries counters must equal the single-process
    replay exactly — same pure fold, same per-shard order, JSON state
    carried across Arrow chunks without loss. In the registered
    capacity-16 regime the final snapshot is also the exact count."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        mg_batch_replay,
    )

    got = {
        (r["event_type"]): (r["n_shards"], r["n"])
        for r in load_all()["streaming_misra_gries_heavy_hitters"]
        .fn(spark, sf_dir)
        .collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.selectExpr(
            "pmod(user_id, 16) AS shard", "event_type", "ts", "event_id"
        )
        .toPandas()
    )
    want_pdf = mg_batch_replay(events_pdf)
    want = (
        want_pdf.groupby("event_type")
        .agg(n_shards=("shard", "nunique"), n=("cnt", "sum"))
        .to_dict("index")
    )
    assert len(got) == len(want) > 0
    for t, row in want.items():
        assert got[t] == (row["n_shards"], row["n"]), (t, got[t], row)


def test_misra_gries_decrement_path_and_bound():
    """Capacity 2 over 3 keys forces the all-decrement branch: the fold
    must stay deterministic and every surviving counter must satisfy
    the MG guarantee true_count - n/(k+1) <= est <= true_count."""
    import pandas as pd

    from severless_data_pipeline_aws_spark.streaming.stateful import mg_steps

    seq = (["a"] * 7) + (["b"] * 5) + (["c"] * 3) + (["a"] * 2)
    pdf = pd.DataFrame(
        {
            "shard": [0] * len(seq),
            "event_type": seq,
            "ts": range(len(seq)),
            "event_id": range(len(seq)),
        }
    )
    out, state_json = mg_steps(None, pdf, k=2)
    true = {"a": 9, "b": 5, "c": 3}
    n, k = len(seq), 2
    est = dict(zip(out["event_type"], out["cnt"]))
    assert est, "decrement run emptied the sketch entirely"
    for t, c in est.items():
        assert c <= true[t], (t, c)
        assert c >= true[t] - n / (k + 1), (t, c)
    # the dominant key must survive a decrement-heavy stream
    assert "a" in est
    # determinism: same input, same snapshot and state
    out2, state2 = mg_steps(None, pdf.sample(frac=1.0, random_state=7), k=2)
    assert state2 == state_json and list(out2["cnt"]) != [] and (
        sorted(zip(out2["event_type"], out2["cnt"]))
        == sorted(zip(out["event_type"], out["cnt"]))
    )


def test_streaming_kmv_equals_batch_replay(spark, sf_dir):
    """The streamed KMV sketch must equal the single-process replay —
    keep-k-smallest is a semilattice merge, so the final snapshot is
    independent of batching; this test pins that the Arrow/JSON state
    round-trip preserves it (k, kth hash, and therefore the estimate)."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        kmv_batch_replay,
    )

    got = {
        r["event_type"]: (r["k"], r["kth_hash"])
        for r in load_all()["streaming_kmv_distinct_per_type"]
        .fn(spark, sf_dir)
        .collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.select("event_type", F.xxhash64("user_id").alias("h"))
        .toPandas()
    )
    want_pdf = kmv_batch_replay(events_pdf)
    want = {
        r.event_type: (int(r.k), r.kth_u)
        for r in want_pdf.itertuples(index=False)
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_streaming_countmin_equals_batch_replay(spark, sf_dir):
    """The streamed Count-Min matrix must equal the single-process
    replay cell-for-cell — counter sums commute across batches, and the
    final matrix must also equal a plain Spark GROUP BY over the same
    bucket exprs (the sketch IS exact per cell)."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all  # noqa: F401
    from severless_data_pipeline_aws_spark.streaming import stateful
    from severless_data_pipeline_aws_spark.streaming.queries import (
        _replay_events_stream,
        _run_to_memory,
    )

    bucket_exprs = [
        F.expr(
            f"CAST(pmod(xxhash64(user_id, CAST({d} AS BIGINT)), 32) AS BIGINT)"
        ).alias(f"b{d}")
        for d in range(1, 5)
    ]
    stream = _replay_events_stream(spark, sf_dir).select("event_type", *bucket_exprs)
    snaps = _run_to_memory(stateful.cm_walk(stream), "append")
    got = {
        (r["event_type"], r["d"], r["bucket"]): r["cnt"]
        for r in snaps.groupBy("event_type", "d", "bucket")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }
    events_pdf = (
        Tables(spark, sf_dir).events.select("event_type", *bucket_exprs).toPandas()
    )
    want_pdf = stateful.cm_batch_replay(events_pdf)
    final = (
        want_pdf.groupby(["event_type", "d", "bucket"])["cnt"].max().to_dict()
    )
    assert len(got) == len(final) > 0
    assert got == {k: int(v) for k, v in final.items()}
    # cell exactness: the sketch matrix equals a plain GROUP BY count
    plain = {
        (r["event_type"], r["d"], r["bucket"]): r["cnt"]
        for d in range(1, 5)
        for r in Tables(spark, sf_dir)
        .events.select(
            "event_type",
            F.lit(d).cast("bigint").alias("d"),
            F.expr(
                f"CAST(pmod(xxhash64(user_id, CAST({d} AS BIGINT)), 32) AS BIGINT)"
            ).alias("bucket"),
        )
        .groupBy("event_type", "d", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .collect()
    }
    assert got == plain


def test_streaming_hll_equals_batch_replay(spark, sf_dir):
    """The streamed HLL registers must equal the single-process replay
    cell-for-cell (MAX is a semilattice merge), and the final matrix
    must equal a plain Spark GROUP BY MAX over the same bucket/rank
    exprs — register-level exactness, not an estimate bound."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.streaming import stateful
    from severless_data_pipeline_aws_spark.streaming.queries import (
        _HLL_BUCKET,
        _HLL_RHO,
        _replay_events_stream,
        _run_to_memory,
    )

    stream = _replay_events_stream(spark, sf_dir).selectExpr(
        "event_type", f"{_HLL_BUCKET} AS bucket", f"{_HLL_RHO} AS rho"
    )
    snaps = _run_to_memory(stateful.hll_walk(stream), "append")
    got = {
        (r["event_type"], r["bucket"]): r["m"]
        for r in snaps.groupBy("event_type", "bucket")
        .agg(F.max("m").alias("m"))
        .collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.selectExpr(
            "event_type", f"{_HLL_BUCKET} AS bucket", f"{_HLL_RHO} AS rho"
        )
        .toPandas()
    )
    want_pdf = stateful.hll_batch_replay(events_pdf)
    want = (
        want_pdf.groupby(["event_type", "bucket"])["m"].max().to_dict()
    )
    assert len(got) == len(want) > 0
    assert got == {k: int(v) for k, v in want.items()}
    plain = {
        (r["event_type"], r["bucket"]): r["m"]
        for r in Tables(spark, sf_dir)
        .events.selectExpr(
            "event_type", f"{_HLL_BUCKET} AS bucket", f"{_HLL_RHO} AS rho"
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").cast("bigint").alias("m"))
        .collect()
    }
    assert got == plain


def test_streaming_dedup_equals_batch_replay(spark, sf_dir):
    """The streamed keep-first dedup must equal both the imperative
    single-process replay AND the batch keep-first window operator
    (dedup_exact_keep_first) row-for-row — MIN-fold state is a
    semilattice merge, so the survivor set cannot depend on batching."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.operators.dedup import (
        duplicated_corpus,
    )
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        dedup_batch_replay,
    )

    specs = load_all()
    got = {
        r["doc_id"]
        for r in specs["streaming_dedup_exact_keep_first"]
        .fn(spark, sf_dir)
        .collect()
    }
    batch = {
        r["doc_id"]
        for r in specs["dedup_exact_keep_first"].fn(spark, sf_dir).collect()
    }
    assert got == batch and len(got) > 0
    corpus_pdf = (
        duplicated_corpus(Tables(spark, sf_dir))
        .selectExpr("sha2(text, 256) AS h", "doc_id")
        .toPandas()
    )
    replay = dedup_batch_replay(corpus_pdf)
    assert set(replay["min_doc_id"]) == got
    # duplicate multiplicities must be preserved by the fold
    assert replay["n_seen"].sum() == len(corpus_pdf)


def test_dedup_steps_semilattice_order_invariance():
    """The per-key fold must land on the same final state for ANY
    batching and ANY within/between-batch order — the property that
    makes the streamed survivor deterministic under shard races."""
    import pandas as pd

    from severless_data_pipeline_aws_spark.streaming.stateful import (
        dedup_steps,
    )

    ids = [42, 7, 99, 7, 13, 42, 5]
    final_states = set()
    splits = [
        [ids],                      # one batch
        [ids[:3], ids[3:]],         # two batches
        [[i] for i in ids],         # one row per batch
        [list(reversed(ids))],      # reversed order
        [ids[4:], ids[:4]],         # batches swapped
    ]
    for batches in splits:
        st = None
        for b in batches:
            _, st = dedup_steps(st, pd.DataFrame({"h": ["k"] * len(b), "doc_id": b}))
        final_states.add((st[1], st[2]))  # (min_doc_id, n_seen)
    assert final_states == {(5, len(ids))}


def test_drop_duplicates_within_watermark_firstarrival(spark, sf_dir):
    """Pin Spark's built-in dropDuplicatesWithinWatermark — the
    TTL-state production variant of op #14 (state expires once the
    watermark passes, bounding memory on unbounded streams). With a
    delay wider than the replay's event-time span no state expires, so
    the emitted count must equal the exact distinct key count; the
    custom MIN-fold op remains the exact-survivor variant."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.streaming.queries import (
        _replay_events_stream,
        _run_to_memory,
    )

    stream = (
        _replay_events_stream(spark, sf_dir)
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    got = _run_to_memory(stream, "append").count()
    want = Tables(spark, sf_dir).events.select("user_id").distinct().count()
    assert got == want > 0


def test_streaming_bloom_equals_batch_replay_and_plain_or(spark, sf_dir):
    """The streamed 256-bit Bloom filter must equal both the
    imperative replay and a plain Spark bit_or aggregate word-for-word
    — OR-state is a semilattice merge, so batching cannot change it."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        bloom_batch_replay,
    )

    got = {
        r["event_type"]: (r["w0"], r["w1"], r["w2"], r["w3"])
        for r in load_all()["streaming_bloom_filter_membership"]
        .fn(spark, sf_dir)
        .collect()
    }
    prep = Tables(spark, sf_dir).events.selectExpr(
        "event_type",
        "CAST(pmod(xxhash64(user_id), 256) DIV 64 AS INT) AS wi1",
        "shiftleft(CAST(1 AS BIGINT),"
        " CAST(pmod(xxhash64(user_id), 256) % 64 AS INT)) AS m1",
        "CAST(pmod(xxhash64(user_id, CAST(1 AS BIGINT)), 256) DIV 64 AS INT)"
        " AS wi2",
        "shiftleft(CAST(1 AS BIGINT),"
        " CAST(pmod(xxhash64(user_id, CAST(1 AS BIGINT)), 256) % 64 AS INT))"
        " AS m2",
    )
    replay = bloom_batch_replay(prep.toPandas())
    want = {
        r.event_type: (int(r.w0), int(r.w1), int(r.w2), int(r.w3))
        for r in replay.itertuples(index=False)
    }
    assert got == want and len(got) > 0
    # word-level equality against a direct conditional bit_or aggregate
    direct = {
        r["event_type"]: (r["w0"], r["w1"], r["w2"], r["w3"])
        for r in prep.selectExpr(
            "event_type",
            "stack(2, wi1, m1, wi2, m2) AS (wi, m)",
        )
        .groupBy("event_type")
        .agg(
            *[
                F.expr(
                    f"bit_or(CASE WHEN wi = {j} THEN m ELSE CAST(0 AS BIGINT)"
                    " END)"
                ).alias(f"w{j}")
                for j in range(4)
            ]
        )
        .collect()
    }
    assert got == direct


def test_bloom_steps_semilattice_order_invariance():
    """OR-fold state must land on the same final filter under any
    batching and order — and must be idempotent under duplicates."""
    import pandas as pd

    from severless_data_pipeline_aws_spark.streaming.stateful import (
        bloom_steps,
    )

    rows = [(0, 1), (1, 1 << 62), (3, -9223372036854775808), (0, 6), (0, 1)]
    def run(order, splits):
        seq = [rows[i] for i in order]
        st = None
        chunks = [seq[a:b] for a, b in splits]
        for ch in chunks:
            if not ch:
                continue
            pdf = pd.DataFrame(
                {
                    "event_type": ["k"] * len(ch),
                    "wi1": [c[0] for c in ch],
                    "m1": [c[1] for c in ch],
                    "wi2": [c[0] for c in ch],
                    "m2": [c[1] for c in ch],
                }
            )
            _, st = bloom_steps(st, pdf)
        return st[1:]

    base = run(range(5), [(0, 5)])
    assert base == run([4, 3, 2, 1, 0], [(0, 2), (2, 5)])
    assert base == run([0, 1, 2, 3, 4, 4, 3], [(0, 7)]) == run(
        [2, 0, 1, 3, 4], [(0, 1), (1, 4), (4, 5)]
    )
    # the sign-bit word round-trips as two's complement
    assert base[3] == -9223372036854775808


def test_streaming_ams_equals_batch_replay_and_plain_sums(spark, sf_dir):
    """The streamed AMS counters must equal both the imperative replay
    and a plain Spark SUM of per-row signs counter-for-counter —
    integer addition is a commutative merge, so batching cannot change
    the sketch (op #16's contract)."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        ams_batch_replay,
    )

    cols = [f"x{j}" for j in range(8)]
    got = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in load_all()["streaming_ams_f2_moment"]
        .fn(spark, sf_dir)
        .collect()
    }
    prep = Tables(spark, sf_dir).events.selectExpr(
        "event_type",
        *[
            f"CAST(pmod(xxhash64(user_id, CAST({j} AS BIGINT)), 2) * 2 - 1"
            f" AS INT) AS s{j}"
            for j in range(8)
        ],
    )
    replay = ams_batch_replay(prep.toPandas())
    want = {
        r.event_type: tuple(int(getattr(r, c)) for c in cols)
        for r in replay.itertuples(index=False)
    }
    assert got == want and len(got) > 0
    direct = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in prep.groupBy("event_type")
        .agg(*[F.sum(f"s{j}").cast("bigint").alias(f"x{j}") for j in range(8)])
        .collect()
    }
    assert got == direct


def test_ams_steps_commutative_order_invariance():
    """The per-key counter fold must land on the same final state for
    ANY batching and ANY row order — additive state, the property that
    makes cross-shard merge = vector addition."""
    import pandas as pd

    from severless_data_pipeline_aws_spark.streaming.stateful import (
        ams_steps,
    )

    rows = [
        tuple(1 if (i * 7 + j) % 3 else -1 for j in range(8))
        for i in range(9)
    ]

    def run(order, cuts):
        st = None
        seq = [rows[i] for i in order]
        for lo, hi in cuts:
            ch = seq[lo:hi]
            if not ch:
                continue
            pdf = pd.DataFrame(
                {"event_type": ["k"] * len(ch),
                 **{f"s{j}": [r[j] for r in ch] for j in range(8)}}
            )
            _, st = ams_steps(st, pdf)
        return st[1:]

    base = run(range(9), [(0, 9)])
    assert base == run(list(reversed(range(9))), [(0, 4), (4, 9)])
    assert base == run([3, 1, 4, 0, 5, 2, 8, 6, 7], [(0, 1), (1, 6), (6, 9)])


def test_streaming_minhash_equals_batch_replay_and_plain_min(spark, sf_dir):
    """The streamed MinHash signature must equal both the imperative
    replay and a plain Spark per-slot MIN aggregate slot-for-slot —
    MIN is a semilattice merge, so batching cannot change the
    signature (op #17's contract)."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.operators.dedup import _shingles
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        MINHASH_SLOTS,
        minhash_batch_replay,
    )

    cols = [f"m{j}" for j in range(MINHASH_SLOTS)]
    # the registered query emits pair-grain rows; recompute the
    # per-source signature the same way it does (min over snapshots)
    from severless_data_pipeline_aws_spark.streaming.queries import (
        _replay_events_stream,
        _run_to_memory,
    )
    from severless_data_pipeline_aws_spark.streaming import stateful

    prep = (
        Tables(spark, sf_dir)
        .documents.select("source", F.explode(_shingles("text")).alias("sh"))
        .selectExpr(
            "source",
            *[f"xxhash64('s{j}', sh) AS h{j}" for j in range(MINHASH_SLOTS)],
        )
    )
    snaps = _run_to_memory(
        stateful.minhash_walk(_replay_events_stream(spark, sf_dir, df=prep)),
        "append",
    )
    got = {
        r["source"]: tuple(r[c] for c in cols)
        for r in snaps.groupBy("source")
        .agg(*[F.min(c).alias(c) for c in cols])
        .collect()
    }
    replay = minhash_batch_replay(prep.toPandas())
    want = {
        r.source: tuple(int(getattr(r, c)) for c in cols)
        for r in replay.itertuples(index=False)
    }
    assert got == want and len(got) > 0
    direct = {
        r["source"]: tuple(r[c] for c in cols)
        for r in prep.groupBy("source")
        .agg(
            *[
                F.min(f"h{j}").cast("bigint").alias(f"m{j}")
                for j in range(MINHASH_SLOTS)
            ]
        )
        .collect()
    }
    assert got == direct
    # and the registered pair query runs on these signatures
    rows = load_all()["streaming_minhash_source_signature"].fn(spark, sf_dir).collect()
    assert rows and all(0 <= r.n_slot_matches <= MINHASH_SLOTS for r in rows)


def test_minhash_steps_idempotent_order_and_duplicate_invariance():
    """MIN state is an IDEMPOTENT semilattice: any row order, any
    batching, and any DUPLICATE delivery must land on the same final
    signature — the property that makes at-least-once delivery
    sufficient (stronger than the AMS additive contract, which
    tolerates reordering but not duplicates)."""
    import pandas as pd

    from severless_data_pipeline_aws_spark.streaming.stateful import (
        MINHASH_SLOTS,
        minhash_steps,
    )

    rows = [
        tuple((i * 2654435761 + j * 40503) % 1000 - 500 for j in range(MINHASH_SLOTS))
        for i in range(9)
    ]

    def run(seq, cuts):
        st = None
        for lo, hi in cuts:
            ch = seq[lo:hi]
            if not ch:
                continue
            pdf = pd.DataFrame(
                {"source": ["s"] * len(ch),
                 **{f"h{j}": [r[j] for r in ch] for j in range(MINHASH_SLOTS)}}
            )
            _, st = minhash_steps(st, pdf)
        return st[1:]

    base = run(rows, [(0, 9)])
    assert run(rows[::-1], [(0, 3), (3, 9)]) == base
    assert run(rows[4:] + rows[:4], [(0, 1), (1, 5), (5, 9)]) == base
    # duplicate delivery: every row twice, interleaved
    assert run(rows + rows, [(0, 6), (6, 18)]) == base


def test_streaming_spacesaving_equals_batch_replay(spark, sf_dir):
    """The streamed SpaceSaving counters must equal the single-process
    replay exactly — same pure fold, same per-shard order, JSON state
    carried across Arrow chunks without loss. In the registered
    capacity-16 regime the final snapshot is also the exact count with
    zero error on every slot."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        ss_batch_replay,
    )

    got = {
        (r["event_type"]): (r["n_shards"], r["n"], r["max_err"])
        for r in load_all()["streaming_spacesaving_topk"]
        .fn(spark, sf_dir)
        .collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.selectExpr(
            "pmod(user_id, 16) AS shard", "event_type", "ts", "event_id"
        )
        .toPandas()
    )
    want_pdf = ss_batch_replay(events_pdf)
    assert int(want_pdf["err"].max()) == 0  # exact regime
    want = (
        want_pdf.groupby("event_type")
        .agg(n_shards=("shard", "nunique"), n=("cnt", "sum"))
        .to_dict("index")
    )
    assert len(got) == len(want) > 0
    for t, row in want.items():
        assert got[t] == (row["n_shards"], row["n"], 0), (t, got[t], row)


def test_spacesaving_eviction_path_and_certificate():
    """Capacity 2 over 3 keys forces the eviction branch: counts must
    OVERestimate (never under), the per-slot certificate
    cnt - err <= true <= cnt must hold for every tracked item, any item
    with true frequency > n/k must be tracked, and the fold must be
    deterministic under input reshuffle (ts/event_id re-sort)."""
    import pandas as pd

    from severless_data_pipeline_aws_spark.streaming.stateful import ss_steps

    seq = (["a"] * 7) + (["b"] * 5) + (["c"] * 3) + (["a"] * 2)
    pdf = pd.DataFrame(
        {
            "shard": [0] * len(seq),
            "event_type": seq,
            "ts": range(len(seq)),
            "event_id": range(len(seq)),
        }
    )
    out, state_json = ss_steps(None, pdf, k=2)
    true = {"a": 9, "b": 5, "c": 3}
    n, k = len(seq), 2
    assert len(out) == 2  # the sketch is full
    for t, c, e in zip(out["event_type"], out["cnt"], out["err"]):
        assert c >= true[t], (t, c)  # SpaceSaving overestimates
        assert c - e <= true[t] <= c, (t, c, e)  # the certificate
        assert e <= n / k
    # every item above the n/k frequency threshold is tracked
    tracked = set(out["event_type"])
    for t, f in true.items():
        if f > n / k:
            assert t in tracked, (t, f)
    # determinism: same multiset re-shuffled -> same snapshot and state
    out2, state2 = ss_steps(None, pdf.sample(frac=1.0, random_state=7), k=2)
    assert state2 == state_json
    assert sorted(zip(out2["event_type"], out2["cnt"], out2["err"])) == sorted(
        zip(out["event_type"], out["cnt"], out["err"])
    )


def test_spacesaving_exact_regime_matches_misra_gries():
    """With capacity >= |distinct keys| neither sketch ever takes its
    lossy branch, so SpaceSaving counts == Misra-Gries counts == exact
    frequencies, with every SpaceSaving err = 0."""
    import pandas as pd

    from severless_data_pipeline_aws_spark.streaming.stateful import (
        mg_steps,
        ss_steps,
    )

    seq = ["x", "y", "x", "z", "x", "y"]
    pdf = pd.DataFrame(
        {
            "shard": [0] * len(seq),
            "event_type": seq,
            "ts": range(len(seq)),
            "event_id": range(len(seq)),
        }
    )
    ss_out, _ = ss_steps(None, pdf, k=8)
    mg_out, _ = mg_steps(None, pdf, k=8)
    assert list(ss_out["err"]) == [0, 0, 0]
    assert sorted(zip(ss_out["event_type"], ss_out["cnt"])) == sorted(
        zip(mg_out["event_type"], mg_out["cnt"])
    ) == [("x", 3), ("y", 2), ("z", 1)]


def test_streaming_reservoir_equals_batch_replay(spark, sf_dir):
    """The streamed bottom-k reservoir must equal the single-process
    replay exactly — ranks, event_ids, and unsigned priorities."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.registry import load_all
    from severless_data_pipeline_aws_spark.streaming.stateful import (
        rsv_batch_replay,
    )

    got = {
        (r["event_type"], r["sample_rank"]): (r["event_id"], r["priority_u"])
        for r in load_all()["streaming_reservoir_bottomk_sample"]
        .fn(spark, sf_dir)
        .collect()
    }
    events_pdf = (
        Tables(spark, sf_dir)
        .events.selectExpr(
            "event_type", "event_id", "xxhash64(event_id) AS h"
        )
        .toPandas()
    )
    want_pdf = rsv_batch_replay(events_pdf)
    want = {
        (r.event_type, r.sample_rank): (r.event_id, r.priority_u)
        for r in want_pdf.itertuples()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_reservoir_steps_semilattice_order_and_duplicate_invariance():
    """The #17 contract for op #19: the bottom-k fold must be invariant
    to input order, rebatching, AND duplicate delivery — and the final
    sample must equal the direct bottom-k of the full multiset."""
    import json

    import pandas as pd

    from severless_data_pipeline_aws_spark.streaming.stateful import (
        _U64,
        rsv_steps,
    )

    rng_ids = [101, 7, 55, 23, 999, 42, 8, 311, 64, 5, 77, 13]
    hashes = [((i * 2654435761) % (1 << 63)) - (1 << 62) for i in rng_ids]

    def pdf_of(pairs):
        return pd.DataFrame(
            {
                "event_type": ["t"] * len(pairs),
                "event_id": [e for e, _ in pairs],
                "h": [h for _, h in pairs],
            }
        )

    pairs = list(zip(rng_ids, hashes))
    _, s_all = rsv_steps(None, pdf_of(pairs), k=4)

    def items(state_json):
        return json.loads(state_json)["items"]

    # rebatched in two chunks, reversed order (the snap counter tracks
    # batch count, so only the ITEMS — the semilattice state — compare)
    _, s1 = rsv_steps(None, pdf_of(list(reversed(pairs[6:]))), k=4)
    _, s2 = rsv_steps(s1, pdf_of(list(reversed(pairs[:6]))), k=4)
    assert items(s2) == items(s_all)

    # duplicate delivery: every row twice, plus the first chunk again
    _, s3 = rsv_steps(None, pdf_of(pairs + pairs), k=4)
    _, s4 = rsv_steps(s3, pdf_of(pairs[:6]), k=4)
    assert items(s4) == items(s_all)

    # the state IS the direct bottom-4 of the multiset
    want = sorted(
        {(h, e) for e, h in pairs}, key=lambda he: (he[0] & _U64, he[1])
    )[:4]
    assert json.loads(s_all)["items"] == [list(p) for p in want]


def test_replay_timeout_survives_a_failing_stop():
    """A replay that does not drain raises the drain timeout, even when
    stopping the stream fails too (the stop error is only its cause),
    and the stream's session conf is never written."""
    from severless_data_pipeline_aws_spark.streaming.queries import (
        _run_to_memory,
    )

    class Query:
        def awaitTermination(self, timeout):
            return False

        def stop(self):
            raise TimeoutError("stop timed out")

    class Writer:
        def __getattr__(self, name):
            return lambda *args, **kwargs: Query() if name == "start" else self

    writes = []

    class Conf(dict):
        def set(self, key, value):
            writes.append((key, value))

    class Stream:
        writeStream = Writer()

        class sparkSession:
            conf = Conf({"spark.sql.shuffle.partitions": "4"})

    with pytest.raises(RuntimeError, match="did not drain") as info:
        _run_to_memory(Stream(), "append")
    assert isinstance(info.value.__cause__, TimeoutError)
    assert writes == []
