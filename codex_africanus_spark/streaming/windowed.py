"""Structured Streaming surface (SURVEY §2.10).

The reference is batch-only; these plans are the additive streaming
mapping of its fixed `time_bin_secs` binning
(time_and_channel_mapping.py:275): event-time windows with a watermark.
BDA's data-dependent per-baseline bins run through
applyInPandasWithState instead (streaming/stateful.py).

Batch/stream parity: the aggregation expressions are the *same Columns*
as the batch queries (queries.events_sliding_window), so a backfill run
in batch mode and the live stream produce identical bins — the
Kappa-architecture property the reference cannot offer.

Tests exercise these with `Trigger.AvailableNow` over the events parquet
so the micro-batch path (state store, watermark bookkeeping) really runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codex_africanus_spark.functions.deterministic import qsum
from codex_africanus_spark.sources import tables


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (file source, one-file listing).

    The batch read (`sources.tables.load`) supplies the schema, with
    exact integer event time; convert to a proper timestamp column for
    watermarking.
    """
    schema = tables.load(spark, "events", sf_dir).schema
    # the file source requires a directory; glob-filter to the one table
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from codex_africanus_spark.sources.tpch_ms import events_ts_us

    return stream.withColumn(
        "event_time", F.timestamp_micros(events_ts_us(stream))
    )


def sliding_window_stats(stream: DataFrame, window: str = "1 hour",
                         slide: str = "30 minutes",
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked sliding (hopping) windows: each event contributes to
    window/slide overlapping windows — the streaming form of overlapped
    binning (the batch twin is queries.events_sliding_window, same
    Column expressions, Kappa parity)."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy("event_type", F.window("event_time", window, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (qsum(F.col("value"), 1e6) / F.lit(1e6)).alias("value_sum"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("window_start"),
            "n_events",
            "value_sum",
        )
    )


def stage_arrival_batches(
    ev: DataFrame,
    out_dir: str,
    jitter_us: int,
    batch_us: int,
) -> int:
    """Write one parquet file per ARRIVAL batch (mtime-ascending) so the
    file source + maxFilesPerTrigger=1 replays the arrival order one
    trigger per batch — the deterministic stand-in for a live source in
    the watermark twin tests. Test plumbing, driver-side by design: the
    production path is a real streaming source; only the REPLAY
    (operators/watermark.py) is the scale-path artifact. Returns the
    batch count."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from codex_africanus_spark.operators.watermark import arrival_batch_expr

    pdf = (
        ev.select(
            F.expr(arrival_batch_expr(jitter_us, batch_us)).alias("b"),
            "event_id",
            "ts_us",
            "value",
        )
        .toPandas()
        .sort_values(["b", "event_id"])
    )
    os.makedirs(out_dir, exist_ok=True)
    base = 1_000_000_000
    for i, (b, grp) in enumerate(pdf.groupby("b", sort=True)):
        path = os.path.join(out_dir, f"batch-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(
                grp[["event_id", "ts_us", "value"]], preserve_index=False
            ),
            path,
        )
        os.utime(path, (base + i, base + i))
    return pdf["b"].nunique()


def streaming_window_drop(
    spark: SparkSession,
    src_dir: str,
    checkpoint: str,
    delay_us: int,
    hour_us: int,
    name: str = "wm_window_drop",
):
    """The REAL `withWatermark` windowed aggregation over the staged
    arrival batches — Spark's own late-row filter and append-mode
    finalization do the dropping (no hand-rolled rule on this side).
    Returns (finalized DataFrame[hour_bin, n_events, val_c_sum],
    total numRowsDroppedByWatermark) after the availableNow run
    terminates. Must match operators/watermark.window_drop_replay's
    emitted subset bit-for-bit (tests/test_streaming_window_drop.py)."""
    stream = (
        spark.readStream.schema("event_id long, ts_us long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withColumn("et", F.timestamp_micros(F.col("ts_us")))
    )
    agg = (
        stream.withWatermark("et", f"{delay_us // 1_000_000} seconds")
        .groupBy(F.window("et", f"{hour_us // 1_000_000} seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("val_c_sum"),
        )
        .select(
            (F.expr("unix_micros(w.start)") / F.lit(hour_us))
            .cast("long")
            .alias("hour_bin"),
            "n_events",
            "val_c_sum",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        raise TimeoutError(f"streaming query {name} still running after 600s")
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
         if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    return spark.table(name), dropped
