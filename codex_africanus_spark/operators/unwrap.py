"""Shared core of the salted integer-exact phase unwrap.

The r11 query `phase_unwrap_salted` (queries/msops.py) decomposes the
per-baseline sequential unwrap into per-(baseline, 30-day-bucket)
internal unwraps plus a bucket-summary stitch — exact because cumsum is
associative. r12 extracts that core here so the STREAMING twin
(streaming/unwrap.py) is built from the SAME projections: parity by
construction.

Everything is integer-exact (milliradian grid): the wrap corrector
compares integer deltas against ±3141, so there is no float rounding to
fork across engines or across batch/streaming.

Reference semantics anchor: numpy.unwrap over a per-baseline time
series (the reference uses phase unwrapping inside its gain solvers,
africanus/calibration/utils/); the relational form is ours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

WRAP_GRID = 6283   # 2π in milliradians (integer grid)
WRAP_HALF = 3141   # π threshold for the corrector
BUCKET_SECS = 2592000  # 30-day salt bucket


def phase_frame(vis: DataFrame) -> DataFrame:
    """(antenna1, antenna2, time, row_id, p_mrad, bucket) — the
    deterministic integer milliradian phase derived from the vis columns
    (the registered queries' shared projection) plus the salt bucket."""
    return vis.select(
        "antenna1", "antenna2", "time", "row_id",
        (
            (
                (F.round(F.col("u") * 10).cast("long") * 97
                 + F.round(F.col("vis_im") * 10).cast("long") * 131
                 + F.round(F.col("vis_re")).cast("long") * 211 + F.col("row_id"))
                % WRAP_GRID + WRAP_GRID
            ) % WRAP_GRID - WRAP_HALF
        ).alias("p_mrad"),
        F.expr(f"CAST(FLOOR(time / {BUCKET_SECS}) AS BIGINT)").alias("bucket"),
    )


def wrap_correction(d: F.Column) -> F.Column:
    """Integer wrap corrector for a consecutive-sample delta: +1 full
    turn when the delta jumps below −π, −1 when above +π, else 0."""
    return (
        F.when(d > WRAP_HALF, F.lit(-1))
        .when(d < -WRAP_HALF, F.lit(1))
        .otherwise(F.lit(0))
    )


def bucket_summary(ph: DataFrame) -> DataFrame:
    """Per-(baseline, bucket) internal unwrap summary over `ph`
    (antenna1, antenna2, time, row_id, p_mrad, bucket): row count, net
    and total internal wraps, boundary phases, and the internally
    unwrapped last/min/max values (k = 0 at the bucket's first row).
    One fact shuffle on the SALTED (baseline, bucket) key — a hot
    baseline spreads over its buckets."""
    wb = W.partitionBy("antenna1", "antenna2", "bucket").orderBy(
        "time", "row_id", "p_mrad"
    )
    rows = (
        ph.withColumn("d", F.col("p_mrad") - F.lag("p_mrad").over(wb))
        .withColumn("c", wrap_correction(F.col("d")))
        .withColumn(
            "k_in",
            F.sum("c").over(wb.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .withColumn("unw_in", F.col("p_mrad") + WRAP_GRID * F.col("k_in"))
        .withColumn("rn", F.row_number().over(wb))
        .withColumn(
            "rn_d",
            F.row_number().over(
                W.partitionBy("antenna1", "antenna2", "bucket").orderBy(
                    F.col("time").desc(), F.col("row_id").desc(),
                    F.col("p_mrad").desc(),
                )
            ),
        )
    )
    return rows.groupBy("antenna1", "antenna2", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("net_in"),
        F.sum(F.abs(F.col("c"))).alias("abs_in"),
        F.max(F.when(F.col("rn") == 1, F.col("p_mrad"))).alias("first_p"),
        F.max(F.when(F.col("rn_d") == 1, F.col("p_mrad"))).alias("last_p"),
        F.max(F.when(F.col("rn_d") == 1, F.col("unw_in"))).alias("last_unw_in"),
        F.min("unw_in").alias("min_unw_in"),
        F.max("unw_in").alias("max_unw_in"),
    )


def stitch_buckets(summ: DataFrame) -> DataFrame:
    """Bucket-summary stitch: the boundary corrector between consecutive
    buckets (first row of bucket b vs last row of b−1 — the SAME
    consecutive-pair rule the internal window applies) and the running
    global offset each bucket's internal values must be shifted by."""
    ws = W.partitionBy("antenna1", "antenna2").orderBy("bucket")
    return (
        summ.withColumn("d", F.col("first_p") - F.lag("last_p").over(ws))
        .withColumn("c_b", wrap_correction(F.col("d")))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("net_in").over(ws.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            )
            + F.coalesce(
                F.sum("c_b").over(ws.rowsBetween(W.unboundedPreceding, 0)),
                F.lit(0),
            ),
        )
    )


def baseline_summary(stitched: DataFrame) -> DataFrame:
    """Collapse a stitched bucket frame to per-baseline totals — the
    exact shape the streaming carry needs (and the registered query's
    final aggregate, minus its column aliases): counts, net/total wraps
    including boundary correctors, the first/last raw phases of the
    span, and the globally-shifted last/min/max unwrapped values
    (k = 0 at the frame's first row)."""
    return stitched.groupBy("antenna1", "antenna2").agg(
        F.sum("n").alias("n_b"),
        (F.sum("net_in") + F.sum("c_b")).cast("long").alias("net_b"),
        (F.sum("abs_in") + F.sum(F.abs(F.col("c_b")))).cast("long")
        .alias("abs_b"),
        F.expr("min_by(first_p, bucket)").cast("long").alias("first_p"),
        F.expr("max_by(last_p, bucket)").cast("long").alias("last_p"),
        F.expr(f"max_by(last_unw_in + {WRAP_GRID} * offset, bucket)")
        .cast("long").alias("last_unw"),
        F.min(F.col("min_unw_in") + WRAP_GRID * F.col("offset")).cast("long")
        .alias("min_unw"),
        F.max(F.col("max_unw_in") + WRAP_GRID * F.col("offset")).cast("long")
        .alias("max_unw"),
    )
