"""Streaming twin of the salted phase-unwrap class (r11 verdict item 4 /
ROADMAP r12 candidate).

Kappa shape, the streaming/salted.py idiom: `phase_unwrap_increment` is
a pure (batch phase frame, carry frame) → (running summary, new carry)
function — directly usable from `foreachBatch` (see
`streaming_unwrap_sink`) and directly testable without the streaming
machinery. Each micro-batch runs the SAME bucket-summary/stitch core as
the batch query (operators/unwrap.py — shared projections, parity by
construction), then stitches against an O(#baselines) carry with the
SAME consecutive-pair wrap rule the batch window applies, so the
running summary after the last batch is bit-equal to the batch query
over the concatenated input WHEREVER the batch boundaries fall
(tests/test_streaming_unwrap.py fuzzes the splits).

Ordered-time contract (the repo's standing streaming contract,
SURVEY §2.10): rows arrive non-decreasing in (time, row_id) per
baseline across batches — the cross-batch corrector is exactly the
batch rule only under that order. Everything is integer milliradians:
no float accumulates across batches, so there is nothing to drift.

Carry per baseline: running count, net/total wraps, last raw phase,
k at the stream end, and globally-shifted last/min/max unwrapped
values — 9 integers, independent of history length. In process, each
step collects the updated carry through Arrow and hands it back as a
JVM ``LocalRelation`` (`sources.tables.localize`): no Python worker
scans it and the planner sees its real size. `streaming_unwrap_sink`
still commits the carry to disk as parquet, marker last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.operators import unwrap as unwrap_op
from codex_africanus_spark.sources.sink import marker_committed_sink
from codex_africanus_spark.sources.tables import local_frame, localize

CARRY_SCHEMA = (
    "antenna1 int, antenna2 int, n long, net long, total long, "
    "last_p long, k_end long, last_unw long, min_unw long, max_unw long"
)


def empty_carry(spark) -> DataFrame:
    return local_frame(spark, [], CARRY_SCHEMA)


def phase_unwrap_increment(
    batch_ph: DataFrame, carry: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch step: internally unwrap the batch with the shared
    salted core (k = 0 at the batch's first row per baseline), then
    shift by the carried global state.

    The cross-batch boundary corrector c_edge = wrap(first_p_batch −
    last_p_carry) is the identical consecutive-pair rule the batch
    window applies between those two rows, and the batch's internal
    values shift by offset = k_end_carry + c_edge — exact because
    cumsum is associative (the same argument as the bucket stitch).

    Returns (summary, new_carry); summary has the registered batch
    query's exact output shape (n_samples, net_wraps, total_wraps,
    final_unw_mrad, span_mrad per baseline)."""
    bs = unwrap_op.baseline_summary(
        unwrap_op.stitch_buckets(unwrap_op.bucket_summary(batch_ph))
    )
    c = carry.select(
        "antenna1", "antenna2",
        F.col("n").alias("c_n"), F.col("net").alias("c_net"),
        F.col("total").alias("c_total"), F.col("last_p").alias("c_last_p"),
        F.col("k_end").alias("c_k_end"), F.col("last_unw").alias("c_last_unw"),
        F.col("min_unw").alias("c_min_unw"), F.col("max_unw").alias("c_max_unw"),
    )
    j = bs.join(c, ["antenna1", "antenna2"], "full_outer")
    has_batch = F.col("n_b").isNotNull()
    has_carry = F.col("c_n").isNotNull()
    c_edge = F.when(
        has_batch & has_carry,
        unwrap_op.wrap_correction(F.col("first_p") - F.col("c_last_p")),
    ).otherwise(F.lit(0))
    offset = F.coalesce(F.col("c_k_end"), F.lit(0)) + c_edge
    shift = F.lit(unwrap_op.WRAP_GRID) * offset
    upd = j.select(
        "antenna1", "antenna2",
        (F.coalesce(F.col("c_n"), F.lit(0)) + F.coalesce(F.col("n_b"), F.lit(0)))
        .alias("n"),
        (F.coalesce(F.col("c_net"), F.lit(0))
         + F.coalesce(F.col("net_b"), F.lit(0)) + c_edge).alias("net"),
        (F.coalesce(F.col("c_total"), F.lit(0))
         + F.coalesce(F.col("abs_b"), F.lit(0)) + F.abs(c_edge)).alias("total"),
        F.when(has_batch, F.col("last_p")).otherwise(F.col("c_last_p"))
        .alias("last_p"),
        F.when(has_batch, offset + F.col("net_b")).otherwise(F.col("c_k_end"))
        .alias("k_end"),
        F.when(has_batch, F.col("last_unw") + shift)
        .otherwise(F.col("c_last_unw")).alias("last_unw"),
        F.when(
            has_batch & has_carry,
            F.least(F.col("c_min_unw"), F.col("min_unw") + shift),
        )
        .when(has_batch, F.col("min_unw") + shift)
        .otherwise(F.col("c_min_unw")).alias("min_unw"),
        F.when(
            has_batch & has_carry,
            F.greatest(F.col("c_max_unw"), F.col("max_unw") + shift),
        )
        .when(has_batch, F.col("max_unw") + shift)
        .otherwise(F.col("c_max_unw")).alias("max_unw"),
    )
    new_carry = localize(upd)
    summary = new_carry.select(
        "antenna1", "antenna2",
        F.col("n").alias("n_samples"),
        F.col("net").cast("long").alias("net_wraps"),
        F.col("total").cast("long").alias("total_wraps"),
        F.col("last_unw").cast("long").alias("final_unw_mrad"),
        (F.col("max_unw") - F.col("min_unw")).cast("long").alias("span_mrad"),
    )
    return summary, new_carry


def streaming_unwrap_sink(
    stream_vis: DataFrame, out_dir: str, checkpoint_dir: str
):
    """foreachBatch wiring: each micro-batch derives the phase frame and
    steps `phase_unwrap_increment` under the marker-committed
    durable-carry protocol (`sources.sink`)."""
    return marker_committed_sink(
        stream_vis, out_dir, checkpoint_dir, CARRY_SCHEMA, empty_carry,
        lambda batch_df, carry: phase_unwrap_increment(
            unwrap_op.phase_frame(batch_df), carry
        ),
    )
