"""Skew-safe STREAMING BDA (r9 verdict item 5).

`streaming/stateful.streaming_bda` keys its state by raw baseline, so
one hot baseline's rows serialize into a single task every micro-batch
(vectorized since r9, but still one task). This module is the salted
counterpart, and the one driver of the salted decomposition
(`operators/skew`'s Phase A/B/C kernels over the two-level (baseline,
coarse-time-bucket) key): it builds the motion prefix, runs the three
phases with a TINY per-baseline carry frame injected as Phase B's
initial state — the open bin's accumulator, exactly what the unsalted
kernel persists in the state store (stateful.BDA_STATE_SCHEMA) — and
merges the carried partials into the bins. The batch operator
`skew.salted_bda_average` is this increment on the empty carry, minus
``closed``: the carry is a mergeable summary, the empty carry its
identity, and the optimizer prunes every join against it. Within a
batch the hot baseline's rows fan out over its buckets (Phase A and
Phase C are (baseline, bucket)-keyed sorted streams — no task ever
holds the whole baseline); across batches the carry is O(#baselines).

Kappa shape: `salted_bda_increment` is a pure (batch frame, carry
frame) → (bins frame, new carry frame) function — directly usable from
`foreachBatch` (see `streaming_salted_bda_sink`, the marker-committed
durable-carry protocol of `sources.sink.marker_committed_sink`) and
directly testable without the streaming machinery. The empty carry is
an Arrow-built JVM ``LocalRelation`` (`sources.tables.local_frame`);
the returned carry stays a lazy plan, which the sink commits to disk as
parquet, marker last, and reloads on the next batch.

Bit-equality to the unsalted streaming twin: the closure rule reads
only the exact integer motion prefix and the anchor time, both of
which the carry reproduces, so decisions are identical by the same
argument that makes the batch decomposition decision-identical to the
sequential scan (operators/skew.py docstring); asserted under the
adversarial skew fuzz across micro-batch splits in
tests/test_streaming_salted_bda.py.

Reference semantics anchor: africanus/averaging/bda_mapping.py:111-186
(the Binner's add_row/close loop).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from codex_africanus_spark.functions.deterministic import quantize
from codex_africanus_spark.operators.skew import (
    salted_bda_phase_a,
    salted_bda_phase_b,
    salted_bda_phase_c,
)
from codex_africanus_spark.sources.sink import marker_committed_sink
from codex_africanus_spark.sources.tables import local_frame

# per-baseline open-bin accumulator — field-for-field the unsalted
# twin's BDA_STATE_SCHEMA (streaming/stateful.py), keyed by baseline
CARRY_SCHEMA = (
    "antenna1 int, antenna2 int, bin_idx long, start_t double, "
    "pu double, pv double, pw double, acc_q long, n long, "
    "t_min double, t_max double, w_q long, wre_q long, wim_q long"
)


def empty_carry(spark) -> DataFrame:
    return local_frame(spark, [], CARRY_SCHEMA)


def salted_bda_increment(
    batch: DataFrame,
    carry: DataFrame,
    decorr_tol: float = 500.0,
    max_span_secs: float = 2_592_000.0,
    bucket_secs: float = 2_592_000.0,
    motion_grid: float = 1e6,
    value_grid: float = 1e6,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of salted BDA: returns (bins, new_carry).

    ``bins`` carries every bin touched this batch — bins below each
    baseline's open bin are ``closed=true`` (final; identical to what
    the unsalted twin emits), the open bin is provisional
    (``closed=false``, superseded by a later emission — the update-mode
    upsert contract). ``new_carry`` holds the open-bin accumulator per
    baseline (pass-through for baselines with no rows this batch).

    Rows must arrive time-ordered per baseline ACROSS batches (the
    same monotone-time contract as the unsalted twin); order within
    the batch is free — the bucket streams sort on the full
    (time, row_id, u, v, w, wre_q) tie-break key.
    """
    tol_q = int(math.floor(decorr_tol * motion_grid + 0.5))
    span = max_span_secs

    ev = batch.select(
        "row_id", "time", "antenna1", "antenna2", "u", "v", "w",
        quantize(F.col("vis_re") * F.col("weight"), value_grid).alias("wre_q"),
        quantize(F.col("vis_im") * F.col("weight"), value_grid).alias("wim_q"),
        quantize(F.col("weight"), value_grid).alias("w_q"),
        F.floor(F.col("time") / F.lit(bucket_secs)).cast("long").alias("__bucket"),
    )

    # baselines present in this batch (small; drives carry routing)
    present = ev.select("antenna1", "antenna2").distinct()
    carry_in = carry.join(present, ["antenna1", "antenna2"], "leftsemi")
    carry_thru = carry.join(present, ["antenna1", "antenna2"], "left_anti")

    # ---- motion prefix without a whole-baseline window: lag within the
    # (baseline, bucket) partition; a bucket's first row steps from the
    # previous bucket's last row (a summary-lag join; one row per
    # bucket, never fact-scale); the batch's FIRST row per baseline
    # steps from the carried last position. Total order: (u, v, w,
    # wre_q) breaks duplicate (time, row_id) keys exactly as the
    # sequential twin's (u, v, w, vis_re) does (weight is constant on a
    # row_id tie, so wre_q orders like vis_re).
    w2 = W.partitionBy("antenna1", "antenna2", "__bucket").orderBy(
        "time", "row_id", "u", "v", "w", "wre_q"
    )
    wb = W.partitionBy("antenna1", "antenna2").orderBy("__bucket")
    last_row = F.max(F.struct("time", "row_id", "u", "v", "w")).alias("__last")
    bsum = ev.groupBy("antenna1", "antenna2", "__bucket").agg(last_row)
    bprev = bsum.select(
        "antenna1", "antenna2", "__bucket",
        F.lag("__last").over(wb).alias("__prev"),
    )
    cpos = carry_in.select(
        "antenna1", "antenna2",
        F.col("pu").alias("__cpu"), F.col("pv").alias("__cpv"),
        F.col("pw").alias("__cpw"),
    )
    pu, pv, pw = (F.lag(c).over(w2) for c in ("u", "v", "w"))
    step_in = (
        F.abs(F.col("u") - pu) + F.abs(F.col("v") - pv) + F.abs(F.col("w") - pw)
    )
    step_bound = (
        F.abs(F.col("u") - F.col("__prev.u"))
        + F.abs(F.col("v") - F.col("__prev.v"))
        + F.abs(F.col("w") - F.col("__prev.w"))
    )
    step_carry = (
        F.abs(F.col("u") - F.col("__cpu"))
        + F.abs(F.col("v") - F.col("__cpv"))
        + F.abs(F.col("w") - F.col("__cpw"))
    )
    rows = (
        ev.join(bprev, ["antenna1", "antenna2", "__bucket"])
        .join(F.broadcast(cpos), ["antenna1", "antenna2"], "left")
        .withColumn(
            "__dq",
            F.when(pu.isNotNull(), quantize(step_in, motion_grid))
            .when(F.col("__prev").isNotNull(), quantize(step_bound, motion_grid))
            .when(F.col("__cpu").isNotNull(), quantize(step_carry, motion_grid))
            .otherwise(F.lit(0)),
        )
        .withColumn(
            "__qb", F.sum("__dq").over(w2.rowsBetween(W.unboundedPreceding, 0))
        )
        .drop("__prev", "__cpu", "__cpv", "__cpw", "__dq")
        # Phase A and Phase C both read the motion prefix: computed once,
        # for 5 build jobs (its AQE stages, sf0.001)
        .localCheckpoint(eager=False)
    )

    summaries = salted_bda_phase_a(rows, tol_q, span)
    csel = carry_in.select(
        "antenna1", "antenna2",
        F.col("bin_idx").alias("c_bin"), F.col("start_t").alias("c_start"),
        F.col("acc_q").alias("c_acc"),
    )
    b_schema = (
        "antenna1 int, antenna2 int, __bucket long, i_star long, "
        "entry_bin long, bin_base long, open_bin long, exit_acc long, "
        "exit_t double"
    )
    resolution = (
        summaries.join(F.broadcast(csel), ["antenna1", "antenna2"], "left")
        .groupBy("antenna1", "antenna2")
        .applyInPandas(salted_bda_phase_b(tol_q, span), b_schema)
        # Phase C and the new carry's exit state both read the stitch:
        # 2 more build jobs; uncut, the carry write re-ran Phases A-C
        # and a 3-batch sf0.1 drive took 22-29% longer
        .localCheckpoint(eager=False)
    )
    partials = salted_bda_phase_c(
        rows.join(
            resolution.select(
                "antenna1", "antenna2", "__bucket", "i_star", "entry_bin",
                "bin_base",
            ),
            ["antenna1", "antenna2", "__bucket"],
        ),
        tol_q, span,
    )
    # the carried open bin's accumulated partials merge into its
    # continuation exactly (integer partials are order-independent)
    carried_partials = carry_in.select(
        "antenna1", "antenna2", "bin_idx",
        F.col("n").alias("n"), F.col("t_min").alias("tmin"),
        F.col("t_max").alias("tmax"), F.col("wre_q").alias("swre"),
        F.col("wim_q").alias("swim"), F.col("w_q").alias("sw"),
    )
    merged = (
        partials.unionByName(carried_partials)
        .groupBy("antenna1", "antenna2", "bin_idx")
        .agg(
            F.sum("n").alias("n_rows"),
            F.min("tmin").alias("time_start"),
            F.max("tmax").alias("time_end"),
            F.sum("swre").alias("swre"),
            F.sum("swim").alias("swim"),
            F.sum("sw").alias("sw"),
        )
    )
    # a bin whose weights all quantize to 0 averages to NULL; a
    # baseline's open bin is its last, so `closed` reads no exit state
    # (and a caller that drops it prunes the window)
    bins = merged.select(
        "antenna1", "antenna2", "bin_idx", "n_rows",
        "time_start", "time_end",
        F.try_divide("swre", "sw").alias("vis_re_avg"),
        F.try_divide("swim", "sw").alias("vis_im_avg"),
        (F.col("sw") / F.lit(value_grid)).alias("weight_sum"),
        (
            F.col("bin_idx")
            < F.max("bin_idx").over(W.partitionBy("antenna1", "antenna2"))
        ).alias("closed"),
    )

    exit_state = resolution.groupBy("antenna1", "antenna2").agg(
        F.first("open_bin").alias("open_bin"),
        F.first("exit_acc").alias("exit_acc"),
        F.first("exit_t").alias("exit_t"),
    )
    last_pos = rows.groupBy("antenna1", "antenna2").agg(
        F.max(F.struct("time", "row_id", "u", "v", "w")).alias("__last")
    )
    carry_new = (
        merged.join(F.broadcast(exit_state), ["antenna1", "antenna2"])
        .filter(F.col("bin_idx") == F.col("open_bin"))
        .join(F.broadcast(last_pos), ["antenna1", "antenna2"])
        .select(
            "antenna1", "antenna2", "bin_idx",
            F.col("exit_t").alias("start_t"),
            F.col("__last.u").alias("pu"), F.col("__last.v").alias("pv"),
            F.col("__last.w").alias("pw"),
            F.col("exit_acc").alias("acc_q"),
            F.col("n_rows").alias("n"),
            F.col("time_start").alias("t_min"),
            F.col("time_end").alias("t_max"),
            F.col("swre").alias("wre_q"), F.col("swim").alias("wim_q"),
            F.col("sw").alias("w_q"),
        )
        # reorder wre/wim/w to the CARRY_SCHEMA column order
        .select(
            "antenna1", "antenna2", "bin_idx", "start_t", "pu", "pv", "pw",
            "acc_q", "n", "t_min", "t_max", "w_q", "wre_q", "wim_q",
        )
        .unionByName(carry_thru)
    )
    return bins, carry_new


def streaming_salted_bda_sink(
    stream_vis: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    decorr_tol: float = 500.0,
    max_span_secs: float = 2_592_000.0,
    bucket_secs: float = 2_592_000.0,
):
    """foreachBatch wiring: `salted_bda_increment` under the
    marker-committed durable-carry protocol (`sources.sink`). Each
    batch's bins land in ``summary_batch_<id>``; a bin re-emitted by a
    later batch supersedes its earlier row (the update-mode upsert
    contract)."""
    return marker_committed_sink(
        stream_vis, out_dir, checkpoint_dir, CARRY_SCHEMA, empty_carry,
        lambda batch_df, carry: salted_bda_increment(
            batch_df, carry, decorr_tol, max_span_secs, bucket_secs
        ),
    )
