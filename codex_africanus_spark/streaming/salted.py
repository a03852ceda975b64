"""Skew-safe STREAMING BDA (r9 verdict item 5).

`streaming/stateful.streaming_bda` keys its state by raw baseline, so
one hot baseline's rows serialize into a single task every micro-batch
(vectorized since r9, but still one task). This module is the salted
counterpart: each micro-batch is processed through the batch salted
decomposition (`operators/skew.salted_bda_average`'s Phase A/B/C over
the two-level (baseline, coarse-time-bucket) key) with a TINY
per-baseline carry frame injected as Phase B's initial state — the
open bin's accumulator, exactly what the unsalted kernel persists in
the state store (stateful.BDA_STATE_SCHEMA). Within a batch the hot
baseline's rows fan out over its buckets (Phase A and Phase C are
(baseline, bucket)-keyed sorted streams — no task ever holds the whole
baseline); across batches the carry is O(#baselines).

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
from pyspark.sql import functions as F

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
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    from codex_africanus_spark.functions.deterministic import quantize
    from codex_africanus_spark.operators.skew import (
        salted_bda_phase_a,
        salted_bda_phase_c,
    )

    tol_q = int(math.floor(decorr_tol * motion_grid + 0.5))
    SPAN = max_span_secs

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

    # ---- motion steps (batch op's lag machinery + the carry boundary):
    # within-(baseline,bucket) lag; a bucket's first row steps from the
    # previous bucket's last row (summary-lag join); the batch's FIRST
    # row per baseline steps from the carried last position.
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
    )

    # ---- Phase A (the batch kernel): per-bucket entry region + DP
    summaries = salted_bda_phase_a(rows, tol_q, SPAN)

    # ---- Phase B: per-baseline stitch, INITIALIZED from the carry ----
    b_schema = (
        "antenna1 int, antenna2 int, __bucket long, i_star long, "
        "entry_bin long, bin_base long, open_bin long, exit_acc long, "
        "exit_t double"
    )

    def phase_b(pdf):
        pdf = pdf.sort_values("__bucket").reset_index(drop=True)
        a1 = int(pdf["antenna1"].iloc[0])
        a2 = int(pdf["antenna2"].iloc[0])
        out = []
        if not pd.isna(pdf["c_bin"].iloc[0]):
            # resume the carried open bin (the unsalted twin's state)
            started = True
            acc_carry = int(pdf["c_acc"].iloc[0])
            anchor_t = float(pdf["c_start"].iloc[0])
            cur_bin = int(pdf["c_bin"].iloc[0])
            next_bin = cur_bin + 1
        else:
            started = False
            acc_carry, anchor_t = 0, 0.0
            cur_bin, next_bin = -1, 0
        for k in range(len(pdf)):
            bkt = int(pdf["__bucket"].iloc[k])
            qb_last = int(pdf["qb_last"].iloc[k])
            t_last = float(pdf["t_last"].iloc[k])
            r_q = np.asarray(pdf["r_q"].iloc[k], dtype=np.int64)
            r_t = np.asarray(pdf["r_t"].iloc[k], dtype=np.float64)
            if started:
                if acc_carry + qb_last <= tol_q and t_last <= anchor_t + SPAN:
                    out.append((a1, a2, bkt, -1, cur_bin, -1))
                    acc_carry += qb_last
                    continue
                i_star = min(
                    int(np.searchsorted(r_q, tol_q - acc_carry, side="right")),
                    int(np.searchsorted(r_t, anchor_t + SPAN, side="right")),
                )
                if i_star >= len(r_q):
                    # contract check must survive `python -O` and carry
                    # enough state to diagnose from a task failure
                    # (r10 ADVICE, low)
                    raise ValueError(
                        "salted BDA entry-region invariant violated: "
                        f"i*={i_star} >= |entry region|={len(r_q)} for "
                        f"baseline=({a1},{a2}) bucket={bkt} "
                        f"acc_carry={acc_carry} anchor_t={anchor_t} "
                        f"tol_q={tol_q}"
                    )
            else:
                i_star = 0
            out.append((a1, a2, bkt, i_star, cur_bin, next_bin))
            cur_bin = next_bin + int(pdf["r_nclosed"].iloc[k][i_star])
            next_bin = cur_bin + 1
            acc_carry = int(pdf["r_exit_acc"].iloc[k][i_star])
            anchor_t = float(pdf["r_exit_t"].iloc[k][i_star])
            started = True
        return pd.DataFrame(
            [(r[0], r[1], r[2], r[3], r[4], r[5],
              cur_bin, acc_carry, anchor_t) for r in out],
            columns=["antenna1", "antenna2", "__bucket", "i_star",
                     "entry_bin", "bin_base", "open_bin", "exit_acc",
                     "exit_t"],
        )

    csel = carry_in.select(
        "antenna1", "antenna2",
        F.col("bin_idx").alias("c_bin"), F.col("start_t").alias("c_start"),
        F.col("acc_q").alias("c_acc"),
    )
    resolution = (
        summaries.join(F.broadcast(csel), ["antenna1", "antenna2"], "left")
        .groupBy("antenna1", "antenna2")
        .applyInPandas(phase_b, b_schema)
    )
    # bucket summaries are one row per (baseline, bucket) — never
    # fact-scale; localCheckpoint per the loop-frame discipline is not
    # needed (single downstream consumer tree), but resolution feeds
    # two consumers (phase C join + exit frame), so cut it once
    resolution = resolution.localCheckpoint(eager=False)
    exit_state = resolution.groupBy("antenna1", "antenna2").agg(
        F.first("open_bin").alias("open_bin"),
        F.first("exit_acc").alias("exit_acc"),
        F.first("exit_t").alias("exit_t"),
    )

    # ---- Phase C (the batch kernel): per-bucket re-scan from i*
    partials = salted_bda_phase_c(
        rows.join(
            resolution.select(
                "antenna1", "antenna2", "__bucket", "i_star", "entry_bin",
                "bin_base",
            ),
            ["antenna1", "antenna2", "__bucket"],
        ),
        tol_q, SPAN,
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
        .join(F.broadcast(exit_state), ["antenna1", "antenna2"])
    )
    # feeds bins AND carry_out — cut once, reuse
    merged = merged.localCheckpoint(eager=False)

    nan, inf = F.lit(float("nan")), F.lit(float("inf"))

    def _avg(num):
        # numpy int64-quotient semantics (0/0 → nan, x/0 → ±inf) — the
        # unsalted twin's closed-bin arithmetic, r10 ADVICE class
        return (
            F.when(F.col("sw") != 0, F.col(num) / F.col("sw"))
            .when(F.col(num) == 0, nan)
            .otherwise(F.signum(F.col(num)) * inf)
        )

    bins = merged.select(
        "antenna1", "antenna2", "bin_idx", "n_rows",
        "time_start", "time_end",
        _avg("swre").alias("vis_re_avg"),
        _avg("swim").alias("vis_im_avg"),
        (F.col("sw") / F.lit(value_grid)).alias("weight_sum"),
        (F.col("bin_idx") < F.col("open_bin")).alias("closed"),
    )

    last_pos = ev.groupBy("antenna1", "antenna2").agg(
        F.max(F.struct("time", "row_id", "u", "v", "w")).alias("__last")
    )
    carry_new = (
        merged.filter(F.col("bin_idx") == F.col("open_bin"))
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
