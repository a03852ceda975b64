"""MS time/frequency-domain operations: averaging, BDA, flagging,
antenna/baseline QA, observatory reports (SURVEY §2.4). Mechanically
moved out of the former queries.py (round 9)."""


from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from codex_africanus_spark.functions.deterministic import qsum
from codex_africanus_spark.operators import averaging as avg_op
from codex_africanus_spark.operators import predict as predict_op
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.operators import bda as bda_op  # noqa: E402
from codex_africanus_spark.operators import calibration as cal_op  # noqa: E402
from codex_africanus_spark.functions import feeds as feeds_fn  # noqa: E402
from codex_africanus_spark.operators import skew as skew_op  # noqa: E402
from codex_africanus_spark.operators import flagging as flag_op  # noqa: E402

from ._core import (  # noqa: F401
    _AVG_ORACLE,
    _PA_FIELD,
    _with_ms,
    register,
)

@register(
    "time_index_dense_rank",
    _with_ms(
        """
        SELECT row_id, time,
               CAST(dense_rank() OVER (ORDER BY time) - 1 AS BIGINT) AS time_index
        FROM vis ORDER BY row_id
        """
    ),
)
def time_index_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_index derivation: np.unique(time, return_inverse)[1] →
    dense_rank()-1 (reference predict.py:694-697).

    Scale note: a global window would move the whole fact table to one
    partition. Instead rank the (small) distinct-times table and
    broadcast-join the index back — O(#unique times) window, zero fact
    shuffle."""
    from codex_africanus_spark.sources.tables import scan_twin

    vis = tpch_ms.vis_table(spark, sf_dir)
    # distinct over the unfanned twin (r13): partial agg collapses the
    # scan to O(#times)/task — the fan_out exchange bought nothing here
    unique_times = (
        scan_twin(vis).select("time")
        .distinct()
        .select(
            "time",
            (F.dense_rank().over(W.orderBy("time")) - 1).cast("long").alias("time_index"),
        )
    )
    return vis.select("row_id", "time").join(F.broadcast(unique_times), "time").select(
        "row_id", "time", "time_index"
    )


@register(
    "unique_times_counts",
    _with_ms(
        """
        SELECT time, COUNT(*) AS row_count, MIN(row_id) AS first_row_id
        FROM vis GROUP BY time ORDER BY time
        """
    ),
)
def unique_times_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unique_time with counts + first index
    (reference averaging/support.py:10-117)."""
    from codex_africanus_spark.sources.tables import scan_twin

    # r13: aggregate over the unfanned twin (see uv_grid_histogram note)
    vis = scan_twin(tpch_ms.vis_table(spark, sf_dir))
    return (
        vis.groupBy("time")
        .agg(F.count(F.lit(1)).alias("row_count"), F.min("row_id").alias("first_row_id"))
        .orderBy("time")
    )


@register("time_and_channel_average", _AVG_ORACLE)
def time_and_channel_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted, flag-aware (baseline, time-bin, chan-bin) averaging
    (reference time_and_channel_avg.py:764-860; two-tier flag semantics
    of time_and_channel_mapping.py:80-87)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return avg_op.time_and_channel(vis, 604800.0, 2)


def _tt_sql(expr: str, scale: str = "100") -> str:
    """Two-tier exact-fixed-point SUM (SQL mirror of qsum under the
    mapping.py:80-87 flag semantics): unflagged-tier sum when any sample
    in the group is unflagged, flagged-tier sum otherwise."""
    return (
        "(CASE WHEN MIN(CAST(f AS INT)) = 1 "
        f"THEN SUM(CAST(ROUND(CASE WHEN f THEN {expr} ELSE 0.0 END * {scale}) AS BIGINT)) "
        f"ELSE SUM(CAST(ROUND(CASE WHEN NOT f THEN {expr} ELSE 0.0 END * {scale}) AS BIGINT)) END)"
    )


_N_MATCH_SQL = (
    "(CASE WHEN MIN(CAST(f AS INT)) = 1 THEN COUNT(*) "
    "ELSE SUM(CASE WHEN NOT f THEN 1 ELSE 0 END) END)"
)


_TTW = _tt_sql("weight")


_TTS2 = _tt_sql("sigma*sigma*weight*weight")


_ROW_AVG_FULL_ORACLE = _with_ms(
    f"""
    , binned AS (
      SELECT antenna1, antenna2,
             CAST(FLOOR(time / 604800.0) AS BIGINT) AS time_bin,
             time, time + (row_id % 7) / 10.0 AS time_centroid,
             interval, interval * 0.875 AS exposure,
             u, v, w, weight, sigma, flag_row AS f
      FROM vis
    )
    SELECT antenna1, antenna2, time_bin,
           COUNT(*) AS n_rows,
           {_tt_sql("time", "1.0")} / {_N_MATCH_SQL} AS time_avg,
           {_tt_sql("interval")} / 100.0 AS interval_sum,
           ({_tt_sql("time_centroid")} / 100.0) / {_N_MATCH_SQL} AS time_centroid_avg,
           {_tt_sql("exposure")} / 100.0 AS exposure_sum,
           ({_tt_sql("u")} / 100.0) / {_N_MATCH_SQL} AS u_avg,
           ({_tt_sql("v")} / 100.0) / {_N_MATCH_SQL} AS v_avg,
           ({_tt_sql("w")} / 100.0) / {_N_MATCH_SQL} AS w_avg,
           {_TTW} / 100.0 AS weight_sum,
           CASE WHEN {_TTW} / 100.0 = 0
                THEN SQRT({_TTS2} / 100.0)
                ELSE SQRT(({_TTS2} / 100.0)
                          / (({_TTW} / 100.0) * ({_TTW} / 100.0)))
           END AS sigma_avg,
           (MIN(CAST(f AS INT)) = 1) AS bin_flag_row
    FROM binned
    GROUP BY antenna1, antenna2, time_bin
    """
)


@register("ms_row_average_full", _ROW_AVG_FULL_ORACLE)
def ms_row_average_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-column MS row averaging — UVW / TIME_CENTROID / EXPOSURE /
    WEIGHT / SIGMA per (baseline, time-bin), reference row_average
    (time_and_channel_avg.py:76-266): two-tier flag-matching
    contributions, uvw+centroid means, exposure+weight sums, and
    sigma = sqrt(Σσ²w²/(Σw)²)."""
    vis = tpch_ms.vis_table(spark, sf_dir).withColumns(
        {
            "time_centroid": F.col("time") + (F.col("row_id") % 7) / F.lit(10.0),
            "exposure": F.col("interval") * F.lit(0.875),
        }
    )
    return avg_op.row_average_full(vis, 604800.0)


_AVG_FULL_ORACLE = _with_ms(
    f"""
    , binned AS (
      SELECT antenna1, antenna2,
             CAST(FLOOR(time / 604800.0) AS BIGINT) AS time_bin,
             CAST(chan // 2 AS INT)                 AS chan_bin,
             vis_re, vis_im, weight, sigma,
             (flag OR flag_row) AS f
      FROM vis
    )
    SELECT antenna1, antenna2, time_bin, chan_bin,
           COUNT(*) AS nsamples,
           {_tt_sql("vis_re*weight")} / {_TTW} AS vis_re_avg,
           {_tt_sql("vis_im*weight")} / {_TTW} AS vis_im_avg,
           {_TTW} / 100.0 AS weight_sum,
           CASE WHEN {_TTW} / 100.0 = 0
                THEN SQRT({_TTS2} / 100.0)
                ELSE SQRT(({_TTS2} / 100.0)
                          / (({_TTW} / 100.0) * ({_TTW} / 100.0)))
           END AS sigma_spectrum_avg,
           (MIN(CAST(f AS INT)) = 1) AS bin_flag
    FROM binned
    GROUP BY antenna1, antenna2, time_bin, chan_bin
    """
)


@register("time_and_channel_average_full", _AVG_FULL_ORACLE)
def time_and_channel_average_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-chan averaging with SIGMA_SPECTRUM (reference row-chan
    averager, time_and_channel_avg.py:414-640): vis weighted means,
    weight sum and sigma_spectrum = sqrt(Σσ²w²/(Σw)²) per (baseline,
    time-bin, chan-bin) under two-tier flag semantics."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return avg_op.time_and_channel_full(vis, 604800.0, 2)


# BDA's decorrelation scan replays exactly in a RECURSIVE CTE: the
# accumulator update acc + (|Δu|+|Δv|+|Δw|) is the same float operation
# sequence as the pandas loop, so every bin-closure decision is
# bit-identical across engines; only the weighted means need a 6dp
# round (pandas pairwise vs SQL summation order, ~1e-13 apart). Sliced
# to bound recursion depth; the pandas path covers the full table.
_BDA_ORACLE = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    ordered AS (
      SELECT antenna1, antenna2, time, u, v, w, vis_re, vis_im, weight,
             row_number() OVER (PARTITION BY antenna1, antenna2
                                ORDER BY time, row_id, u, v, w, vis_re) AS rn
      FROM vis WHERE row_id % 17 = 0
    ),
    rec AS (
      SELECT antenna1, antenna2, rn, time, u, v, w, vis_re, vis_im, weight,
             CAST(0 AS BIGINT) AS bin_idx, time AS start_t,
             CAST(0.0 AS DOUBLE) AS acc
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.antenna1, o.antenna2, o.rn, o.time, o.u, o.v, o.w,
             o.vis_re, o.vis_im, o.weight,
             CASE WHEN r.acc + (abs(o.u - r.u) + abs(o.v - r.v) + abs(o.w - r.w)) > 500.0
                       OR (o.time - r.start_t) > 2592000.0
                  THEN r.bin_idx + 1 ELSE r.bin_idx END,
             CASE WHEN r.acc + (abs(o.u - r.u) + abs(o.v - r.v) + abs(o.w - r.w)) > 500.0
                       OR (o.time - r.start_t) > 2592000.0
                  THEN o.time ELSE r.start_t END,
             CASE WHEN r.acc + (abs(o.u - r.u) + abs(o.v - r.v) + abs(o.w - r.w)) > 500.0
                       OR (o.time - r.start_t) > 2592000.0
                  THEN 0.0 ELSE r.acc + (abs(o.u - r.u) + abs(o.v - r.v) + abs(o.w - r.w)) END
      FROM rec r
      JOIN ordered o ON o.antenna1 = r.antenna1 AND o.antenna2 = r.antenna2
                    AND o.rn = r.rn + 1
    )
    SELECT antenna1, antenna2, bin_idx,
           COUNT(*) AS n_rows,
           MIN(time) AS time_start,
           MAX(time) AS time_end,
           round(SUM(vis_re * weight) / SUM(weight), 6) AS vis_re_avg,
           round(SUM(vis_im * weight) / SUM(weight), 6) AS vis_im_avg,
           SUM(weight) AS weight_sum
    FROM rec
    GROUP BY antenna1, antenna2, bin_idx
    ORDER BY antenna1, antenna2, bin_idx
"""


# Sinc-bounded BDA oracle: the closure decision replays in a recursive
# CTE carrying the bin-start row (the reference compares candidate rows
# against the bin's FIRST row, bda_mapping.py:144-158), with the sinc
# value quantized to a 1e-9 grid using constants interpolated from
# operators/bda.py — identical literals, identical op sequence, so every
# data-dependent closure decision is bit-equal across engines.
_BDA_SINC_HALF = (
    "(SQRT((o.u - r.u_s)*(o.u - r.u_s) + (o.v - r.v_s)*(o.v - r.v_s) "
    f"+ (o.w - r.w_s)*(o.w - r.w_s)) * {bda_op.BDA_SINC_K!r} + 1e-8)"
)


_BDA_SINC_CLOSE = (
    "((o.antenna1 <> o.antenna2) AND ("
    f"CAST(ROUND((SIN({_BDA_SINC_HALF}) / {_BDA_SINC_HALF}) * {bda_op.BDA_SINC_GRID!r}) AS BIGINT)"
    f" < {bda_op.BDA_SINC_TOL_Q} "
    "OR ((o.time + o.interval/2.0) - (r.t_s - r.iv_s/2.0)) > "
    f"{bda_op.BDA_TIME_BIN_SECS!r}))"
)


_BDA_SINC_MAD = (
    "SQRT(ABS(SQRT(((arg_min(u, rn) + arg_max(u, rn))/2.0)*((arg_min(u, rn) + arg_max(u, rn))/2.0)"
    " + ((arg_min(v, rn) + arg_max(v, rn))/2.0)*((arg_min(v, rn) + arg_max(v, rn))/2.0)))"
    f" * {bda_op.BDA_MAX_LM!r}"
    f" + ABS((arg_min(w, rn) + arg_max(w, rn))/2.0) * {bda_op.BDA_N_MAX!r})"
)


_BDA_SINC_ORACLE = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    ordered AS (
      SELECT antenna1, antenna2, time, u, v, w, interval, flag_row,
             vis_re, vis_im, weight,
             row_number() OVER (PARTITION BY antenna1, antenna2
                                ORDER BY time, row_id, u, v, w, vis_re) AS rn
      FROM vis WHERE row_id % 17 = 0
    ),
    rec AS (
      SELECT antenna1, antenna2, rn, time, u, v, w, interval, flag_row,
             vis_re, vis_im, weight,
             CAST(0 AS BIGINT) AS bin_idx,
             u AS u_s, v AS v_s, w AS w_s, time AS t_s, interval AS iv_s
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.antenna1, o.antenna2, o.rn, o.time, o.u, o.v, o.w,
             o.interval, o.flag_row, o.vis_re, o.vis_im, o.weight,
             CASE WHEN {_BDA_SINC_CLOSE} THEN r.bin_idx + 1 ELSE r.bin_idx END,
             CASE WHEN {_BDA_SINC_CLOSE} THEN o.u ELSE r.u_s END,
             CASE WHEN {_BDA_SINC_CLOSE} THEN o.v ELSE r.v_s END,
             CASE WHEN {_BDA_SINC_CLOSE} THEN o.w ELSE r.w_s END,
             CASE WHEN {_BDA_SINC_CLOSE} THEN o.time ELSE r.t_s END,
             CASE WHEN {_BDA_SINC_CLOSE} THEN o.interval ELSE r.iv_s END
      FROM rec r
      JOIN ordered o ON o.antenna1 = r.antenna1 AND o.antenna2 = r.antenna2
                    AND o.rn = r.rn + 1
    )
    SELECT antenna1, antenna2, bin_idx,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN flag_row THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           ((arg_min(time, rn) - arg_min(interval, rn)/2.0)
            + (arg_max(time, rn) + arg_max(interval, rn)/2.0)) / 2.0 AS time_avg,
           (arg_max(time, rn) + arg_max(interval, rn)/2.0)
            - (arg_min(time, rn) - arg_min(interval, rn)/2.0) AS interval_out,
           CAST(CAST(SUM(CAST(ROUND(vis_re * weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS vis_re_avg,
           CAST(CAST(SUM(CAST(ROUND(vis_im * weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS vis_im_avg,
           SUM(weight) AS weight_sum,
           (SUM(CASE WHEN flag_row THEN 1 ELSE 0 END) = COUNT(*)) AS bin_flagged,
           CASE WHEN MIN(antenna1) = MIN(antenna2) OR {_BDA_SINC_MAD} = 0.0
                THEN -1.0
                ELSE CAST(ROUND(({bda_op.BDA_LIGHTSPEED!r} / (2.0 * PI()))
                           * ({bda_op.BDA_DECORRELATION!r} / {_BDA_SINC_MAD})
                           * 1000000) AS BIGINT) / 1000000.0
           END AS delta_nu
    FROM rec
    GROUP BY antenna1, antenna2, bin_idx
    ORDER BY antenna1, antenna2, bin_idx
"""


@register("bda_sinc_decorrelation", _BDA_SINC_ORACLE)
def bda_sinc_decorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BDA with the reference's actual sinc(Δψ/2) ≥ sinc(decorrelation)
    bin-closure physics (bda_mapping.py:111-186) plus finalise_bin
    outputs (:193-277: interval-padded centroid time/span, all-flagged
    flag, Atemkeng eq.40 decorrelation bandwidth). The L1 uvw-motion
    proxy (`bda_baseline_dependent_average`) remains as the fast tier.
    Sliced to row_id % 17 to bound the oracle's recursion depth; the
    pandas path covers the full table in tests."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 17 == 0)
    out = bda_op.bda_sinc_average(vis)
    return out.select(
        "antenna1", "antenna2", "bin_idx", "n_rows", "n_flagged",
        "time_avg", "interval_out",
        # r11 sf1.0 fast-twin sweep fork: round(ratio, 6) forks
        # cross-engine when the exact int/int ratio lands on a dyadic
        # half-boundary (e.g. x.xxxxxx5 with weight_sum 64). The kernel
        # already emits a ratio of identical fixed-point integer sums —
        # bit-equal across engines UNROUNDED — so no rounding at all is
        # the exact contract. Oracle + fast twin changed identically.
        "vis_re_avg",
        "vis_im_avg",
        "weight_sum", "bin_flagged",
        # r11 sf1.0 sweep fork: round(x, 6) forks cross-engine once
        # |delta_nu| reaches ~1e8 (Spark's exact-decimal BigDecimal vs
        # DuckDB's float-path rounding disagree in the 6th decimal near
        # the double's ULP). The integer-grid idiom — multiply, ROUND
        # to BIGINT, divide — is deterministic at any magnitude because
        # every step is the same correctly-rounded double op on both
        # engines. Oracle changed identically.
        F.when(F.col("delta_nu") < 0, F.lit(-1.0))
        .otherwise(
            F.round(F.col("delta_nu") * 1000000).cast("long") / F.lit(1000000.0)
        )
        .alias("delta_nu"),
    ).orderBy("antenna1", "antenna2", "bin_idx")


def _bda_average_build(spark: SparkSession, sf_dir: str, mod: int = 17) -> DataFrame:
    """Shared builder for `bda_baseline_dependent_average` — the slice
    modulus is a parameter so big-scale partial-pass evidence
    (tools/sf1_bda_partial.py, r11) runs the IDENTICAL plan on a deeper
    slice; the registered query is mod=17."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % mod == 0)
    out = bda_op.bda_average(vis)
    return out.select(
        "antenna1", "antenna2", "bin_idx", "n_rows", "time_start", "time_end",
        F.round(F.col("vis_re_avg"), 6).alias("vis_re_avg"),
        F.round(F.col("vis_im_avg"), 6).alias("vis_im_avg"),
        "weight_sum",
    ).orderBy("antenna1", "antenna2", "bin_idx")


@register("bda_baseline_dependent_average", _BDA_ORACLE)
def bda_baseline_dependent_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True BDA: decorrelation-bounded sequential binning per baseline
    (applyInPandas) — exactly oracled by a recursive-CTE replay whose
    accumulator arithmetic is bit-identical to the pandas loop, so the
    data-dependent bin boundaries match across engines (see _BDA_ORACLE;
    full-table behavior covered by tests/test_bda_clean_equivalence.py)."""
    return _bda_average_build(spark, sf_dir, 17)


# Salted-BDA parameters: 50-day span and 30-day buckets make most bins
# straddle bucket boundaries at the %17-sliced row cadence — the stitch
# path is exercised, not bypassed. Shared literals with the recursive
# oracle (constant-parity discipline); motion/value grids at 1e6.
_SBDA_TOL = 500.0


_SBDA_SPAN = 4_320_000.0


_SBDA_BUCKET = 2_592_000.0


_SBDA_TOL_Q = 500_000_000  # floor(_SBDA_TOL * 1e6 + 0.5)


# The quantized rule replays in a recursive CTE carrying an INTEGER
# accumulator: dq = round(step·1e6) via lag, closure when
# acc_q + dq > tol_q or t − t_start > span — the identical integer
# decisions the salted decomposition makes, so every data-dependent bin
# boundary is bit-equal across engines AND across the (baseline, bucket)
# pre-split. Value averages are ratios of identical fixed-point sums —
# no rounding slack needed anywhere (unlike the float _BDA_ORACLE).
_SBDA_ORACLE = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    ordered AS (
      SELECT antenna1, antenna2, time, vis_re, vis_im, weight,
             COALESCE(CAST(ROUND((abs(u - lag(u) OVER w) + abs(v - lag(v) OVER w)
                    + abs(w - lag(w) OVER w)) * 1000000.0) AS BIGINT), 0) AS dq,
             row_number() OVER w AS rn
      FROM vis WHERE row_id % 17 = 0
      WINDOW w AS (PARTITION BY antenna1, antenna2
                   ORDER BY time, row_id, u, v, w, vis_re)
    ),
    rec AS (
      SELECT antenna1, antenna2, rn, time, vis_re, vis_im, weight,
             CAST(0 AS BIGINT) AS bin_idx, time AS start_t,
             CAST(0 AS BIGINT) AS acc_q
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.antenna1, o.antenna2, o.rn, o.time, o.vis_re, o.vis_im, o.weight,
             CASE WHEN r.acc_q + o.dq > {_SBDA_TOL_Q}
                       OR (o.time - r.start_t) > {_SBDA_SPAN!r}
                  THEN r.bin_idx + 1 ELSE r.bin_idx END,
             CASE WHEN r.acc_q + o.dq > {_SBDA_TOL_Q}
                       OR (o.time - r.start_t) > {_SBDA_SPAN!r}
                  THEN o.time ELSE r.start_t END,
             CASE WHEN r.acc_q + o.dq > {_SBDA_TOL_Q}
                       OR (o.time - r.start_t) > {_SBDA_SPAN!r}
                  THEN 0 ELSE r.acc_q + o.dq END
      FROM rec r
      JOIN ordered o ON o.antenna1 = r.antenna1 AND o.antenna2 = r.antenna2
                    AND o.rn = r.rn + 1
    )
    SELECT antenna1, antenna2, bin_idx,
           COUNT(*) AS n_rows,
           MIN(time) AS time_start,
           MAX(time) AS time_end,
           CAST(CAST(SUM(CAST(ROUND(vis_re * weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS vis_re_avg,
           CAST(CAST(SUM(CAST(ROUND(vis_im * weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS vis_im_avg,
           CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) / 1000000.0 AS weight_sum
    FROM rec
    GROUP BY antenna1, antenna2, bin_idx
    ORDER BY antenna1, antenna2, bin_idx
"""


# Fast ANCHOR-CHAIN replay of _SBDA_ORACLE (r9 ROADMAP / r9 verdict
# item 3): because the closure rule reads only the INTEGER prefix sum
# Q = Σ dq (exact, associative) and the anchor time, "row m belongs to
# the bin anchored at a" ⟺ Q[m] − Q[a] ≤ tol_q AND t[m] − t[a] ≤ span,
# so the next anchor is MIN rn violating either bound — the recursion
# steps once per BIN (LATERAL min-scan) instead of once per ROW, and
# rows re-attach to their anchor with one ASOF join. Decision algebra
# is identical to the per-row CTE by construction (same Q, same strict
# inequalities, same tie-break order), and bit-equality is asserted at
# sf0.001 by tests/test_fast_bda_twin.py (verified once at sf0.01 and
# sf0.1 too: 1149 / 8521 bins, frame-equal; 120 s → 32 s at sf0.1).
# Used as the TIMED DuckDB twin in BASELINE.md and for tier-1-style
# sweeps at big scales; the registered oracle stays the per-row replay
# (rehearsed history, edit-freeze discipline).
_SBDA_FAST_TWIN = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    steps AS (
      SELECT antenna1, antenna2, time, vis_re, vis_im, weight,
             COALESCE(CAST(ROUND((abs(u - lag(u) OVER w) + abs(v - lag(v) OVER w)
                    + abs(w - lag(w) OVER w)) * 1000000.0) AS BIGINT), 0) AS dq,
             row_number() OVER w AS rn
      FROM vis WHERE row_id % 17 = 0
      WINDOW w AS (PARTITION BY antenna1, antenna2
                   ORDER BY time, row_id, u, v, w, vis_re)
    ),
    pre AS (
      SELECT antenna1, antenna2, time, vis_re, vis_im, weight, rn,
             SUM(dq) OVER (PARTITION BY antenna1, antenna2 ORDER BY rn
                           ROWS UNBOUNDED PRECEDING) AS q
      FROM steps
    ),
    anchors AS (
      SELECT antenna1, antenna2, CAST(0 AS BIGINT) AS bin_idx,
             rn AS a_rn, time AS a_t, q AS a_q
      FROM pre WHERE rn = 1
      UNION ALL
      SELECT a.antenna1, a.antenna2, a.bin_idx + 1, nxt.n_rn, nxt.n_t, nxt.n_q
      FROM anchors a
      JOIN LATERAL (
        SELECT p.rn AS n_rn, p.time AS n_t, p.q AS n_q
        FROM pre p
        WHERE p.antenna1 = a.antenna1 AND p.antenna2 = a.antenna2
          AND p.rn > a.a_rn
          AND (p.q - a.a_q > {_SBDA_TOL_Q} OR (p.time - a.a_t) > {_SBDA_SPAN!r})
        ORDER BY p.rn LIMIT 1
      ) nxt ON true
    ),
    assigned AS (
      SELECT p.antenna1, p.antenna2, a.bin_idx, p.time, p.vis_re, p.vis_im, p.weight
      FROM pre p ASOF JOIN anchors a
        ON p.antenna1 = a.antenna1 AND p.antenna2 = a.antenna2 AND p.rn >= a.a_rn
    )
    SELECT antenna1, antenna2, bin_idx,
           COUNT(*) AS n_rows,
           MIN(time) AS time_start,
           MAX(time) AS time_end,
           CAST(CAST(SUM(CAST(ROUND(vis_re * weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS vis_re_avg,
           CAST(CAST(SUM(CAST(ROUND(vis_im * weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS vis_im_avg,
           CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) / 1000000.0 AS weight_sum
    FROM assigned
    GROUP BY antenna1, antenna2, bin_idx
    ORDER BY antenna1, antenna2, bin_idx
"""


@register("bda_salted_average", _SBDA_ORACLE)
def bda_salted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe BDA (r7 verdict #2): the greedy decorrelation binning
    decomposed over a two-level (baseline, 30-day-bucket) key so no
    task holds a whole baseline — Phase-A per-bucket DP, a tiny
    per-baseline bucket-summary stitch, Phase-C re-scan emitting
    fixed-point PARTIAL sums merged exactly by a final groupBy
    (operators/skew.py:salted_bda_average, which runs the streaming
    increment streaming/salted.py:salted_bda_increment on the empty
    carry; a zero weight sum averages to NULL, as the oracle's double
    division does). Integer motion accumulation
    (quantized steps, deterministic.py discipline) is what makes the
    decomposition decision-identical to the sequential scan — the
    recursive-CTE oracle replays the same integer closures, and
    tests/test_salted_bda.py fuzzes bit-equality against the sequential
    twin on adversarial skew. Bins straddle buckets at these parameters
    (span 50 d > bucket 30 d), so the stitch path is what's checked."""
    from codex_africanus_spark.operators import skew as skew_op

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 17 == 0)
    out = skew_op.salted_bda_average(
        vis, _SBDA_TOL, _SBDA_SPAN, _SBDA_BUCKET
    )
    return out.orderBy("antenna1", "antenna2", "bin_idx")


# ------------------------------------------------------------------ #
# r11 (ROADMAP r12 candidate pulled forward): fast ANCHOR-CHAIN twins
# for the remaining tier-3 recursive-CTE BDA oracles whose closure rule
# reads ONLY (candidate row, bin-anchor row) — no running accumulator —
# so "row m closes the bin anchored at a" is a pure predicate of (m, a)
# and the greedy sequential scan is EXACTLY "next anchor = first rn
# violating the predicate" (first-violator semantics needs no
# monotonicity: every row between two anchors was tested against the
# same anchor in the per-row replay and passed, else it would be an
# earlier violator). The recursion steps once per BIN instead of once
# per ROW, which is what makes a full-depth sf1.0 run affordable.
# Bit-equality vs the registered per-row oracles is locked by
# tests/test_fast_bda_twin.py at sf0.001/sf0.01 and recorded at sf1.0
# in BASELINE.md (tools/sf1_bda_partial.py).
#
# The two ACCUMULATOR-carrying oracles (_BDA_ORACLE, _BDA_RAGGED_ORACLE)
# are NOT anchor-chainable bit-exactly: their acc is a sequential FLOAT
# fold (steps are multiples of 0.1 — not dyadic), and float addition is
# not associative, so a prefix-sum difference can differ from the
# sequential fold in the last ULP exactly at the 500.0 closure boundary.
# Those two get big-scale PARTIAL-PASS evidence instead: the identical
# plan on a deeper row slice via bda_partial_oracle() below.
# ------------------------------------------------------------------ #

_SEQ_BIN_FAST_TWIN = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    pre AS (
      SELECT antenna1, antenna2, time, vis_re, weight,
             row_number() OVER (PARTITION BY antenna1, antenna2
                                ORDER BY time, row_id, u, v, w, vis_re) AS rn
      FROM vis WHERE row_id % 17 = 0
    ),
    anchors AS (
      SELECT antenna1, antenna2, CAST(0 AS BIGINT) AS time_bin,
             rn AS a_rn, time AS a_t
      FROM pre WHERE rn = 1
      UNION ALL
      SELECT a.antenna1, a.antenna2, a.time_bin + 1, nxt.n_rn, nxt.n_t
      FROM anchors a
      JOIN LATERAL (
        SELECT p.rn AS n_rn, p.time AS n_t
        FROM pre p
        WHERE p.antenna1 = a.antenna1 AND p.antenna2 = a.antenna2
          AND p.rn > a.a_rn
          AND (p.time - a.a_t) > 1209600.0
        ORDER BY p.rn LIMIT 1
      ) nxt ON true
    ),
    assigned AS (
      SELECT p.antenna1, p.antenna2, a.time_bin, p.time, p.vis_re, p.weight
      FROM pre p ASOF JOIN anchors a
        ON p.antenna1 = a.antenna1 AND p.antenna2 = a.antenna2
       AND p.rn >= a.a_rn
    )
    SELECT antenna1, antenna2, time_bin,
           COUNT(*) AS n_rows,
           MIN(time) AS time_first,
           MAX(time) AS time_last,
           SUM(vis_re * weight) / SUM(weight) AS vis_re_avg,
           SUM(weight) AS weight_sum
    FROM assigned
    GROUP BY antenna1, antenna2, time_bin
    ORDER BY antenna1, antenna2, time_bin
"""


# The sinc closure predicate with (p = candidate row, a = anchor) in
# place of (o, r.<anchor carry>) — textually the same arithmetic as
# _BDA_SINC_CLOSE, so the decision algebra is identical by construction.
_BDA_SINC_HALF_FT = (
    "(SQRT((p.u - a.u_s)*(p.u - a.u_s) + (p.v - a.v_s)*(p.v - a.v_s) "
    f"+ (p.w - a.w_s)*(p.w - a.w_s)) * {bda_op.BDA_SINC_K!r} + 1e-8)"
)


_BDA_SINC_CLOSE_FT = (
    "((p.antenna1 <> p.antenna2) AND ("
    f"CAST(ROUND((SIN({_BDA_SINC_HALF_FT}) / {_BDA_SINC_HALF_FT}) * {bda_op.BDA_SINC_GRID!r}) AS BIGINT)"
    f" < {bda_op.BDA_SINC_TOL_Q} "
    "OR ((p.time + p.interval/2.0) - (a.t_s - a.iv_s/2.0)) > "
    f"{bda_op.BDA_TIME_BIN_SECS!r}))"
)


_BDA_SINC_FAST_TWIN = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    pre AS (
      SELECT antenna1, antenna2, time, u, v, w, interval, flag_row,
             vis_re, vis_im, weight,
             row_number() OVER (PARTITION BY antenna1, antenna2
                                ORDER BY time, row_id, u, v, w, vis_re) AS rn
      FROM vis WHERE row_id % 17 = 0
    ),
    anchors AS (
      SELECT antenna1, antenna2, CAST(0 AS BIGINT) AS bin_idx,
             rn AS a_rn, u AS u_s, v AS v_s, w AS w_s, time AS t_s,
             interval AS iv_s
      FROM pre WHERE rn = 1
      UNION ALL
      SELECT a.antenna1, a.antenna2, a.bin_idx + 1,
             nxt.n_rn, nxt.n_u, nxt.n_v, nxt.n_w, nxt.n_t, nxt.n_iv
      FROM anchors a
      JOIN LATERAL (
        SELECT p.rn AS n_rn, p.u AS n_u, p.v AS n_v, p.w AS n_w,
               p.time AS n_t, p.interval AS n_iv
        FROM pre p
        WHERE p.antenna1 = a.antenna1 AND p.antenna2 = a.antenna2
          AND p.rn > a.a_rn
          AND {_BDA_SINC_CLOSE_FT}
        ORDER BY p.rn LIMIT 1
      ) nxt ON true
    ),
    rec AS (
      SELECT p.antenna1, p.antenna2, a.bin_idx, p.rn, p.time, p.interval,
             p.u, p.v, p.w, p.flag_row, p.vis_re, p.vis_im, p.weight
      FROM pre p ASOF JOIN anchors a
        ON p.antenna1 = a.antenna1 AND p.antenna2 = a.antenna2
       AND p.rn >= a.a_rn
    )
    SELECT antenna1, antenna2, bin_idx,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN flag_row THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           ((arg_min(time, rn) - arg_min(interval, rn)/2.0)
            + (arg_max(time, rn) + arg_max(interval, rn)/2.0)) / 2.0 AS time_avg,
           (arg_max(time, rn) + arg_max(interval, rn)/2.0)
            - (arg_min(time, rn) - arg_min(interval, rn)/2.0) AS interval_out,
           CAST(CAST(SUM(CAST(ROUND(vis_re * weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS vis_re_avg,
           CAST(CAST(SUM(CAST(ROUND(vis_im * weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS vis_im_avg,
           SUM(weight) AS weight_sum,
           (SUM(CASE WHEN flag_row THEN 1 ELSE 0 END) = COUNT(*)) AS bin_flagged,
           CASE WHEN MIN(antenna1) = MIN(antenna2) OR {_BDA_SINC_MAD} = 0.0
                THEN -1.0
                ELSE CAST(ROUND(({bda_op.BDA_LIGHTSPEED!r} / (2.0 * PI()))
                           * ({bda_op.BDA_DECORRELATION!r} / {_BDA_SINC_MAD})
                           * 1000000) AS BIGINT) / 1000000.0
           END AS delta_nu
    FROM rec
    GROUP BY antenna1, antenna2, bin_idx
    ORDER BY antenna1, antenna2, bin_idx
"""


def bda_partial_oracle(oracle: str, mod: int) -> str:
    """Rewrite a registered BDA oracle's `row_id % 17 = 0` slice to a
    deeper modulus for big-scale partial-pass runs. Raises (survives
    `python -O`, r11 ADVICE) unless the slice literal appears exactly
    once, so a silent no-op/partial rewrite is impossible."""
    needle = "% 17 = 0"
    if oracle.count(needle) != 1:
        raise ValueError(
            f"slice literal {needle!r} appears {oracle.count(needle)}x "
            "(expected exactly 1) — refusing a partial/no-op rewrite"
        )
    return oracle.replace(needle, f"% {mod} = 0")


@register("closure_phases_triangles", _with_ms(cal_op.CLOSURE_PHASES_SQL))
def closure_phases_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure phases arg(V_ab)+arg(V_bc)−arg(V_ac) over every antenna
    triangle per time bin — the gain-phase-cancelling diagnostic
    (antenna terms cancel on the triangle). One O(#bins·#baselines)
    collapse then a triple self-join on the time bin; per-leg phases
    1e-9-quantized before the exact integer closure sum."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.closure_phases(vis).orderBy("tbin", "a", "b", "c")


@register(
    "antenna_flag_statistics",
    _with_ms(
        """
        , roles AS (
          SELECT antenna1 AS antenna, flag, flag_row FROM vis
          UNION ALL
          SELECT antenna2 AS antenna, flag, flag_row FROM vis
          WHERE antenna1 <> antenna2
        )
        SELECT antenna,
               COUNT(*) AS n_samples,
               CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_chan_flagged,
               CAST(SUM(CASE WHEN flag_row THEN 1 ELSE 0 END) AS BIGINT) AS n_row_flagged,
               CAST(SUM(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_any_flagged,
               (CAST(SUM(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END) AS BIGINT)
                * 1000000) / COUNT(*) AS flagged_ppm
        FROM roles GROUP BY antenna ORDER BY antenna
        """
    ),
)
def antenna_flag_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-antenna flag occupancy (the aoflagger-style flagging summary
    a telescope operator reads first): each sample credits both its
    antennas (autocorrs once); fractions as integer ppm — no float
    compare, map-side-combining union+groupBy, O(n_ant) output."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    roles = vis.select(
        F.col("antenna1").alias("antenna"), "flag", "flag_row"
    ).unionAll(
        vis.filter(F.col("antenna1") != F.col("antenna2")).select(
            F.col("antenna2").alias("antenna"), "flag", "flag_row"
        )
    )
    anyf = F.when(F.col("flag") | F.col("flag_row"), 1).otherwise(0)
    return (
        roles.groupBy("antenna")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("n_chan_flagged"),
            F.sum(F.when(F.col("flag_row"), 1).otherwise(0)).alias("n_row_flagged"),
            F.sum(anyf).alias("n_any_flagged"),
            ((F.sum(anyf) * 1000000) / F.count(F.lit(1))).alias("flagged_ppm"),
        )
        .orderBy("antenna")
    )


@register("rfi_zscore_flag_report", _with_ms(cal_op.RFI_SQL()))
def rfi_zscore_flag_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amplitude-outlier RFI detector (aoflagger-style first pass):
    flag samples with |z| > 3 within each (baseline, chan, time-bin)
    population, decided entirely in exact 128-bit integers
    (DECIMAL(38,0) ↔ HUGEINT — no int64 overflow at any per-bin
    population); per-baseline occupancy report."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.rfi_zscore_report(vis)


@register("uvlin_continuum_subtract", _with_ms(cal_op.UVLIN_SQL()))
def uvlin_continuum_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UV-plane continuum subtraction (uvlin): fit re/im linearly in
    channel per (baseline, time-bin) from exact integer sums, subtract
    the fit — the spectral-line extraction step. The fit table joins
    back broadcast at diagnostic cardinality; residuals are exact
    integer-ratio arithmetic with no ROUND at the engine boundary."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.uvlin_continuum_subtract(vis).orderBy(
        "tbin", "antenna1", "antenna2", "chan"
    )


@register(
    "bandpass_autocorr_estimate",
    _with_ms(
        """
        SELECT antenna1 AS antenna, chan,
               COUNT(*) AS n_samples,
               SUM(CAST(ROUND(sqrt(vis_re * vis_re + vis_im * vis_im)
                              * 1000000.0) AS BIGINT)) / 1000000.0 / COUNT(*)
                 AS mean_autocorr_amp
        FROM vis
        WHERE antenna1 = antenna2 AND NOT (flag OR flag_row)
        GROUP BY antenna1, chan
        ORDER BY antenna, chan
        """
    ),
)
def bandpass_autocorr_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial bandpass shape from autocorrelations: per (antenna, chan)
    mean unflagged autocorr amplitude — the first-look B-Jones estimate
    a calibration pipeline seeds from. One map-side-combining groupBy at
    (n_ant × n_chan) output cardinality; amplitudes 1e-6-quantized
    before the exact integer mean."""
    from codex_africanus_spark.functions.deterministic import qsum

    vis = tpch_ms.vis_table(spark, sf_dir)
    amp = F.sqrt(
        F.col("vis_re") * F.col("vis_re") + F.col("vis_im") * F.col("vis_im")
    )
    return (
        vis.filter(
            (F.col("antenna1") == F.col("antenna2"))
            & ~(F.col("flag") | F.col("flag_row"))
        )
        .groupBy(F.col("antenna1").alias("antenna"), "chan")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            (qsum(amp, 1e6) / F.lit(1e6) / F.count(F.lit(1))).alias(
                "mean_autocorr_amp"
            ),
        )
        .orderBy("antenna", "chan")
    )


_MERGE_FLAGS_ORACLE = _with_ms(
    """
    , per_row AS (
      SELECT row_id, antenna1, antenna2,
             MIN(CAST(flag AS INT)) AS all_chan_flagged,
             MAX(CAST(flag_row AS INT)) AS any_flag_row
      FROM vis GROUP BY row_id, antenna1, antenna2
    )
    SELECT row_id, antenna1, antenna2,
           (any_flag_row = 1 OR all_chan_flagged = 1) AS merged_flag_row,
           (all_chan_flagged = 1) AS derived_from_chans
    FROM per_row ORDER BY row_id, antenna1, antenna2
    """
)


@register("merge_flags_row_chan", _MERGE_FLAGS_ORACLE)
def merge_flags_row_chan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_flags: derive/reconcile row flags from per-channel flags —
    flag_row ∨ all-channels-flagged (reference averaging/shared.py:19-87)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    per_row = vis.groupBy("row_id", "antenna1", "antenna2").agg(
        F.min(F.col("flag").cast("int")).alias("all_chan_flagged"),
        F.max(F.col("flag_row").cast("int")).alias("any_flag_row"),
    )
    return per_row.select(
        "row_id",
        "antenna1",
        "antenna2",
        ((F.col("any_flag_row") == 1) | (F.col("all_chan_flagged") == 1)).alias("merged_flag_row"),
        (F.col("all_chan_flagged") == 1).alias("derived_from_chans"),
    )


# The sequential scan is expressible as a RECURSIVE CTE: the working
# table advances one row per baseline per iteration, carrying
# (time_bin, bin_start) — exactly the applyInPandas loop. The bin
# aggregates are sums of integer-valued doubles (quantity, small
# weights), hence order-independent-exact without quantization.
_SEQ_BIN_ORACLE = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    ordered AS (
      SELECT antenna1, antenna2, time, vis_re, weight,
             row_number() OVER (PARTITION BY antenna1, antenna2
                                ORDER BY time, row_id, u, v, w, vis_re) AS rn
      FROM vis WHERE row_id % 17 = 0
    ),
    rec AS (
      SELECT antenna1, antenna2, rn, time, vis_re, weight,
             CAST(0 AS BIGINT) AS time_bin, time AS bin_start
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.antenna1, o.antenna2, o.rn, o.time, o.vis_re, o.weight,
             CASE WHEN o.time - r.bin_start > 1209600.0
                  THEN r.time_bin + 1 ELSE r.time_bin END,
             CASE WHEN o.time - r.bin_start > 1209600.0
                  THEN o.time ELSE r.bin_start END
      FROM rec r
      JOIN ordered o ON o.antenna1 = r.antenna1 AND o.antenna2 = r.antenna2
                    AND o.rn = r.rn + 1
    )
    SELECT antenna1, antenna2, time_bin,
           COUNT(*) AS n_rows,
           MIN(time) AS time_first,
           MAX(time) AS time_last,
           SUM(vis_re * weight) / SUM(weight) AS vis_re_avg,
           SUM(weight) AS weight_sum
    FROM rec
    GROUP BY antenna1, antenna2, time_bin
    ORDER BY antenna1, antenna2, time_bin
"""


@register("time_bin_sequential_exact", _SEQ_BIN_ORACLE)
def time_bin_sequential_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bin-start-anchored sequential time binning per baseline
    (reference time_and_channel_mapping.py:249-316) — the applyInPandas
    scan, exactly oracled by a recursive-CTE replay of the same rule
    (pandas-equivalence test additionally covers values). The oracle's
    recursion advances one row per baseline per iteration, so the exact
    gate runs on a row slice to bound its depth; the pandas twin covers
    the full table."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 17 == 0)
    return avg_op.time_bin_sequential(vis).orderBy("antenna1", "antenna2", "time_bin")


_PIPELINE_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
      FROM vis v, src s WHERE s.source_type = 'POINT'
    ), model AS (
      SELECT row_id, antenna1, antenna2, chan,
             SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_re,
             SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_im
      FROM coh GROUP BY row_id, antenna1, antenna2, chan
    ), corrupted AS (
      SELECT m.row_id, m.antenna1, m.antenna2, m.chan,
             round((g1.gain_re*m.model_re - g1.gain_im*m.model_im) * g2.gain_re
                   + (g1.gain_re*m.model_im + g1.gain_im*m.model_re) * g2.gain_im, 6) AS c_re,
             round((g1.gain_re*m.model_im + g1.gain_im*m.model_re) * g2.gain_re
                   - (g1.gain_re*m.model_re - g1.gain_im*m.model_im) * g2.gain_im, 6) AS c_im
      FROM model m
      JOIN gains g1 ON g1.antenna = m.antenna1 AND g1.chan = m.chan
      JOIN gains g2 ON g2.antenna = m.antenna2 AND g2.chan = m.chan
    )
    SELECT c.antenna1, c.antenna2,
           CAST(FLOOR(v.time / 604800.0) AS BIGINT) AS time_bin,
           CAST(c.chan // 2 AS INT)                 AS chan_bin,
           COUNT(*) AS nsamples,
           SUM(CAST(ROUND(c.c_re * v.weight * 1000000) AS BIGINT))
             / SUM(CAST(ROUND(v.weight * 1000000) AS BIGINT)) AS vis_re_avg,
           SUM(CAST(ROUND(c.c_im * v.weight * 1000000) AS BIGINT))
             / SUM(CAST(ROUND(v.weight * 1000000) AS BIGINT)) AS vis_im_avg
    FROM corrupted c
    JOIN vis v ON v.row_id = c.row_id AND v.antenna1 = c.antenna1
              AND v.antenna2 = c.antenna2 AND v.chan = c.chan
    WHERE NOT (v.flag OR v.flag_row)
    GROUP BY c.antenna1, c.antenna2, time_bin, chan_bin
    ORDER BY c.antenna1, c.antenna2, time_bin, chan_bin
    """
)


@register("pipeline_predict_corrupt_average", _PIPELINE_ORACLE)
def pipeline_predict_corrupt_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MS pipeline: point-source predict → G·V·Gᴴ corruption →
    flag-gated weighted time/channel averaging — three operator families
    composed with the fixed-point discipline carried through every
    stage, so even the 3-deep pipeline hash-matches the oracle exactly
    (the reference runs this chain as separate dask graphs;
    here it is ONE Catalyst plan end to end)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_type") == "POINT")
    gains = tpch_ms.gains_table(spark)
    model = predict_op.predict_point_vis(vis, src, with_shape=False)
    corrupted = predict_op.apply_gains(model, gains)
    joined = corrupted.join(
        vis.select("row_id", "antenna1", "antenna2", "chan",
                   "time", "weight", "flag", "flag_row"),
        ["row_id", "antenna1", "antenna2", "chan"],
    ).filter(~(F.col("flag") | F.col("flag_row")))
    return (
        joined.groupBy(
            "antenna1", "antenna2",
            F.floor(F.col("time") / F.lit(604800.0)).cast("long").alias("time_bin"),
            F.expr("chan DIV 2").cast("int").alias("chan_bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("nsamples"),
            (qsum(F.col("corrupted_re") * F.col("weight"), 1e6)
             / qsum(F.col("weight"), 1e6)).alias("vis_re_avg"),
            (qsum(F.col("corrupted_im") * F.col("weight"), 1e6)
             / qsum(F.col("weight"), 1e6)).alias("vis_im_avg"),
        )
        .orderBy("antenna1", "antenna2", "time_bin", "chan_bin")
    )


# Ragged BDA mirror: the same bit-identical recursion as _BDA_ORACLE,
# plus the per-bin channel factor taken from the bin's FINAL accumulated
# motion (arg_max(acc, rn)) and the chan DIV factor regrouping. The
# kernel walks ALL (time, row_id) rows of a baseline — it must NOT
# dedup the motion grid: the sf1.0 generator's key-shifted copies land
# (time, row_id) PK collisions with DIFFERENT uvw on the same baseline
# (first seen at sf1.0, commit bc0d594), and skipping the motion step
# between such duplicates forked the binning against this oracle, which
# has always walked every row.
_BDA_RAGGED_ORACLE = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    ordered AS (
      SELECT antenna1, antenna2, time, row_id, u, v, w, chan,
             vis_re, vis_im, weight,
             row_number() OVER (PARTITION BY antenna1, antenna2
                                ORDER BY time, row_id, u, v, w, vis_re) AS rn
      FROM vis WHERE row_id % 17 = 0
    ),
    rec AS (
      SELECT antenna1, antenna2, rn, time, u, v, w,
             CAST(0 AS BIGINT) AS bin_idx, time AS start_t,
             CAST(0.0 AS DOUBLE) AS acc
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.antenna1, o.antenna2, o.rn, o.time, o.u, o.v, o.w,
             CASE WHEN r.acc + (abs(o.u - r.u) + abs(o.v - r.v) + abs(o.w - r.w)) > 500.0
                       OR (o.time - r.start_t) > 2592000.0
                  THEN r.bin_idx + 1 ELSE r.bin_idx END,
             CASE WHEN r.acc + (abs(o.u - r.u) + abs(o.v - r.v) + abs(o.w - r.w)) > 500.0
                       OR (o.time - r.start_t) > 2592000.0
                  THEN o.time ELSE r.start_t END,
             CASE WHEN r.acc + (abs(o.u - r.u) + abs(o.v - r.v) + abs(o.w - r.w)) > 500.0
                       OR (o.time - r.start_t) > 2592000.0
                  THEN 0.0 ELSE r.acc + (abs(o.u - r.u) + abs(o.v - r.v) + abs(o.w - r.w)) END
      FROM rec r
      JOIN ordered o ON o.antenna1 = r.antenna1 AND o.antenna2 = r.antenna2
                    AND o.rn = r.rn + 1
    ),
    fct AS (
      SELECT antenna1, antenna2, bin_idx, arg_max(acc, rn) AS motion
      FROM rec GROUP BY antenna1, antenna2, bin_idx
    ),
    assigned AS (
      SELECT o.antenna1, o.antenna2, r.bin_idx, o.chan,
             o.vis_re, o.vis_im, o.weight,
             CAST(CASE WHEN f.motion <= 125.0 THEN 4
                       WHEN f.motion <= 250.0 THEN 2 ELSE 1 END AS INT) AS chan_factor
      FROM ordered o
      JOIN rec r ON r.antenna1 = o.antenna1 AND r.antenna2 = o.antenna2
                AND r.rn = o.rn
      JOIN fct f ON f.antenna1 = o.antenna1 AND f.antenna2 = o.antenna2
                AND f.bin_idx = r.bin_idx
    )
    SELECT antenna1, antenna2, bin_idx, chan_factor,
           CAST(chan // chan_factor AS INT) AS chan_out,
           COUNT(*) AS n_samples,
           round(SUM(vis_re * weight) / SUM(weight), 6) AS vis_re_avg,
           round(SUM(vis_im * weight) / SUM(weight), 6) AS vis_im_avg,
           SUM(weight) AS weight_sum
    FROM assigned
    GROUP BY antenna1, antenna2, bin_idx, chan_factor, chan_out
    ORDER BY antenna1, antenna2, bin_idx, chan_out
"""


# ---------------------------------------------------------------------------
# r12 (r11 verdict item 3): EXACT fast anchor-chain twins for the two
# FLOAT-accumulator BDA oracles. Unlike the integer-motion tier
# (_SBDA_FAST_TWIN), these oracles left-fold a DOUBLE accumulator that
# resets per bin — a window prefix sum is only an estimator of the fold
# and a first est-based prototype genuinely FORKED at sf0.01 (1460 vs
# 1459 bins): the corpus puts fold values ULPs from the thresholds.
#
# The exact decomposition rests on the uvw grid: u, v, w are integer
# tenths (VIS_SQL: k/10.0), so every REAL step and accumulator value is
# a multiple of 0.1 and every REAL decision margin against the decimal
# thresholds (500.0 close; 125.0/250.0 ragged factor) is either EXACTLY
# ZERO or >= 0.1. The double fold's within-bin error is
# <= binlen·eps·(500 + step) ~ 1e-11 << 0.1, and the integer deci-grid
# prefix Q = Σ round-recovered steps is exact, so:
#
#   * real margin >= 0.1  → the integer compare (Q_j − Q_a vs 5000)
#     decides IDENTICALLY to the oracle's double fold;
#   * real margin == 0    → a genuine decimal TIE: the oracle's outcome
#     is the SIGN of the double fold's accumulated rounding — replayed
#     exactly by list_reduce over the bin's own step doubles (same
#     left-assoc add sequence, bounded by the bin length).
#
# The anchor chain steps once per BIN (LATERAL first-violator scan with
# the CASE-guarded tie fold), rows re-attach with one ASOF join, and the
# aggregate/output text is verbatim the registered oracles'.
# Bit-equality locked by tests/test_fast_bda_twin.py at sf0.001/0.01;
# tools/sf1_bda_twin_check.py replays twin-vs-Spark at sf1.0.
# ---------------------------------------------------------------------------


def _bda_float_anchor_ctes(extra_cols: str) -> str:
    """Shared WITH-body: ordered rows + double steps + exact deci-grid
    prefix + tie-resolving anchor chain + ASOF assignment. `extra_cols`
    rides extra ordered columns (chan for the ragged twin)."""
    return f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    ordered AS (
      SELECT antenna1, antenna2, time, row_id, u, v, w, vis_re, vis_im,
             weight{extra_cols},
             row_number() OVER (PARTITION BY antenna1, antenna2
                                ORDER BY time, row_id, u, v, w, vis_re) AS rn
      FROM vis WHERE row_id % 17 = 0
    ),
    steps AS (
      SELECT *,
             COALESCE(abs(u - lag(u) OVER w) + abs(v - lag(v) OVER w)
                      + abs(w - lag(w) OVER w), 0.0) AS s,
             COALESCE(abs(CAST(ROUND(u * 10) AS BIGINT)
                          - lag(CAST(ROUND(u * 10) AS BIGINT)) OVER w)
                      + abs(CAST(ROUND(v * 10) AS BIGINT)
                            - lag(CAST(ROUND(v * 10) AS BIGINT)) OVER w)
                      + abs(CAST(ROUND(w * 10) AS BIGINT)
                            - lag(CAST(ROUND(w * 10) AS BIGINT)) OVER w),
                      CAST(0 AS BIGINT)) AS s10
      FROM ordered
      WINDOW w AS (PARTITION BY antenna1, antenna2 ORDER BY rn)
    ),
    pre AS (
      SELECT *,
             SUM(s10) OVER (PARTITION BY antenna1, antenna2 ORDER BY rn
                            ROWS UNBOUNDED PRECEDING) AS q
      FROM steps
    ),
    arrs AS (
      SELECT antenna1, antenna2, list(s ORDER BY rn) AS sarr
      FROM pre GROUP BY antenna1, antenna2
    ),
    anchors AS (
      SELECT antenna1, antenna2, CAST(0 AS BIGINT) AS bin_idx,
             rn AS a_rn, time AS a_t, q AS a_q
      FROM pre WHERE rn = 1
      UNION ALL
      SELECT a.antenna1, a.antenna2, a.bin_idx + 1, nxt.n_rn, nxt.n_t, nxt.n_q
      FROM anchors a
      JOIN LATERAL (
        SELECT p2.rn AS n_rn, p2.time AS n_t, p2.q AS n_q
        FROM pre p2, arrs ar
        WHERE ar.antenna1 = a.antenna1 AND ar.antenna2 = a.antenna2
          AND p2.antenna1 = a.antenna1 AND p2.antenna2 = a.antenna2
          AND p2.rn > a.a_rn
          AND ( (p2.time - a.a_t) > 2592000.0
                OR CASE
                     WHEN p2.q - a.a_q > 5000 THEN TRUE
                     WHEN p2.q - a.a_q = 5000 THEN
                       -- decimal tie: the oracle's decision is the sign
                       -- of the double fold's rounding — replay it
                       list_reduce(list_slice(ar.sarr,
                                              CAST(a.a_rn + 1 AS BIGINT),
                                              CAST(p2.rn AS BIGINT)),
                                   (x, y) -> x + y) > 500.0
                     ELSE FALSE
                   END )
        ORDER BY p2.rn LIMIT 1
      ) nxt ON true
    ),
    assigned AS (
      SELECT p.*, a.bin_idx, a.a_rn, a.a_t, a.a_q
      FROM pre p ASOF JOIN anchors a
        ON p.antenna1 = a.antenna1 AND p.antenna2 = a.antenna2
       AND p.rn >= a.a_rn
    )"""


_BDA_PLAIN_FAST_TWIN = f"""
    {_bda_float_anchor_ctes("")}
    SELECT antenna1, antenna2, bin_idx,
           COUNT(*) AS n_rows,
           MIN(time) AS time_start,
           MAX(time) AS time_end,
           round(SUM(vis_re * weight) / SUM(weight), 6) AS vis_re_avg,
           round(SUM(vis_im * weight) / SUM(weight), 6) AS vis_im_avg,
           SUM(weight) AS weight_sum
    FROM assigned
    GROUP BY antenna1, antenna2, bin_idx
    ORDER BY antenna1, antenna2, bin_idx
"""


# The ragged factor thresholds are decimal too (125.0 / 250.0 = 1250 /
# 2500 deci-units): integer compare except at exact ties, where the
# bin-window double fold decides — same argument as the closure.
_BDA_RAGGED_FAST_TWIN = f"""
    {_bda_float_anchor_ctes(", chan")}
    , fct AS (
      SELECT o.antenna1, o.antenna2, o.bin_idx,
             MAX(o.q) - MAX(o.a_q) AS m10,
             CASE WHEN MAX(o.q) > MAX(o.a_q) THEN
               list_reduce(list_slice(ar.sarr,
                                      CAST(MAX(o.a_rn) + 1 AS BIGINT),
                                      CAST(MAX(o.rn) AS BIGINT)),
                           (x, y) -> x + y)
             ELSE 0.0 END AS motion_fold
      FROM assigned o, arrs ar
      WHERE ar.antenna1 = o.antenna1 AND ar.antenna2 = o.antenna2
      GROUP BY o.antenna1, o.antenna2, o.bin_idx, ar.sarr
    ),
    labeled AS (
      SELECT o.antenna1, o.antenna2, o.bin_idx, o.chan,
             o.vis_re, o.vis_im, o.weight,
             CAST(CASE WHEN f.m10 < 1250 THEN 4
                       WHEN f.m10 = 1250 THEN
                         CASE WHEN f.motion_fold <= 125.0 THEN 4 ELSE 2 END
                       WHEN f.m10 < 2500 THEN 2
                       WHEN f.m10 = 2500 THEN
                         CASE WHEN f.motion_fold <= 250.0 THEN 2 ELSE 1 END
                       ELSE 1 END AS INT) AS chan_factor
      FROM assigned o
      JOIN fct f ON f.antenna1 = o.antenna1 AND f.antenna2 = o.antenna2
                AND f.bin_idx = o.bin_idx
    )
    SELECT antenna1, antenna2, bin_idx, chan_factor,
           CAST(chan // chan_factor AS INT) AS chan_out,
           COUNT(*) AS n_samples,
           round(SUM(vis_re * weight) / SUM(weight), 6) AS vis_re_avg,
           round(SUM(vis_im * weight) / SUM(weight), 6) AS vis_im_avg,
           SUM(weight) AS weight_sum
    FROM labeled
    GROUP BY antenna1, antenna2, bin_idx, chan_factor, chan_out
    ORDER BY antenna1, antenna2, bin_idx, chan_out
"""


def bda_fast_twin_decomposed(ragged: bool) -> tuple[list[str], str]:
    """Big-scale form of the float-BDA fast twins (r12): the inline
    twins drag the per-baseline step ARRAY through the recursion's
    LATERAL (the tie branch joins `arrs`), which DuckDB re-materializes
    per candidate row — ~0.1 s/round at sf1 row counts. This form
    precomputes every POSSIBLE decimal tie outside the recursion — the
    pairs with q_j − q_i exactly at a threshold, found by an equi-join
    on the exact integer prefix (a superset of the anchor pairs; tiny
    by the tie-rarity argument) — with their double-fold decisions, so
    the recursion touches only scalar temp tables.

    Returns (setup_sql_statements, twin_sql); run the setups on a
    connection with a `lineitem` view, then the twin. Result-identical
    to the inline twins (locked at sf0.001/0.01 by
    tests/test_fast_bda_twin.py::test_decomposed_*)."""
    extra = ", chan" if ragged else ""
    inline = _BDA_RAGGED_FAST_TWIN if ragged else _BDA_PLAIN_FAST_TWIN
    i0 = inline.index("anchors AS (")
    head = inline[:i0].rstrip()
    if not head.endswith(","):
        raise ValueError("unexpected twin head shape")
    setups = [
        "CREATE OR REPLACE TEMP TABLE pre_mat AS "
        + head[:-1].replace("WITH RECURSIVE", "WITH", 1)
        + " SELECT * FROM pre",
        "CREATE OR REPLACE TEMP TABLE arrs_mat AS "
        "SELECT antenna1, antenna2, list(s ORDER BY rn) AS sarr "
        "FROM pre_mat GROUP BY antenna1, antenna2",
        # closure ties: q-diff exactly 5000 deci-units (real acc exactly
        # 500.0) — the double fold's sign is the oracle's decision
        """CREATE OR REPLACE TEMP TABLE tie_close AS
           SELECT i.antenna1, i.antenna2, i.rn AS a_rn, j.rn AS j_rn,
                  list_reduce(list_slice(ar.sarr,
                                         CAST(i.rn + 1 AS BIGINT),
                                         CAST(j.rn AS BIGINT)),
                              (x, y) -> x + y) > 500.0 AS closes
           FROM pre_mat i
           JOIN pre_mat j ON j.antenna1 = i.antenna1
                         AND j.antenna2 = i.antenna2
                         AND j.q = i.q + 5000 AND j.rn > i.rn
           JOIN arrs_mat ar ON ar.antenna1 = i.antenna1
                           AND ar.antenna2 = i.antenna2""",
    ]
    if ragged:
        setups.append(
            """CREATE OR REPLACE TEMP TABLE tie_factor AS
               SELECT i.antenna1, i.antenna2, i.rn AS a_rn, j.rn AS j_rn,
                      j.q - i.q AS dq10,
                      list_reduce(list_slice(ar.sarr,
                                             CAST(i.rn + 1 AS BIGINT),
                                             CAST(j.rn AS BIGINT)),
                                  (x, y) -> x + y) AS fold
               FROM pre_mat i
               JOIN pre_mat j ON j.antenna1 = i.antenna1
                             AND j.antenna2 = i.antenna2
                             AND (j.q = i.q + 1250 OR j.q = i.q + 2500)
                             AND j.rn > i.rn
               JOIN arrs_mat ar ON ar.antenna1 = i.antenna1
                               AND ar.antenna2 = i.antenna2"""
        )
    anchors_sql = """
    WITH RECURSIVE pre AS (SELECT * FROM pre_mat),
    anchors AS (
      SELECT antenna1, antenna2, CAST(0 AS BIGINT) AS bin_idx,
             rn AS a_rn, time AS a_t, q AS a_q
      FROM pre WHERE rn = 1
      UNION ALL
      SELECT a.antenna1, a.antenna2, a.bin_idx + 1, nxt.n_rn, nxt.n_t, nxt.n_q
      FROM anchors a
      JOIN LATERAL (
        SELECT p2.rn AS n_rn, p2.time AS n_t, p2.q AS n_q
        FROM pre p2
        WHERE p2.antenna1 = a.antenna1 AND p2.antenna2 = a.antenna2
          AND p2.rn > a.a_rn
          AND ( (p2.time - a.a_t) > 2592000.0
                OR p2.q - a.a_q > 5000
                OR (p2.q - a.a_q = 5000 AND EXISTS (
                      SELECT 1 FROM tie_close t
                      WHERE t.antenna1 = p2.antenna1
                        AND t.antenna2 = p2.antenna2
                        AND t.a_rn = a.a_rn AND t.j_rn = p2.rn
                        AND t.closes)) )
        ORDER BY p2.rn LIMIT 1
      ) nxt ON true
    ),
    assigned AS (
      SELECT p.*, a.bin_idx, a.a_rn, a.a_t, a.a_q
      FROM pre p ASOF JOIN anchors a
        ON p.antenna1 = a.antenna1 AND p.antenna2 = a.antenna2
       AND p.rn >= a.a_rn
    )"""
    if not ragged:
        twin = anchors_sql + """
    SELECT antenna1, antenna2, bin_idx,
           COUNT(*) AS n_rows,
           MIN(time) AS time_start,
           MAX(time) AS time_end,
           round(SUM(vis_re * weight) / SUM(weight), 6) AS vis_re_avg,
           round(SUM(vis_im * weight) / SUM(weight), 6) AS vis_im_avg,
           SUM(weight) AS weight_sum
    FROM assigned
    GROUP BY antenna1, antenna2, bin_idx
    ORDER BY antenna1, antenna2, bin_idx
"""
    else:
        twin = anchors_sql + """
    , fct AS (
      SELECT antenna1, antenna2, bin_idx,
             MAX(q) - MAX(a_q) AS m10,
             MAX(a_rn) AS f_a_rn, MAX(rn) AS f_rn
      FROM assigned GROUP BY antenna1, antenna2, bin_idx
    ),
    labeled AS (
      SELECT o.antenna1, o.antenna2, o.bin_idx, o.chan,
             o.vis_re, o.vis_im, o.weight,
             CAST(CASE WHEN f.m10 < 1250 THEN 4
                       WHEN f.m10 = 1250 THEN
                         CASE WHEN tf.fold <= 125.0 THEN 4 ELSE 2 END
                       WHEN f.m10 < 2500 THEN 2
                       WHEN f.m10 = 2500 THEN
                         CASE WHEN tf.fold <= 250.0 THEN 2 ELSE 1 END
                       ELSE 1 END AS INT) AS chan_factor
      FROM assigned o
      JOIN fct f ON f.antenna1 = o.antenna1 AND f.antenna2 = o.antenna2
                AND f.bin_idx = o.bin_idx
      LEFT JOIN tie_factor tf ON tf.antenna1 = f.antenna1
                             AND tf.antenna2 = f.antenna2
                             AND tf.a_rn = f.f_a_rn AND tf.j_rn = f.f_rn
                             AND tf.dq10 = f.m10
    )
    SELECT antenna1, antenna2, bin_idx, chan_factor,
           CAST(chan // chan_factor AS INT) AS chan_out,
           COUNT(*) AS n_samples,
           round(SUM(vis_re * weight) / SUM(weight), 6) AS vis_re_avg,
           round(SUM(vis_im * weight) / SUM(weight), 6) AS vis_im_avg,
           SUM(weight) AS weight_sum
    FROM labeled
    GROUP BY antenna1, antenna2, bin_idx, chan_factor, chan_out
    ORDER BY antenna1, antenna2, bin_idx, chan_out
"""
    return setups, twin


@register("bda_ragged_channel_factor", _BDA_RAGGED_ORACLE)
def bda_ragged_channel_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BDA with per-bin channel compression factor — the reference's
    ragged output (finalise_bin chooses nchan per bin from
    decorrelation): slow baselines average more channels. Exactly
    oracled by the recursive replay plus the arg_max motion lookup
    (invariants additionally tested in test_bda_clean_equivalence.py)."""
    return _bda_ragged_build(spark, sf_dir, 17)


def _bda_ragged_build(spark: SparkSession, sf_dir: str, mod: int = 17) -> DataFrame:
    """Shared builder for `bda_ragged_channel_factor` (slice modulus
    parameterized for the sf1+ partial-pass gate, r11)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % mod == 0)
    out = bda_op.bda_ragged(vis)
    return out.select(
        "antenna1", "antenna2", "bin_idx", "chan_factor", "chan_out", "n_samples",
        F.round(F.col("vis_re_avg"), 6).alias("vis_re_avg"),
        F.round(F.col("vis_im_avg"), 6).alias("vis_im_avg"),
        "weight_sum",
    ).orderBy("antenna1", "antenna2", "bin_idx", "chan_out")


@register("gains_time_linear_interp", _with_ms(cal_op.GAINS_INTERP_SQL()))
def gains_time_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solution-interval gain interpolation (applycal interp='linear'):
    every row linearly blends its two bracketing per-antenna solutions
    (bin-centre grid, edge-clamped) through four BROADCAST joins — the
    fact table never shuffles. 1e-9-quantized outputs."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.gains_time_interp(vis).orderBy("row_id")


@register(
    "flag_occupancy_waterfall",
    _with_ms(
        """
        SELECT CAST(FLOOR(time / 2592000.0) AS BIGINT) AS tbin,
               CAST(chan AS BIGINT) AS chan,
               COUNT(*) AS n_samples,
               CAST(SUM(CASE WHEN flag_row THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_row,
               CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_chan,
               CAST(SUM(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               (SUM(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END) * 1000000)
                 / COUNT(*) AS occupancy_ppm
        FROM vis
        GROUP BY 1, 2
        ORDER BY 1, 2
        """
    ),
)
def flag_occupancy_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag-occupancy waterfall (time-bin × channel): the RFI/quality
    heat map every observatory pipeline plots, as one partial-agg
    groupBy over the two-tier flag columns — complements the
    per-antenna rollup (antenna_flag_statistics) on the orthogonal
    axes."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return (
        vis.groupBy(
            F.floor(F.col("time") / F.lit(2_592_000.0)).cast("long").alias("tbin"),
            F.col("chan").cast("long").alias("chan"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(F.col("flag_row").cast("long")).alias("n_flag_row"),
            F.sum(F.col("flag").cast("long")).alias("n_flag_chan"),
            F.sum((F.col("flag") | F.col("flag_row")).cast("long")).alias("n_flagged"),
            # decimal(38,0) multiply before the scale-up: the long form
            # hits ANSI ARITHMETIC_OVERFLOW once a (tbin, chan) cell
            # exceeds ~9.2e12 flagged rows; the twin computes in HUGEINT
            # (r7 advice — same class as rfi_zscore_report).
            (
                (
                    F.sum((F.col("flag") | F.col("flag_row")).cast("long"))
                    .cast("decimal(38,0)") * 1000000
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("occupancy_ppm"),
        )
        .orderBy("tbin", "chan")
    )


@register("hanning_smooth_spectra", _with_ms(cal_op.HANNING_SQL))
def hanning_smooth_spectra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASA hanningsmooth: 0.25/0.5/0.25 spectral convolution per row
    with edge passthrough — one row-partitioned lag/lead window, dyadic
    taps (bit-identical doubles, no quantization needed)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.hanning_smooth_spectra(vis).orderBy(
        "time", "antenna1", "antenna2", "chan"
    )


@register("vis_noise_estimate_diffchan", _with_ms(cal_op.NOISE_EST_SQL))
def vis_noise_estimate_diffchan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-channel-difference noise estimator per baseline
    (sigma-hat^2 = sum(dV^2)/(4 n) over both quadratures): the SEFD /
    weight-column sanity check, with quantized diffs square-summed in
    decimal(38,0)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.vis_noise_estimate(vis).orderBy("antenna1", "antenna2")


_REDUNDANT_BL_ORACLE = _with_ms(
    """
    , cells AS (
      SELECT CAST(FLOOR(u / 25.0) AS BIGINT) AS cu,
             CAST(FLOOR(v / 25.0) AS BIGINT) AS cv,
             antenna1 * 7 + antenna2 AS bl, vis_re, vis_im
      FROM vis
    ), g AS (
      SELECT cu, cv, COUNT(*) AS n_rows, COUNT(DISTINCT bl) AS n_baselines,
             SUM(CAST(ROUND(vis_re * 1000000) AS BIGINT)) AS sre,
             SUM(CAST(ROUND(vis_im * 1000000) AS BIGINT)) AS sim
      FROM cells GROUP BY cu, cv
    )
    SELECT cu, cv, n_rows, n_baselines,
           round((sre / 1000000.0) / n_rows, 9) AS mean_re,
           round((sim / 1000000.0) / n_rows, 9) AS mean_im
    FROM g WHERE n_baselines >= 2 ORDER BY cu, cv
    """
)


@register("redundant_baseline_average", _REDUNDANT_BL_ORACLE)
def redundant_baseline_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redundant-baseline averaging (the compact-array calibration
    primitive: physically identical baselines see the same sky, so their
    visibilities average coherently): quantize (u, v) to 25-wavelength
    cells, average vis over cells sampled by ≥ 2 distinct baselines.
    One partial-agg shuffle at cell cardinality; the distinct-baseline
    count rides the same exchange."""
    from codex_africanus_spark.functions.deterministic import qsum

    vis = tpch_ms.vis_table(spark, sf_dir)
    cells = vis.select(
        F.floor(F.col("u") / 25.0).cast("long").alias("cu"),
        F.floor(F.col("v") / 25.0).cast("long").alias("cv"),
        (F.col("antenna1") * 7 + F.col("antenna2")).alias("bl"),
        "vis_re", "vis_im",
    )
    return (
        cells.groupBy("cu", "cv")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("bl").alias("n_baselines"),
            qsum(F.col("vis_re"), 1e6).alias("sre"),
            qsum(F.col("vis_im"), 1e6).alias("sim"),
        )
        .filter(F.col("n_baselines") >= 2)
        .select(
            "cu", "cv", "n_rows", "n_baselines",
            F.round((F.col("sre") / F.lit(1000000.0)) / F.col("n_rows"), 9).alias("mean_re"),
            F.round((F.col("sim") / F.lit(1000000.0)) / F.col("n_rows"), 9).alias("mean_im"),
        )
        .orderBy("cu", "cv")
    )


_BL_SEGMENTS_ORACLE = _with_ms(
    """
    , bt AS (SELECT DISTINCT antenna1, antenna2, time FROM vis)
    , flagged AS (
      SELECT antenna1, antenna2, time,
             CASE WHEN lag(time) OVER w IS NULL
                  OR time - lag(time) OVER w > 259200.0 THEN 1 ELSE 0 END AS boundary
      FROM bt
      WINDOW w AS (PARTITION BY antenna1, antenna2 ORDER BY time)
    ), seg AS (
      SELECT antenna1, antenna2, time,
             CAST(SUM(boundary) OVER (PARTITION BY antenna1, antenna2
                                      ORDER BY time) AS BIGINT) AS seg_id
      FROM flagged
    ), per_seg AS (
      SELECT antenna1, antenna2, seg_id, COUNT(*) AS n_times,
             CAST(FLOOR((MAX(time) - MIN(time)) / 86400.0) AS BIGINT) + 1 AS seg_days
      FROM seg GROUP BY antenna1, antenna2, seg_id
    )
    SELECT antenna1, antenna2, COUNT(*) AS n_segments,
           CAST(SUM(n_times) AS BIGINT) AS n_times,
           MAX(seg_days) AS max_seg_days
    FROM per_seg GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
    """
)


@register("baseline_observation_segments", _BL_SEGMENTS_ORACLE)
def baseline_observation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-baseline observation segmentation (scan structure recovery):
    distinct (baseline, time) samples split into segments wherever the
    baseline is absent for > 3 days; reports segment count, total
    epochs, and the longest contiguous span. The sequential scan runs
    on the distinct frame (one partial-agg shuffle to diagnostic
    cardinality), windowed per baseline — never over the fact table."""
    bt = tpch_ms.vis_table(spark, sf_dir).select(
        "antenna1", "antenna2", "time"
    ).distinct()
    w = W.partitionBy("antenna1", "antenna2").orderBy("time")
    flagged = bt.withColumn(
        "boundary",
        F.when(
            F.lag("time").over(w).isNull()
            | ((F.col("time") - F.lag("time").over(w)) > 259200.0),
            1,
        ).otherwise(0),
    )
    seg = flagged.withColumn(
        "seg_id",
        F.sum("boundary").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per_seg = seg.groupBy("antenna1", "antenna2", "seg_id").agg(
        F.count(F.lit(1)).alias("n_times"),
        # explicit FLOOR: Spark's double->long CAST truncates where
        # DuckDB's CAST rounds to nearest — only FLOOR agrees on both
        (
            F.floor((F.max("time") - F.min("time")) / F.lit(86400.0)).cast("long")
            + 1
        ).alias("seg_days"),
    )
    return (
        per_seg.groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("n_times").alias("n_times"),
            F.max("seg_days").alias("max_seg_days"),
        )
        .orderBy("antenna1", "antenna2")
    )


_ELEVATION_ORACLE = _with_ms(
    f"""
    , ant AS ({tpch_ms.ANTENNA_SQL})
    , t AS (SELECT DISTINCT time FROM vis)
    , el AS (
      SELECT t.time, a.antenna,
             {feeds_fn.elevation_angle_geometric_sql(
                 't.time', 'a.ant_x', 'a.ant_y', 'a.ant_z',
                 f'CAST({_PA_FIELD[0]!r} AS DOUBLE)',
                 f'CAST({_PA_FIELD[1]!r} AS DOUBLE)')} AS el
      FROM t, ant a
    )
    , elq AS (SELECT antenna, CAST(ROUND(el * 1000000000) AS BIGINT) AS el_q FROM el)
    SELECT antenna, COUNT(*) AS n_times,
           CAST(SUM(CASE WHEN el_q < 350000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           MIN(el_q) / 1000000000.0 AS min_el, MAX(el_q) / 1000000000.0 AS max_el
    FROM elq GROUP BY antenna ORDER BY antenna
    """
)


@register("antenna_elevation_flags", _ELEVATION_ORACLE)
def antenna_elevation_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-antenna low-elevation exposure report: the ephemeris-free
    alt-az backend (same GMST/ITRF machinery as the geometric PA,
    reference parangles.py:21-68) evaluated over the distinct
    (time × antenna) grid, counting epochs below a 0.35 rad (~20°)
    horizon limit — the shadowing/airmass flagging pre-pass. Distinct
    times are one partial-agg shuffle; antennas broadcast."""
    from codex_africanus_spark.sources.tables import scan_twin

    vis = tpch_ms.vis_table(spark, sf_dir)
    times = scan_twin(vis).select("time").distinct()  # r13: skip fan_out exchange
    ants = tpch_ms.antenna_table(spark)
    el = feeds_fn.elevation_angle_geometric(
        F.col("time"), F.col("ant_x"), F.col("ant_y"), F.col("ant_z"),
        F.lit(_PA_FIELD[0]), F.lit(_PA_FIELD[1]),
    )
    from codex_africanus_spark.functions.deterministic import quantize

    # quantize the transcendental BEFORE the threshold compare and the
    # min/max (JVM vs libm trig can differ by ulps; decisions on the raw
    # double would be the cross-engine fork class)
    grid = times.crossJoin(F.broadcast(ants)).select(
        "antenna", quantize(el, 1e9).alias("el_q")
    )
    return (
        grid.groupBy("antenna")
        .agg(
            F.count(F.lit(1)).alias("n_times"),
            F.sum(F.when(F.col("el_q") < 350000000, 1).otherwise(0)).alias("n_low"),
            (F.min("el_q") / F.lit(1000000000.0)).alias("min_el"),
            (F.max("el_q") / F.lit(1000000000.0)).alias("max_el"),
        )
        .orderBy("antenna")
    )


_SMEARING_ORACLE = _with_ms(
    f"""
    , bt AS (
      SELECT antenna1, antenna2, time, COUNT(*) AS n,
             SUM(CAST(ROUND(u * 1000000) AS BIGINT)) AS uq,
             SUM(CAST(ROUND(v * 1000000) AS BIGINT)) AS vq,
             SUM(CAST(ROUND(w * 1000000) AS BIGINT)) AS wq
      FROM vis GROUP BY antenna1, antenna2, time
    ), means AS (
      SELECT antenna1, antenna2, time,
             (uq / 1000000.0) / n AS um,
             (vq / 1000000.0) / n AS vm,
             (wq / 1000000.0) / n AS wm
      FROM bt
    ), steps AS (
      SELECT antenna1, antenna2,
             um - lag(um) OVER w AS du,
             vm - lag(vm) OVER w AS dv,
             wm - lag(wm) OVER w AS dw
      FROM means
      WINDOW w AS (PARTITION BY antenna1, antenna2 ORDER BY time)
    ), sincs AS (
      SELECT antenna1, antenna2,
             CAST(ROUND((sin({bda_op.BDA_SINC_K!r} * sqrt(du*du + dv*dv + dw*dw) + 1e-8)
                         / ({bda_op.BDA_SINC_K!r} * sqrt(du*du + dv*dv + dw*dw) + 1e-8))
                        * 1000000000) AS BIGINT) AS sinc_q
      FROM steps WHERE du IS NOT NULL
    )
    SELECT antenna1, antenna2, COUNT(*) AS n_steps,
           round(MIN(sinc_q) / 1000000000.0, 9) AS worst_sinc,
           CAST(SUM(CASE WHEN sinc_q < {bda_op.BDA_SINC_TOL_Q} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_decorrelated
    FROM sincs GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
    """
)


@register("bda_smearing_report", _SMEARING_ORACLE)
def bda_smearing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-smearing decorrelation forecast per baseline: the sinc
    amplitude factor sin(Δψ/2)/(Δψ/2) of each consecutive-epoch uvw step
    (the same Δψ/2 = K·|Δuvw| + 1e-8 closure quantity as the sinc-BDA
    binner, bda_mapping.py:111-186), quantized on the BDA 1e-9 grid.
    Reports the worst step and how many steps fall below the BDA
    decorrelation tolerance — i.e. where averaging would lose amplitude.
    Rows collapse to per-(baseline, epoch) exact uvw means first; the
    window runs at diagnostic cardinality."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    from codex_africanus_spark.functions.deterministic import qsum

    bt = vis.groupBy("antenna1", "antenna2", "time").agg(
        F.count(F.lit(1)).alias("n"),
        qsum(F.col("u"), 1e6).alias("uq"),
        qsum(F.col("v"), 1e6).alias("vq"),
        qsum(F.col("w"), 1e6).alias("wq"),
    )
    means = bt.select(
        "antenna1", "antenna2", "time",
        ((F.col("uq") / F.lit(1000000.0)) / F.col("n")).alias("um"),
        ((F.col("vq") / F.lit(1000000.0)) / F.col("n")).alias("vm"),
        ((F.col("wq") / F.lit(1000000.0)) / F.col("n")).alias("wm"),
    )
    w = W.partitionBy("antenna1", "antenna2").orderBy("time")
    steps = means.select(
        "antenna1", "antenna2",
        (F.col("um") - F.lag("um").over(w)).alias("du"),
        (F.col("vm") - F.lag("vm").over(w)).alias("dv"),
        (F.col("wm") - F.lag("wm").over(w)).alias("dw"),
    ).filter(F.col("du").isNotNull())
    half_psi = (
        F.lit(bda_op.BDA_SINC_K)
        * F.sqrt(F.col("du") * F.col("du") + F.col("dv") * F.col("dv")
                 + F.col("dw") * F.col("dw"))
        + F.lit(1e-8)
    )
    from codex_africanus_spark.functions.deterministic import quantize

    # sign-aware quantize, NOT F.round: sinc goes negative past pi and
    # Spark ROUND is HALF_UP where DuckDB is half-away (calibration.py
    # records the same rule for signed phases)
    sinc_q = quantize(F.sin(half_psi) / half_psi, 1e9)
    return (
        steps.select("antenna1", "antenna2", sinc_q.alias("sinc_q"))
        .groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.round(F.min("sinc_q") / F.lit(1000000000.0), 9).alias("worst_sinc"),
            F.sum(
                F.when(F.col("sinc_q") < bda_op.BDA_SINC_TOL_Q, 1).otherwise(0)
            ).alias("n_decorrelated"),
        )
        .orderBy("antenna1", "antenna2")
    )


@register("closure_amplitudes_quads", _with_ms(cal_op.CLOSURE_AMPS_SQL))
def closure_amplitudes_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure amplitudes over antenna quadrangles (TMS ch. 10.3): the
    gain-amplitude-independent diagnostic completing the closure pair
    with closure_phases_triangles — per-(time-bin, baseline) exact
    fixed-point collapse, then a quadruple self-join at diagnostic
    cardinality with 1e-9-quantized per-leg log amplitudes so the
    closure statistic is an exact integer combination."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.closure_amplitudes(vis).orderBy("tbin", "a", "b", "c", "d")


_SCAN_AVG_ORACLE = _with_ms(
    """
    , bt AS (SELECT DISTINCT antenna1, antenna2, time FROM vis),
    flagged AS (
      SELECT antenna1, antenna2, time,
             CASE WHEN lag(time) OVER w IS NULL
                       OR time - lag(time) OVER w > 259200.0
                  THEN 1 ELSE 0 END AS boundary
      FROM bt
      WINDOW w AS (PARTITION BY antenna1, antenna2 ORDER BY time)
    ),
    scans AS (
      SELECT antenna1, antenna2, time,
             SUM(boundary) OVER (PARTITION BY antenna1, antenna2
                                 ORDER BY time
                                 ROWS UNBOUNDED PRECEDING) AS scan_id
      FROM flagged
    )
    SELECT v.antenna1, v.antenna2, CAST(s.scan_id AS BIGINT) AS scan_id, v.chan,
           COUNT(*) AS n_samples,
           SUM(CAST(ROUND(v.vis_re * 1000000.0) AS BIGINT)) / 1000000.0 AS sum_re,
           SUM(CAST(ROUND(v.vis_im * 1000000.0) AS BIGINT)) / 1000000.0 AS sum_im,
           MIN(v.time) AS t_start, MAX(v.time) AS t_end
    FROM vis v
    JOIN scans s ON s.antenna1 = v.antenna1 AND s.antenna2 = v.antenna2
                AND s.time = v.time
    GROUP BY 1, 2, 3, 4
    ORDER BY 1, 2, 3, 4
    """
)


@register("scan_time_average", _SCAN_AVG_ORACLE)
def scan_time_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-scan visibility averaging (CASA split/mstransform
    scan-average): scan boundaries are recovered from the distinct
    (baseline, time) grid (gap > 3 days — the baseline_observation
    segmentation rule), the diagnostic-cardinality scan-id table joins
    back BROADCAST, and the fact table collapses once per (baseline,
    scan, chan) with exact fixed-point sums — composition of the
    sequential-binner and averaging tiers; the fact table shuffles
    exactly once (the final collapse)."""
    from codex_africanus_spark.functions.deterministic import qsum

    vis = tpch_ms.vis_table(spark, sf_dir)
    bt = vis.select("antenna1", "antenna2", "time").distinct()
    w = W.partitionBy("antenna1", "antenna2").orderBy("time")
    flagged = bt.withColumn(
        "boundary",
        F.when(
            F.lag("time").over(w).isNull()
            | ((F.col("time") - F.lag("time").over(w)) > 259200.0),
            1,
        ).otherwise(0),
    )
    scans = flagged.withColumn(
        "scan_id",
        F.sum("boundary").over(w.rowsBetween(W.unboundedPreceding, 0)),
    ).select("antenna1", "antenna2", "time", "scan_id")
    # no broadcast HINT: the scan-id table scales with distinct epochs
    # (n_utime x baselines — unbounded over a 100 TB archive); AQE
    # broadcasts when it is actually small, else a co-partitioned
    # shuffle join on the full key is the right plan (r7 self-review,
    # same class as the contamination eval-side advice)
    j = vis.join(scans, ["antenna1", "antenna2", "time"])
    return (
        j.groupBy("antenna1", "antenna2", "scan_id", "chan")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            (qsum(F.col("vis_re"), 1e6) / F.lit(1e6)).alias("sum_re"),
            (qsum(F.col("vis_im"), 1e6) / F.lit(1e6)).alias("sum_im"),
            F.min("time").alias("t_start"),
            F.max("time").alias("t_end"),
        )
        .orderBy("antenna1", "antenna2", "scan_id", "chan")
    )


_NOISE_WEIGHTED_ORACLE = _with_ms(
    """
    , wv AS (
      SELECT antenna1, antenna2, chan,
             CAST(CAST(ROUND((1.0 / (sigma * sigma)) * 1000000.0) AS BIGINT) AS HUGEINT) AS wq,
             CAST(CAST(ROUND(vis_re * 1000000.0) AS BIGINT) AS HUGEINT) AS rq,
             CAST(CAST(ROUND(vis_im * 1000000.0) AS BIGINT) AS HUGEINT) AS iq
      FROM vis WHERE NOT (flag OR flag_row)
    ),
    g AS (
      SELECT antenna1, antenna2, chan, COUNT(*) AS n_samples,
             SUM(wq) AS sw, SUM(wq * rq) AS swr, SUM(wq * iq) AS swi
      FROM wv GROUP BY 1, 2, 3
    )
    SELECT antenna1, antenna2, chan, n_samples,
           CAST(ROUND(CAST(swr AS DOUBLE) / CAST(sw AS DOUBLE) / 1000000.0
                      * 1000000000.0) AS BIGINT) AS wmean_re_n,
           CAST(ROUND(CAST(swi AS DOUBLE) / CAST(sw AS DOUBLE) / 1000000.0
                      * 1000000000.0) AS BIGINT) AS wmean_im_n
    FROM g WHERE sw <> 0
    ORDER BY antenna1, antenna2, chan
    """
)


@register("noise_weighted_average", _NOISE_WEIGHTED_ORACLE)
def noise_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-variance (1/σ²) weighted visibility average per
    (baseline, chan) — the SIGMA-column weighting every MS averaging
    task applies (reference averaging weight semantics,
    time_and_channel full-column path): weights and visibilities both
    quantize to the 1e-6 grid, the weighted sums accumulate exactly in
    decimal(38,0) (int×int products exceed int64 at corpus row counts —
    the RFI decimal-product lesson), and the final ratio of exact
    integers lands on the 1e-9 grid (int128→double casts are not
    correctly rounded cross-engine)."""
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    wv = vis.select(
        "antenna1", "antenna2", "chan",
        quantize(F.lit(1.0) / (F.col("sigma") * F.col("sigma")), 1e6)
        .cast(dec).alias("wq"),
        quantize(F.col("vis_re"), 1e6).cast(dec).alias("rq"),
        quantize(F.col("vis_im"), 1e6).cast(dec).alias("iq"),
    )
    g = wv.groupBy("antenna1", "antenna2", "chan").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("wq").alias("sw"),
        F.sum(F.col("wq") * F.col("rq")).alias("swr"),
        F.sum(F.col("wq") * F.col("iq")).alias("swi"),
    )
    return (
        g.filter(F.col("sw") != F.lit(0).cast(dec))
        .select(
            "antenna1", "antenna2", "chan", "n_samples",
            quantize(
                F.col("swr").cast("double") / F.col("sw").cast("double")
                / F.lit(1e6),
                1e9,
            ).alias("wmean_re_n"),
            quantize(
                F.col("swi").cast("double") / F.col("sw").cast("double")
                / F.lit(1e6),
                1e9,
            ).alias("wmean_im_n"),
        )
        .orderBy("antenna1", "antenna2", "chan")
    )


_DEAD_ANT_ORACLE = _with_ms(
    """
    , per_role AS (
      SELECT antenna1 AS antenna,
             CAST(CAST(ROUND(vis_re * 1000000.0) AS BIGINT) AS HUGEINT) AS rq,
             CAST(CAST(ROUND(vis_im * 1000000.0) AS BIGINT) AS HUGEINT) AS iq
      FROM vis WHERE NOT (flag OR flag_row)
      UNION ALL
      SELECT antenna2,
             CAST(CAST(ROUND(vis_re * 1000000.0) AS BIGINT) AS HUGEINT),
             CAST(CAST(ROUND(vis_im * 1000000.0) AS BIGINT) AS HUGEINT)
      FROM vis WHERE NOT (flag OR flag_row)
    ),
    per_ant AS (
      SELECT antenna, COUNT(*) AS n_samples,
             SUM(rq * rq + iq * iq) AS s2
      FROM per_role GROUP BY antenna
    ),
    q AS (
      SELECT antenna, n_samples,
             CAST(ROUND(CAST(s2 AS DOUBLE) / n_samples / 1000000000000.0
                        * 1000000.0) AS BIGINT) AS mean_amp2_u
      FROM per_ant
    ),
    garr AS (
      SELECT CAST(ROUND(AVG(CAST(mean_amp2_u AS DOUBLE))) AS BIGINT)
        AS glob_u
      FROM q
    )
    SELECT q.antenna, q.n_samples, q.mean_amp2_u, g.glob_u,
           CAST(2 * q.mean_amp2_u < g.glob_u AS INT) AS is_dead
    FROM q CROSS JOIN garr g
    ORDER BY q.antenna
    """
)


@register("dead_antenna_detection", _DEAD_ANT_ORACLE)
def dead_antenna_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead/cold antenna detector — the first health check an
    observatory pipeline runs: per antenna (union of both baseline
    roles) the mean |V|², compared to the array-wide mean; an antenna
    under half the array mean is flagged. Power sums accumulate in
    decimal(38,0); the per-antenna and global means are quantized to
    exact micro-units BEFORE the integer 2·x < g comparison, so the
    flag decision cannot fork engines. One union + one 7-group agg."""
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    rq = quantize(F.col("vis_re"), 1e6).cast(dec)
    iq = quantize(F.col("vis_im"), 1e6).cast(dec)
    roles = vis.select(
        F.col("antenna1").alias("antenna"), rq.alias("rq"), iq.alias("iq")
    ).unionAll(
        vis.select(
            F.col("antenna2").alias("antenna"), rq.alias("rq"), iq.alias("iq")
        )
    )
    per_ant = roles.groupBy("antenna").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.col("rq") * F.col("rq") + F.col("iq") * F.col("iq")).alias("s2"),
    )
    q = per_ant.select(
        "antenna", "n_samples",
        quantize(
            F.col("s2").cast("double") / F.col("n_samples") / F.lit(1e12), 1e6
        ).alias("mean_amp2_u"),
    )
    glob = q.agg(
        quantize(F.avg(F.col("mean_amp2_u").cast("double")), 1.0).alias("glob_u")
    )
    return (
        q.crossJoin(F.broadcast(glob))
        .select(
            "antenna", "n_samples", "mean_amp2_u", "glob_u",
            (2 * F.col("mean_amp2_u") < F.col("glob_u")).cast("int").alias("is_dead"),
        )
        .orderBy("antenna")
    )


_QUACK_N = 2  # leading epochs flagged per scan (CASA quack)


_QUACK_ORACLE = _with_ms(
    f"""
    , bt AS (SELECT DISTINCT antenna1, antenna2, time FROM vis),
    flagged AS (
      SELECT antenna1, antenna2, time,
             CASE WHEN lag(time) OVER w IS NULL
                       OR time - lag(time) OVER w > 259200.0
                  THEN 1 ELSE 0 END AS boundary
      FROM bt
      WINDOW w AS (PARTITION BY antenna1, antenna2 ORDER BY time)
    ),
    scans AS (
      SELECT antenna1, antenna2, time,
             CAST(SUM(boundary) OVER (PARTITION BY antenna1, antenna2
                                      ORDER BY time
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS scan_id
      FROM flagged
    ),
    epochs AS (
      SELECT antenna1, antenna2, time, scan_id,
             row_number() OVER (PARTITION BY antenna1, antenna2, scan_id
                                ORDER BY time) AS epoch_idx
      FROM scans
    )
    SELECT e.antenna1, e.antenna2, e.scan_id,
           CAST(COUNT(DISTINCT e.time) AS BIGINT) AS n_times,
           CAST(COUNT(DISTINCT CASE WHEN e.epoch_idx <= {_QUACK_N}
                                    THEN e.time END) AS BIGINT)
             AS n_quacked_times,
           CAST(SUM(CASE WHEN e.epoch_idx <= {_QUACK_N} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rows_flagged
    FROM epochs e
    JOIN vis v ON v.antenna1 = e.antenna1 AND v.antenna2 = e.antenna2
              AND v.time = e.time
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """
)


@register("quack_flagging", _QUACK_ORACLE)
def quack_flagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASA `quack`: flag the first N epochs of every scan (antennas
    settle after a slew). Scan ids and per-scan epoch indices are
    derived on the distinct (baseline, time) grid (diagnostic
    cardinality), then the fact table joins the epoch table BROADCAST
    and the flag ledger aggregates per (baseline, scan) — the fact
    table shuffles exactly once."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    bt = vis.select("antenna1", "antenna2", "time").distinct()
    w = W.partitionBy("antenna1", "antenna2").orderBy("time")
    flagged = bt.withColumn(
        "boundary",
        F.when(
            F.lag("time").over(w).isNull()
            | ((F.col("time") - F.lag("time").over(w)) > 259200.0),
            1,
        ).otherwise(0),
    )
    scans = flagged.withColumn(
        "scan_id",
        F.sum("boundary").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    epochs = scans.withColumn(
        "epoch_idx",
        F.row_number().over(
            W.partitionBy("antenna1", "antenna2", "scan_id").orderBy("time")
        ),
    ).select("antenna1", "antenna2", "time", "scan_id", "epoch_idx")
    # epoch table scales with distinct epochs — no broadcast hint
    # (same rationale as scan_time_average)
    j = vis.join(epochs, ["antenna1", "antenna2", "time"])
    return (
        j.groupBy("antenna1", "antenna2", "scan_id")
        .agg(
            F.countDistinct("time").alias("n_times"),
            F.countDistinct(
                F.when(F.col("epoch_idx") <= _QUACK_N, F.col("time"))
            ).alias("n_quacked_times"),
            F.sum(
                F.when(F.col("epoch_idx") <= _QUACK_N, 1).otherwise(0)
            ).alias("n_rows_flagged"),
        )
        .orderBy("antenna1", "antenna2", "scan_id")
    )


_SEFD_ORACLE = _with_ms(
    f"""
    , noise AS ({"WITH " + cal_op.NOISE_EST_SQL.lstrip().removeprefix(",")}),
    nominal AS (
      SELECT antenna1, antenna2,
             CAST(SUM(CAST(ROUND(sigma * sigma * 1000000.0) AS BIGINT)) AS BIGINT)
               AS s2_sum,
             COUNT(*) AS n
      FROM vis GROUP BY 1, 2
    )
    SELECT n.antenna1, n.antenna2, n.n_diffs, n.sigma2_micro,
           CAST(ROUND(CAST(m.s2_sum AS DOUBLE) / m.n) AS BIGINT)
             AS sigma2_nominal_micro,
           round(n.sigma2_micro
                 / CAST(ROUND(CAST(m.s2_sum AS DOUBLE) / m.n) AS DOUBLE), 6)
             AS noise_ratio
    FROM noise n
    JOIN nominal m ON m.antenna1 = n.antenna1 AND m.antenna2 = n.antenna2
    ORDER BY n.antenna1, n.antenna2
    """
)


@register("sefd_sensitivity_report", _SEFD_ORACLE)
def sefd_sensitivity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEFD sanity report: the measured thermal noise (adjacent-channel
    difference estimator — shared vis_noise_estimate kernel) against
    the NOMINAL per-baseline noise implied by the SIGMA column, as the
    ratio every sensitivity audit plots (≫1 → RFI/instability, ≪1 →
    overstated SIGMA). Both σ² land on the exact 1e-6 grid before the
    ratio; two baseline-cardinality aggregates joined at diagnostic
    size."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir)
    measured = cal_op.vis_noise_estimate(vis)
    nominal = vis.groupBy("antenna1", "antenna2").agg(
        F.sum(quantize(F.col("sigma") * F.col("sigma"), 1e6)).alias("s2_sum"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "antenna1", "antenna2",
        quantize(F.col("s2_sum").cast("double") / F.col("n"), 1.0).alias(
            "sigma2_nominal_micro"
        ),
    )
    return (
        measured.join(F.broadcast(nominal), ["antenna1", "antenna2"])
        .select(
            "antenna1", "antenna2", "n_diffs", "sigma2_micro",
            "sigma2_nominal_micro",
            F.round(
                F.col("sigma2_micro") / F.col("sigma2_nominal_micro").cast("double"),
                6,
            ).alias("noise_ratio"),
        )
        .orderBy("antenna1", "antenna2")
    )


_UVW_CLOSURE_ORACLE = _with_ms(
    """
    , legs AS (
      SELECT time, antenna1, antenna2,
             MIN(CAST(ROUND(u * 1000000.0) AS BIGINT)) AS uq,
             MIN(CAST(ROUND(v * 1000000.0) AS BIGINT)) AS vq,
             MIN(CAST(ROUND(w * 1000000.0) AS BIGINT)) AS wq
      FROM vis WHERE antenna1 < antenna2
      GROUP BY 1, 2, 3
    )
    SELECT ab.time, ab.antenna1 AS a, ab.antenna2 AS b, bc.antenna2 AS c,
           (ab.uq + bc.uq - ac.uq) / 1000000.0 AS du,
           (ab.vq + bc.vq - ac.vq) / 1000000.0 AS dv,
           (ab.wq + bc.wq - ac.wq) / 1000000.0 AS dw,
           CAST(ab.uq + bc.uq - ac.uq = 0
                AND ab.vq + bc.vq - ac.vq = 0
                AND ab.wq + bc.wq - ac.wq = 0 AS INT) AS is_consistent
    FROM legs ab
    JOIN legs bc ON bc.time = ab.time AND bc.antenna1 = ab.antenna2
    JOIN legs ac ON ac.time = ab.time AND ac.antenna1 = ab.antenna1
                AND ac.antenna2 = bc.antenna2
    ORDER BY ab.time, a, b, c
    """
)


@register("uvw_closure_residuals", _UVW_CLOSURE_ORACLE)
def uvw_closure_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UVW triangle-closure audit: physical baselines are antenna
    differences, so u_ab + u_bc − u_ac must vanish on every triangle —
    the metadata-integrity check a pipeline runs on ingested uvw
    columns (the synthetic MS derives uvw from keys, NOT antenna
    positions, so violations are expected and quantified — exactly
    what the audit is for). Triangle join at diagnostic cardinality
    over the distinct per-(time, baseline) uvw legs, quantized 1e-6 so
    residuals and the consistency flag are exact integers."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        F.col("antenna1") < F.col("antenna2")
    )
    from codex_africanus_spark.functions.deterministic import quantize

    # ONE representative leg per (time, baseline): physically uvw is
    # constant there, but this synthetic MS derives uvw from row keys,
    # so a raw distinct would be near-fact-cardinality and the triangle
    # join would fan out combinatorially (found at sf0.1: 1 GiB of
    # triangles). Component-wise MIN is a deterministic representative —
    # exactly what the audit needs, bounded at #bins x #baselines.
    legs = (
        vis.groupBy("time", "antenna1", "antenna2")
        .agg(
            F.min(quantize(F.col("u"), 1e6)).alias("uq"),
            F.min(quantize(F.col("v"), 1e6)).alias("vq"),
            F.min(quantize(F.col("w"), 1e6)).alias("wq"),
        )
    )
    ab = legs.select(
        "time", F.col("antenna1").alias("a"), F.col("antenna2").alias("b"),
        F.col("uq").alias("u_ab"), F.col("vq").alias("v_ab"), F.col("wq").alias("w_ab"),
    )
    bc = legs.select(
        "time", F.col("antenna1").alias("b"), F.col("antenna2").alias("c"),
        F.col("uq").alias("u_bc"), F.col("vq").alias("v_bc"), F.col("wq").alias("w_bc"),
    )
    ac = legs.select(
        "time", F.col("antenna1").alias("a"), F.col("antenna2").alias("c"),
        F.col("uq").alias("u_ac"), F.col("vq").alias("v_ac"), F.col("wq").alias("w_ac"),
    )
    tri = ab.join(bc, ["time", "b"]).join(ac, ["time", "a", "c"])
    du = F.col("u_ab") + F.col("u_bc") - F.col("u_ac")
    dv = F.col("v_ab") + F.col("v_bc") - F.col("v_ac")
    dw = F.col("w_ab") + F.col("w_bc") - F.col("w_ac")
    return tri.select(
        "time", "a", "b", "c",
        (du / F.lit(1e6)).alias("du"),
        (dv / F.lit(1e6)).alias("dv"),
        (dw / F.lit(1e6)).alias("dw"),
        ((du == 0) & (dv == 0) & (dw == 0)).cast("int").alias("is_consistent"),
    ).orderBy("time", "a", "b", "c")


_AUTOCORR_ORACLE = _with_ms(
    """
    , pw AS (
      SELECT antenna1, antenna2, chan,
             CAST(antenna1 = antenna2 AS INT) AS is_auto,
             CAST(CAST(ROUND(vis_re * 1000000.0) AS BIGINT) AS HUGEINT) AS rq,
             CAST(CAST(ROUND(vis_im * 1000000.0) AS BIGINT) AS HUGEINT) AS iq
      FROM vis WHERE NOT (flag OR flag_row)
    ),
    roles AS (
      SELECT antenna1 AS antenna, is_auto, rq, iq FROM pw
      UNION ALL
      SELECT antenna2, is_auto, rq, iq FROM pw WHERE antenna1 <> antenna2
    ),
    agg AS (
      SELECT antenna, is_auto, COUNT(*) AS n,
             SUM(rq * rq + iq * iq) AS s2
      FROM roles GROUP BY 1, 2
    ),
    q AS (
      SELECT antenna, is_auto, n,
             CAST(ROUND(CAST(s2 AS DOUBLE) / n / 1000000000000.0 * 1000000.0)
                  AS BIGINT) AS mean_p_u
      FROM agg
    )
    SELECT a.antenna,
           a.n AS n_auto, c.n AS n_cross,
           a.mean_p_u AS auto_power_u, c.mean_p_u AS cross_power_u,
           round(a.mean_p_u / CAST(c.mean_p_u AS DOUBLE), 6) AS auto_cross_ratio
    FROM (SELECT * FROM q WHERE is_auto = 1) a
    JOIN (SELECT * FROM q WHERE is_auto = 0) c USING (antenna)
    ORDER BY a.antenna
    """
)


@register("autocorr_power_ratio", _AUTOCORR_ORACLE)
def autocorr_power_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto- vs cross-correlation power per antenna — the bandpass
    normalization input (autocorrs measure total system power; the
    auto/cross ratio exposes per-antenna gain or Tsys anomalies the
    cross-only dead-antenna check can miss). Same decimal(38,0) power
    sums and quantized-mean discipline; antennas with either cohort
    missing drop (inner join)."""
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    rq = quantize(F.col("vis_re"), 1e6).cast(dec)
    iq = quantize(F.col("vis_im"), 1e6).cast(dec)
    pw = vis.select(
        "antenna1", "antenna2",
        (F.col("antenna1") == F.col("antenna2")).cast("int").alias("is_auto"),
        rq.alias("rq"), iq.alias("iq"),
    )
    roles = pw.select(
        F.col("antenna1").alias("antenna"), "is_auto", "rq", "iq"
    ).unionAll(
        pw.filter(F.col("antenna1") != F.col("antenna2")).select(
            F.col("antenna2").alias("antenna"), "is_auto", "rq", "iq"
        )
    )
    agg = roles.groupBy("antenna", "is_auto").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rq") * F.col("rq") + F.col("iq") * F.col("iq")).alias("s2"),
    )
    q = agg.select(
        "antenna", "is_auto", "n",
        quantize(
            F.col("s2").cast("double") / F.col("n") / F.lit(1e12), 1e6
        ).alias("mean_p_u"),
    )
    a = q.filter(F.col("is_auto") == 1).select(
        "antenna", F.col("n").alias("n_auto"), F.col("mean_p_u").alias("auto_power_u")
    )
    c = q.filter(F.col("is_auto") == 0).select(
        "antenna", F.col("n").alias("n_cross"), F.col("mean_p_u").alias("cross_power_u")
    )
    return (
        a.join(c, "antenna")
        .select(
            "antenna", "n_auto", "n_cross", "auto_power_u", "cross_power_u",
            F.round(
                F.col("auto_power_u") / F.col("cross_power_u").cast("double"), 6
            ).alias("auto_cross_ratio"),
        )
        .orderBy("antenna")
    )


_OBS_SUMMARY_ORACLE = _with_ms(
    """
    , t AS (SELECT DISTINCT CAST(FLOOR(time / 2592000.0) AS BIGINT) AS tbin FROM vis),
    scans AS (
      SELECT tbin,
             CAST(dense_rank() OVER (ORDER BY tbin) AS BIGINT) AS scan_id
      FROM t
    )
    SELECT s.scan_id,
           MIN(v.time) AS t_start, MAX(v.time) AS t_end,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT v.antenna1 * 100 + v.antenna2) AS BIGINT)
             AS n_baselines,
           CAST(MAX(v.chan) + 1 AS BIGINT) AS n_chan,
           CAST(SUM(CASE WHEN v.flag OR v.flag_row THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           round(SUM(CASE WHEN v.flag OR v.flag_row THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS flagged_frac
    FROM vis v JOIN scans s
      ON s.tbin = CAST(FLOOR(v.time / 2592000.0) AS BIGINT)
    GROUP BY s.scan_id
    ORDER BY s.scan_id
    """
)


@register("observation_summary_listing", _OBS_SUMMARY_ORACLE)
def observation_summary_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `listobs` analogue: one row per GLOBAL scan (epochs
    = dense-ranked 30-day epochs, this MS's natural observing
    sessions) with time range, row count,
    baseline count, channel count, and flag occupancy — the first
    report an observer prints for any MS. The scan table is
    epoch-cardinality and carries no broadcast hint; the fact table
    collapses once per scan."""
    vis = tpch_ms.vis_table(spark, sf_dir).withColumn(
        "tbin", F.floor(F.col("time") / F.lit(2_592_000.0)).cast("long")
    )
    t = vis.select("tbin").distinct()
    scans = t.withColumn(
        "scan_id", F.dense_rank().over(W.orderBy("tbin")).cast("long")
    )
    j = vis.join(scans, "tbin")
    return (
        j.groupBy("scan_id")
        .agg(
            F.min("time").alias("t_start"),
            F.max("time").alias("t_end"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(
                F.col("antenna1") * 100 + F.col("antenna2")
            ).alias("n_baselines"),
            (F.max("chan") + 1).cast("long").alias("n_chan"),
            F.sum(
                (F.col("flag") | F.col("flag_row")).cast("long")
            ).alias("n_flagged"),
            F.round(
                F.sum((F.col("flag") | F.col("flag_row")).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("flagged_frac"),
        )
        .orderBy("scan_id")
    )


_FLAG_BREAKDOWN_ORACLE = _with_ms(
    """
    , tot AS (SELECT COUNT(*) AS n FROM vis)
    SELECT CAST(flag_row AS INT) AS flag_row_set,
           CAST(flag AS INT) AS flag_chan_set,
           COUNT(*) AS n_rows,
           round(COUNT(*) / CAST(MIN(t.n) AS DOUBLE), 9) AS frac
    FROM vis CROSS JOIN tot t
    GROUP BY 1, 2
    ORDER BY 1, 2
    """
)


@register("flag_reason_breakdown", _FLAG_BREAKDOWN_ORACLE)
def flag_reason_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`flagdata` summary: the 2×2 row-flag × channel-flag cohort
    counts and fractions (which tier is actually removing data — the
    input to any flagging-policy review). One ≤4-group aggregate with a
    1-row broadcast total."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    tot = vis.agg(F.count(F.lit(1)).alias("n"))
    return (
        vis.crossJoin(F.broadcast(tot))
        .groupBy(
            F.col("flag_row").cast("int").alias("flag_row_set"),
            F.col("flag").cast("int").alias("flag_chan_set"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.count(F.lit(1)) / F.min("n").cast("double"), 9).alias("frac"),
        )
        .orderBy("flag_row_set", "flag_chan_set")
    )


_VV_HALF_PI = 1.5707963267948966  # pi/2


_VV_NORM = 50.0  # synthetic correlator full-scale (l_quantity <= 50)


_VAN_VLECK_ORACLE = _with_ms(
    f"""
    , c AS (
      SELECT antenna1, antenna2,
             CAST(ROUND(vis_re / {_VV_NORM!r} * 1000000000) AS BIGINT)
               / 1000000000.0 AS r
      FROM vis WHERE row_id % 13 = 0
    )
    SELECT antenna1, antenna2, CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(CAST(ROUND(r * 1000000.0) AS BIGINT)) AS BIGINT) AS raw_q_sum,
           CAST(SUM(CAST(ROUND(sin({_VV_HALF_PI!r} *
             LEAST(1.0, GREATEST(-1.0, r))) * 1000000.0) AS BIGINT)) AS BIGINT)
             AS vv_q_sum
    FROM c GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
    """
)


@register("van_vleck_correction", _VAN_VLECK_ORACLE)
def van_vleck_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Van Vleck 1-bit quantization correction ρ = sin(π/2·r): the
    measured 1-bit correlation r maps to the true analogue correlation
    through the Van Vleck relation before any calibration can run —
    an observatory-operations op the reference's correlator-facing
    users apply upstream. Normalized r quantizes to the 1e-9 grid
    BEFORE the sin (both engines trig the identical double — the r8
    transcendental-input rule) and per-baseline sums are fixed-point
    integers (no rounding flips at any scale)."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 13 == 0)
    r = quantize(F.col("vis_re") / F.lit(_VV_NORM), 1e9) / F.lit(1e9)
    rho = F.sin(
        F.lit(_VV_HALF_PI) * F.least(F.lit(1.0), F.greatest(F.lit(-1.0), r))
    )
    return (
        vis.select("antenna1", "antenna2", r.alias("r"), rho.alias("rho"))
        .groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(quantize(F.col("r"), 1e6)).alias("raw_q_sum"),
            F.sum(quantize(F.col("rho"), 1e6)).alias("vv_q_sum"),
        )
        .orderBy("antenna1", "antenna2")
    )


_REDUNDANT_ORACLE = _with_ms(
    """
    , g AS (
      SELECT antenna2 - antenna1 AS separation, antenna1, antenna2,
             vis_re, vis_im,
             sqrt(vis_re * vis_re + vis_im * vis_im) AS amp
      FROM vis WHERE NOT (flag OR flag_row)
    )
    SELECT separation,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT antenna1 * 100 + antenna2) AS BIGINT) AS n_baselines,
           CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS BIGINT) AS coh_re_q,
           CAST(SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS BIGINT) AS coh_im_q,
           CAST(SUM(CAST(ROUND(amp * 1000000.0) AS BIGINT)) AS BIGINT) AS incoh_amp_q
    FROM g GROUP BY separation ORDER BY separation
    """
)


@register("redundant_baseline_groups", _REDUNDANT_ORACLE)
def redundant_baseline_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redundant-baseline grouping (regular-array calibration prep, the
    redundant-cal shape HERA/21 cm pipelines run): baselines sharing an
    antenna separation form one group; per group the COHERENT vis sum
    (redundant baselines measure the same sky Fourier mode — they add
    in phase) sits beside the INCOHERENT amplitude sum (adds always) —
    their ratio is the standard redundancy-consistency diagnostic. All
    sums fixed-point exact; sqrt is IEEE-correctly-rounded, identical
    cross-engine."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    amp = F.sqrt(
        F.col("vis_re") * F.col("vis_re") + F.col("vis_im") * F.col("vis_im")
    )
    return (
        vis.select(
            (F.col("antenna2") - F.col("antenna1")).alias("separation"),
            "antenna1", "antenna2", "vis_re", "vis_im", amp.alias("amp"),
        )
        .groupBy("separation")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(
                F.col("antenna1") * 100 + F.col("antenna2")
            ).alias("n_baselines"),
            F.sum(quantize(F.col("vis_re"), 1e6)).alias("coh_re_q"),
            F.sum(quantize(F.col("vis_im"), 1e6)).alias("coh_im_q"),
            F.sum(quantize(F.col("amp"), 1e6)).alias("incoh_amp_q"),
        )
        .orderBy("separation")
    )


_LST_OMEGA = 7.2921158553e-05  # Earth sidereal rotation rate [rad/s]


_LST_LON = 0.35                # observatory east longitude [rad]


_LST_TWO_PI = 6.283185307179586


_LST_EXPR = (
    f"((time * {_LST_OMEGA!r} + {_LST_LON!r}) - FLOOR((time * {_LST_OMEGA!r}"
    f" + {_LST_LON!r}) / {_LST_TWO_PI!r}) * {_LST_TWO_PI!r})"
)


_LST_BINNING_ORACLE = _with_ms(
    f"""
    , b AS (
      SELECT CAST(FLOOR({_LST_EXPR} / ({_LST_TWO_PI!r} / 24.0)) AS BIGINT)
               AS lst_bin,
             chan, vis_re, vis_im
      FROM vis WHERE NOT (flag OR flag_row)
    )
    SELECT lst_bin, chan, CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS BIGINT) AS re_q_sum,
           CAST(SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS BIGINT) AS im_q_sum
    FROM b GROUP BY lst_bin, chan ORDER BY lst_bin, chan
    """
)


@register("lst_binning", _LST_BINNING_ORACLE)
def lst_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-sidereal-time binning — the LST-stacking 21 cm/EoR
    pipelines run: the sky repeats every sidereal day, so visibilities
    fold onto 24 LST bins and average coherently across days. The LST
    phase is pure double arithmetic (multiply/add/floor — no
    transcendentals, identical cross-engine); per-(bin, chan) sums are
    fixed-point exact. One partial-agg groupBy at 24×nchan output
    cardinality — the fold is map-side at any corpus size."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    theta = F.col("time") * F.lit(_LST_OMEGA) + F.lit(_LST_LON)
    lst = theta - F.floor(theta / F.lit(_LST_TWO_PI)) * F.lit(_LST_TWO_PI)
    lbin = F.floor(lst / F.lit(_LST_TWO_PI / 24.0)).cast("long")
    return (
        vis.select(lbin.alias("lst_bin"), "chan", "vis_re", "vis_im")
        .groupBy("lst_bin", "chan")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(quantize(F.col("vis_re"), 1e6)).alias("re_q_sum"),
            F.sum(quantize(F.col("vis_im"), 1e6)).alias("im_q_sum"),
        )
        .orderBy("lst_bin", "chan")
    )


@register(
    "hour_angle_coverage",
    _with_ms(
        f"""
        , b AS (
          SELECT antenna1, antenna2,
                 CAST(FLOOR({_LST_EXPR} / ({_LST_TWO_PI!r} / 24.0)) AS BIGINT)
                   AS lst_bin
          FROM vis
        )
        SELECT antenna1, antenna2,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT lst_bin) AS BIGINT) AS n_lst_bins,
               (COUNT(DISTINCT lst_bin) * 1000000) // 24 AS coverage_ppm
        FROM b GROUP BY antenna1, antenna2
        ORDER BY antenna1, antenna2
        """
    ),
)
def hour_angle_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-angle (uv-track) coverage per baseline: how many of the 24
    LST bins each baseline samples — the synthesis-imaging completeness
    number (a baseline missing hour angles leaves unfilled uv tracks
    and a dirtier beam). Exact integer coverage fraction."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    theta = F.col("time") * F.lit(_LST_OMEGA) + F.lit(_LST_LON)
    lst = theta - F.floor(theta / F.lit(_LST_TWO_PI)) * F.lit(_LST_TWO_PI)
    lbin = F.floor(lst / F.lit(_LST_TWO_PI / 24.0)).cast("long")
    return (
        vis.select("antenna1", "antenna2", lbin.alias("lst_bin"))
        .groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("lst_bin").alias("n_lst_bins"),
        )
        .select(
            "antenna1", "antenna2", "n_rows", "n_lst_bins",
            F.expr("n_lst_bins * 1000000 DIV 24").alias("coverage_ppm"),
        )
        .orderBy("antenna1", "antenna2")
    )


# 8-point delay-transform trig table, precomputed ONCE in Python and
# interpolated as identical literals into both engines (k*8+c indexed,
# 1-based lookup) — zero cross-engine transcendental divergence by
# construction.
_DELAY_COS = [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 0.7071067811865476, 6.123233995736766e-17, -0.7071067811865475, -1.0, -0.7071067811865477, -1.8369701987210297e-16, 0.7071067811865474, 1.0, 6.123233995736766e-17, -1.0, -1.8369701987210297e-16, 1.0, 3.061616997868383e-16, -1.0, -4.286263797015736e-16, 1.0, -0.7071067811865475, -1.8369701987210297e-16, 0.7071067811865477, -1.0, 0.7071067811865466, 5.51091059616309e-16, -0.7071067811865474, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -0.7071067811865477, 3.061616997868383e-16, 0.7071067811865466, -1.0, 0.7071067811865475, -2.6948419387607653e-15, -0.7071067811865461, 1.0, -1.8369701987210297e-16, -1.0, 5.51091059616309e-16, 1.0, -2.6948419387607653e-15, -1.0, -4.904777002955296e-16, 1.0, 0.7071067811865474, -4.286263797015736e-16, -0.7071067811865474, -1.0, -0.7071067811865461, -4.904777002955296e-16, 0.7071067811865505]


_DELAY_SIN = [-0.0, -0.0, -0.0, -0.0, -0.0, -0.0, -0.0, -0.0, -0.0, -0.7071067811865475, -1.0, -0.7071067811865476, -1.2246467991473532e-16, 0.7071067811865475, 1.0, 0.7071067811865477, -0.0, -1.0, -1.2246467991473532e-16, 1.0, 2.4492935982947064e-16, -1.0, -3.6739403974420594e-16, 1.0, -0.0, -0.7071067811865476, 1.0, -0.7071067811865474, -3.6739403974420594e-16, 0.7071067811865485, -1.0, 0.7071067811865477, -0.0, -1.2246467991473532e-16, 2.4492935982947064e-16, -3.6739403974420594e-16, 4.898587196589413e-16, -6.123233995736766e-16, 7.347880794884119e-16, -8.572527594031472e-16, -0.0, 0.7071067811865475, -1.0, 0.7071067811865485, -6.123233995736766e-16, -0.7071067811865476, 1.0, -0.7071067811865489, -0.0, 1.0, -3.6739403974420594e-16, -1.0, 7.347880794884119e-16, 1.0, -1.102182119232618e-15, -1.0, -0.0, 0.7071067811865477, 1.0, 0.7071067811865477, -8.572527594031472e-16, -0.7071067811865489, -1.0, -0.7071067811865446]


_DELAY_COS_SQL = "[" + ", ".join(repr(v) for v in _DELAY_COS) + "]"


_DELAY_SIN_SQL = "[" + ", ".join(repr(v) for v in _DELAY_SIN) + "]"


_DELAY_ORACLE = _with_ms(
    f"""
    , spq AS (
      SELECT time, antenna1, antenna2, chan,
             SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS re_q,
             SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS im_q
      FROM vis WHERE NOT (flag OR flag_row)
      GROUP BY 1, 2, 3, 4
    ),
    terms AS (
      SELECT time, antenna1, antenna2, chan, re_q, im_q,
             unnest(generate_series(0, 7)) AS k
      FROM spq
    ),
    dft AS (
      SELECT time, antenna1, antenna2, k,
             SUM(CAST(ROUND(((re_q / 1000000.0) * ({_DELAY_COS_SQL}[CAST(k*8 + chan + 1 AS INT)])
                 - (im_q / 1000000.0) * ({_DELAY_SIN_SQL}[CAST(k*8 + chan + 1 AS INT)]))
                 * 1000000.0) AS BIGINT)) AS fr_q,
             SUM(CAST(ROUND(((re_q / 1000000.0) * ({_DELAY_SIN_SQL}[CAST(k*8 + chan + 1 AS INT)])
                 + (im_q / 1000000.0) * ({_DELAY_COS_SQL}[CAST(k*8 + chan + 1 AS INT)]))
                 * 1000000.0) AS BIGINT)) AS fi_q
      FROM terms GROUP BY 1, 2, 3, 4
    )
    SELECT antenna1, antenna2, k AS delay_bin,
           CAST(COUNT(*) AS BIGINT) AS n_spectra,
           CAST(SUM(CAST(ROUND(((fr_q / 1000000.0) * (fr_q / 1000000.0)
               + (fi_q / 1000000.0) * (fi_q / 1000000.0)) * 1000000.0) AS BIGINT))
             AS BIGINT) AS power_q_sum
    FROM dft GROUP BY 1, 2, 3
    ORDER BY antenna1, antenna2, delay_bin
    """
)


@register("delay_spectrum_per_baseline", _DELAY_ORACLE)
def delay_spectrum_per_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-baseline delay spectrum — THE 21 cm/EoR power-spectrum
    estimator shape: the 8-channel spectrum of each (time, baseline)
    sample transforms along frequency (8-point DFT) into delay space,
    and |F(tau)|^2 accumulates per (baseline, delay bin). Foreground
    power concentrates at low delay; high-delay bins are the
    cosmological window. Spectra collapse to exact fixed-point ints
    first; the DFT trig factors are Python-precomputed literals shared
    verbatim by both engines, so every product is bit-identical. Two
    partial aggs — the 8x delay fan-out rides collapsed cardinality."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    spq = vis.groupBy("time", "antenna1", "antenna2", "chan").agg(
        F.sum(quantize(F.col("vis_re"), 1e6)).alias("re_q"),
        F.sum(quantize(F.col("vis_im"), 1e6)).alias("im_q"),
    )
    cos_arr = F.array(*[F.lit(v) for v in _DELAY_COS])
    sin_arr = F.array(*[F.lit(v) for v in _DELAY_SIN])
    terms = spq.select(
        "time", "antenna1", "antenna2", "chan", "re_q", "im_q",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k"),
    ).select(
        "time", "antenna1", "antenna2", "k",
        F.element_at(cos_arr, (F.col("k") * 8 + F.col("chan") + 1).cast("int"))
        .alias("ct"),
        F.element_at(sin_arr, (F.col("k") * 8 + F.col("chan") + 1).cast("int"))
        .alias("st"),
        (F.col("re_q") / F.lit(1e6)).alias("re"),
        (F.col("im_q") / F.lit(1e6)).alias("im"),
    )
    dft = terms.groupBy("time", "antenna1", "antenna2", "k").agg(
        F.sum(
            quantize(F.col("re") * F.col("ct") - F.col("im") * F.col("st"), 1e6)
        ).alias("fr_q"),
        F.sum(
            quantize(F.col("re") * F.col("st") + F.col("im") * F.col("ct"), 1e6)
        ).alias("fi_q"),
    )
    fr = F.col("fr_q") / F.lit(1e6)
    fi = F.col("fi_q") / F.lit(1e6)
    return (
        dft.groupBy("antenna1", "antenna2", F.col("k").alias("delay_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_spectra"),
            F.sum(quantize(fr * fr + fi * fi, 1e6)).alias("power_q_sum"),
        )
        .orderBy("antenna1", "antenna2", "delay_bin")
    )


_BAND_EDGE = 1  # channels flagged at each band edge


_BAND_EDGE_ORACLE = _with_ms(
    f"""
    , c AS (
      SELECT chan,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged_before,
             CAST(chan < {_BAND_EDGE} OR chan >= 8 - {_BAND_EDGE} AS INT)
               AS is_edge
      FROM vis GROUP BY chan
    )
    SELECT chan, n_rows, is_edge, n_flagged_before,
           CASE WHEN is_edge = 1 THEN n_rows ELSE n_flagged_before END
             AS n_flagged_after,
           CAST(ROUND((CASE WHEN is_edge = 1 THEN n_rows ELSE n_flagged_before END
                - n_flagged_before) * 1000000.0 / n_rows) AS BIGINT) AS added_ppm
    FROM c ORDER BY chan
    """
)


@register("band_edge_flagging", _BAND_EDGE_ORACLE)
def band_edge_flagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-edge channel flagging impact: edge channels sit on the
    bandpass roll-off and are flagged wholesale by every observatory
    pipeline; this reports the per-channel flag occupancy before/after
    the edge mask and the added fraction — the cost sheet for widening
    the guard band. Pure per-channel conditional aggregates."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir)
    c = vis.groupBy("chan").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("flag") | F.col("flag_row")).cast("long")).alias(
            "n_flagged_before"
        ),
    ).withColumn(
        "is_edge",
        (
            (F.col("chan") < _BAND_EDGE) | (F.col("chan") >= 8 - _BAND_EDGE)
        ).cast("int"),
    )
    after = F.when(F.col("is_edge") == 1, F.col("n_rows")).otherwise(
        F.col("n_flagged_before")
    )
    return c.select(
        "chan", "n_rows", "is_edge", "n_flagged_before",
        after.alias("n_flagged_after"),
        quantize(
            (after - F.col("n_flagged_before")).cast("double")
            * F.lit(1e6) / F.col("n_rows"),
            1.0,
        ).alias("added_ppm"),
    ).orderBy("chan")


_COHERENCE_ORACLE = _with_ms(
    """
    , s AS (
      SELECT antenna1, antenna2, chan, vis_re, vis_im,
             lag(vis_re) OVER w AS pre, lag(vis_im) OVER w AS pim
      FROM vis
      WINDOW w AS (PARTITION BY antenna1, antenna2, chan
                   ORDER BY time, row_id, vis_re, vis_im)
    )
    SELECT antenna1, antenna2,
           CAST(SUM(CASE WHEN pre IS NULL THEN 0 ELSE
             CAST(ROUND((vis_re * pre + vis_im * pim) * 1000000.0) AS BIGINT)
             END) AS BIGINT) AS lag1_q,
           CAST(SUM(CAST(ROUND((vis_re * vis_re + vis_im * vis_im) * 1000000.0)
             AS BIGINT)) AS BIGINT) AS power_q,
           CAST(ROUND(CAST(SUM(CASE WHEN pre IS NULL THEN 0 ELSE
             CAST(ROUND((vis_re * pre + vis_im * pim) * 1000000.0) AS BIGINT) END)
               AS DOUBLE)
             * 1000000.0
             / CAST(SUM(CAST(ROUND((vis_re * vis_re + vis_im * vis_im) * 1000000.0)
                   AS BIGINT)) AS DOUBLE)) AS BIGINT) AS coherence_ppm
    FROM s GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
    """
)


@register("coherence_time_estimate", _COHERENCE_ORACLE)
def coherence_time_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-baseline lag-1 temporal coherence Re<v_t * conj(v_{t-1})> /
    <|v|^2> — the averaging-time sanity check (a baseline decorrelating
    between successive samples cannot be time-averaged without loss;
    cf. the BDA decorrelation bound this estimates empirically). Lag
    windows per (baseline, chan) are streaming-friendly (no unbounded
    frames); sums fixed-point; the ratio is ints-over-ints."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir)
    # (time, row_id) is NOT unique in the testdata (duplicate
    # orderkey/linenumber pairs) — order ties by the value columns too,
    # so any remaining ties are value-identical and lag products are
    # permutation-invariant (r8 sf0.1 sweep lesson)
    w = W.partitionBy("antenna1", "antenna2", "chan").orderBy(
        "time", "row_id", "vis_re", "vis_im"
    )
    s = vis.select(
        "antenna1", "antenna2", "vis_re", "vis_im",
        F.lag("vis_re").over(w).alias("pre"),
        F.lag("vis_im").over(w).alias("pim"),
    )
    lag1 = F.when(
        F.col("pre").isNull(), F.lit(0).cast("long")
    ).otherwise(
        quantize(F.col("vis_re") * F.col("pre") + F.col("vis_im") * F.col("pim"), 1e6)
    )
    pw = quantize(
        F.col("vis_re") * F.col("vis_re") + F.col("vis_im") * F.col("vis_im"), 1e6
    )
    return (
        s.groupBy("antenna1", "antenna2")
        .agg(F.sum(lag1).alias("lag1_q"), F.sum(pw).alias("power_q"))
        .select(
            "antenna1", "antenna2", "lag1_q", "power_q",
            quantize(
                F.col("lag1_q").cast("double") * F.lit(1e6)
                / F.col("power_q").cast("double"),
                1.0,
            ).alias("coherence_ppm"),
        )
        .orderBy("antenna1", "antenna2")
    )


@register("sumthreshold_rfi_flags", _with_ms(flag_op.SUMTHRESHOLD_SQL()))
def sumthreshold_rfi_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AOFlagger SumThreshold (combinatorial-threshold variant, Offringa
    et al. 2010) over per-(baseline, chan) time series: windows of 1/2/4
    consecutive cells flag against integer thresholds chi_M = chi1/1.5^
    log2(M) — faint persistent RFI trips the wide windows a single-cell
    cut misses. One cell aggregation + bounded ROWS frames; the report
    is baseline-dimension-sized at any corpus scale."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return flag_op.sumthreshold_flags(vis)


@register("flag_grow_extend", _with_ms(flag_op.FLAG_GROW_SQL()))
def flag_grow_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASA flagdata mode='extend' as three window stages on the cell
    grid: +-1 time grow, +-1 channel grow, then whole-spectrum extension
    when more than half its channels are flagged. Per-baseline audit of
    the cells each stage adds (the flag-budget report an observatory
    reviews before committing a flagging strategy)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return flag_op.flag_grow_extend(vis)


@register("flagged_channel_interp", _with_ms(flag_op.CHANNEL_INTERP_SQL()))
def flagged_channel_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral repair: every fully-flagged (baseline, time, chan) cell
    is refilled by linear interpolation between the nearest unflagged
    channels (edge cells clamp one-sided). Brackets come from two
    running-extremum windows over (chan, value) int64 packs — no
    self-join, no IGNORE NULLS dependence; output is repaired cells
    only."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return flag_op.flagged_channel_interp(vis)


_DELAY_DECOMP_ORACLE = _with_ms(
    """
    , samp AS (
      SELECT antenna1, antenna2, chan,
             CAST(ROUND(atan2(vis_im, vis_re) * 1000000000.0) AS BIGINT) AS y
      FROM vis
      WHERE antenna1 < antenna2 AND NOT (flag OR flag_row)
    ),
    slopes AS (
      SELECT antenna1, antenna2,
             CAST(ROUND(
               CAST(COUNT(*) * SUM(CAST(chan AS HUGEINT) * y)
                    - SUM(CAST(chan AS HUGEINT)) * SUM(CAST(y AS HUGEINT))
                 AS DOUBLE)
               / CAST(COUNT(*) * SUM(CAST(chan AS HUGEINT) * chan)
                      - SUM(CAST(chan AS HUGEINT)) * SUM(CAST(chan AS HUGEINT))
                 AS DOUBLE) * 1000.0) AS BIGINT) AS s_q12
      FROM samp
      GROUP BY antenna1, antenna2
      HAVING COUNT(*) * SUM(CAST(chan AS HUGEINT) * chan)
             - SUM(CAST(chan AS HUGEINT)) * SUM(CAST(chan AS HUGEINT)) <> 0
    ),
    inc AS (
      SELECT antenna1 AS antenna, s_q12 AS s FROM slopes
      UNION ALL
      SELECT antenna2 AS antenna, -s_q12 AS s FROM slopes
    ),
    tau AS (
      SELECT antenna, COUNT(*) AS n_incident,
             CAST(ROUND(CAST(SUM(s) AS DOUBLE) / 7.0) AS BIGINT) AS tau_q12
      FROM inc GROUP BY antenna
    ),
    resid AS (
      SELECT s.antenna1, s.antenna2,
             s.s_q12 - (p.tau_q12 - q.tau_q12) AS r
      FROM slopes s
      JOIN tau p ON p.antenna = s.antenna1
      JOIN tau q ON q.antenna = s.antenna2
    ),
    rinc AS (
      SELECT antenna1 AS antenna, abs(r) AS ar FROM resid
      UNION ALL
      SELECT antenna2 AS antenna, abs(r) AS ar FROM resid
    )
    SELECT t.antenna AS antenna,
           t.tau_q12 - t0.tau_q12 AS tau_rel_q12,
           t.n_incident AS n_incident,
           CAST(SUM(rinc.ar) AS BIGINT) AS resid_abs_sum_q12
    FROM tau t
    JOIN (SELECT tau_q12 FROM tau WHERE antenna = 0) t0 ON TRUE
    JOIN rinc ON rinc.antenna = t.antenna
    GROUP BY t.antenna, t.tau_q12, t0.tau_q12, t.n_incident
    ORDER BY t.antenna
    """
)


@register("antenna_delay_decomposition", _DELAY_DECOMP_ORACLE)
def antenna_delay_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Antenna-based delay calibration (CASA gencal K-Jones shape):
    per-baseline phase-vs-channel slopes decompose into per-antenna
    delays via the complete-graph least-squares closed form
    tau_p = (sum_{q>p} s_pq - sum_{q<p} s_qp)/N, gauge-fixed to the
    reference antenna 0 — the step that turns 21 baseline fringe fits
    into 7 antenna corrections. Moments accumulate in DECIMAL(38,0)
    (n*Sxy overflows int64 past ~sf0.1); the per-antenna residual
    |s_pq - (tau_p - tau_q)| sum is the closure-quality audit. Fact
    table collapses once; everything after is antenna-dimension
    arithmetic. Synthetic-recovery-tested (a planted per-antenna delay
    screen decomposes back exactly, tests/test_round8_wave2.py)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.antenna_delay_decomposition(vis)


_WMEDIAN_ORACLE = _with_ms(
    """
    , samp AS (
      SELECT antenna1, antenna2,
             CAST(ROUND(sqrt(vis_re*vis_re + vis_im*vis_im) * 1000.0)
                  AS BIGINT) AS amp_q,
             CAST(weight AS BIGINT) AS w
      FROM vis WHERE NOT (flag OR flag_row)
    ),
    cum AS (
      SELECT antenna1, antenna2, amp_q, w,
             CAST(SUM(w) OVER (PARTITION BY antenna1, antenna2
                               ORDER BY amp_q
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY antenna1, antenna2)
                  AS BIGINT) AS wt
      FROM samp
    )
    SELECT antenna1, antenna2,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           MAX(wt) AS w_total,
           MIN(CASE WHEN 2 * cw >= wt THEN amp_q END) AS median_amp_q,
           MIN(CASE WHEN 10 * cw >= 9 * wt THEN amp_q END) AS p90_amp_q
    FROM cum GROUP BY antenna1, antenna2 ORDER BY antenna1, antenna2
    """
)


@register("baseline_weighted_median_amp", _WMEDIAN_ORACLE)
def baseline_weighted_median_amp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-baseline median and p90 amplitude — the robust
    per-baseline levels a flagging strategy thresholds against (median
    is immune to the RFI it hunts; the SumThreshold chi1 would derive
    from exactly this table in production). Weighted quantile as MIN
    amp whose cumulative weight crosses the fraction: within an amp_q
    tie block the crossing row may differ between engines, but the
    SELECTED amp value cannot — the definition is value-deterministic
    without any row-order tie-break."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(~(F.col("flag") | F.col("flag_row")))
    samp = vis.select(
        "antenna1",
        "antenna2",
        quantize(
            F.sqrt(F.col("vis_re") * F.col("vis_re") + F.col("vis_im") * F.col("vis_im")),
            1e3,
        ).alias("amp_q"),
        F.col("weight").cast("long").alias("w"),
    )
    wb = W.partitionBy("antenna1", "antenna2")
    cum = samp.select(
        "antenna1",
        "antenna2",
        "amp_q",
        "w",
        F.sum("w").over(wb.orderBy("amp_q").rowsBetween(W.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(wb).alias("wt"),
    )
    return (
        cum.groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.max("wt").alias("w_total"),
            F.min(F.when(2 * F.col("cw") >= F.col("wt"), F.col("amp_q"))).alias("median_amp_q"),
            F.min(F.when(10 * F.col("cw") >= 9 * F.col("wt"), F.col("amp_q"))).alias("p90_amp_q"),
        )
        .orderBy("antenna1", "antenna2")
    )


# ---------------------------------------------------------------------------
# r10: FLAG_CMD-style versioned flag tables (the MS v2 flag-versioning
# semantics — casacore flagversions / CASA flagmanager save, apply,
# restore). Flag states are snapshot-sink VERSIONS: v1 = the MS's
# original flags, v2 = v1 with an RFI amp-threshold pass OR'd in
# (flagmanager save after flagdata), v3 = restore of v1 (flagmanager
# restore). Every version stays time-travel readable; the report
# aggregates each version's flag census with an order-free row-id
# checksum, so the restore's bit-identity to v1 is driver-checkable.
# Rebuilt only when the source digest changes (the persisted-index
# freshness pattern).
# ---------------------------------------------------------------------------

_FLAGVER_SQL = _with_ms("""
  , v AS (
    SELECT row_id, (flag OR flag_row) AS f1,
           ((flag OR flag_row) OR
            CAST(ROUND((vis_re*vis_re + vis_im*vis_im) * 100) AS BIGINT)
              > 160000) AS f2
    FROM vis
  )
  SELECT version,
         COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         CAST(SUM(CASE WHEN f THEN row_id ELSE 0 END) AS BIGINT) AS flag_sig
  FROM (
    SELECT 1 AS version, row_id, f1 AS f FROM v
    UNION ALL SELECT 2, row_id, f2 FROM v
    UNION ALL SELECT 3, row_id, f1 FROM v
  )
  GROUP BY version ORDER BY version
""")


def _flagver_root(sf_dir: str) -> str:
    import hashlib
    import os as _o
    import tempfile as _t

    tag = hashlib.md5(_o.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return f"{_t.gettempdir()}/cas_flagver/{tag}"


@register("flag_version_tables", _FLAGVER_SQL)
def flag_version_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned flag tables through the transactional snapshot sink
    (MS v2 FLAG_CMD / CASA flagmanager semantics): v1 commits the MS's
    original flags, v2 overwrites with an RFI amp-threshold pass OR'd
    in, v3 restores v1 by re-committing the v1 content read back via
    TIME TRAVEL (not a cached frame — the restore itself exercises the
    versioned read). The census report proves v3 ≡ v1 through the
    order-free row-id checksum."""
    from codex_africanus_spark.operators.similarity import (
        _index_fresh_source,
        _tombstone_index_meta,
        _write_index_meta,
    )
    from codex_africanus_spark.sources import snapshot as snap
    from codex_africanus_spark.sources.tables import source_fingerprint

    root = _flagver_root(sf_dir)
    vis = tpch_ms.vis_table(spark, sf_dir)
    src_fp = source_fingerprint(vis.select(F.col("row_id").alias("vec_id")))
    consts = "flagver=v2-amp2c-gt-160000;fmt=1"
    if not _index_fresh_source(spark, root, 91, consts, src_fp):
        import shutil

        _tombstone_index_meta(spark, root)
        shutil.rmtree(f"{root}/data", ignore_errors=True)
        f1 = vis.select(
            "row_id", (F.col("flag") | F.col("flag_row")).alias("f")
        )
        snap.commit(f1, f"{root}/data", mode="overwrite")          # v1
        rfi = (
            F.expr(
                "CAST(ROUND((vis_re*vis_re + vis_im*vis_im) * 100) AS BIGINT)"
            ) > 160000
        )
        f2 = vis.select(
            "row_id",
            ((F.col("flag") | F.col("flag_row")) | rfi).alias("f"),
        )
        snap.commit(f2, f"{root}/data", mode="overwrite")          # v2
        restored = snap.read_snapshot(spark, f"{root}/data", version=1)
        snap.commit(restored, f"{root}/data", mode="overwrite")    # v3
        _write_index_meta(spark, root, (91, 0, 0, consts), src_fp)
    frames = []
    for ver in (1, 2, 3):
        t = snap.read_snapshot(spark, f"{root}/data", version=ver)
        frames.append(t.select(F.lit(ver).alias("version"), "row_id", "f"))
    allv = frames[0].unionByName(frames[1]).unionByName(frames[2])
    return (
        allv.groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("f").cast("int")).cast("long").alias("n_flagged"),
            F.sum(F.when(F.col("f"), F.col("row_id")).otherwise(F.lit(0)))
            .cast("long")
            .alias("flag_sig"),
        )
        .orderBy("version")
    )


@register("statwt_reweight", _with_ms(cal_op.STATWT_SQL))
def statwt_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """statwt (r10): per-(baseline, weekly-chunk) noise from adjacent-
    channel differencing, new weight = 1/sigma2, and the reweighted
    per-baseline average that consumes the updated weights — CASA
    statwt's recompute-WEIGHT-from-scatter semantics (the reference
    delegates this to upstream tools). Zero-variance chunks excluded,
    cross-chunk products on the 1e-9 grid (order-free sums)."""
    return cal_op.statwt_reweight(tpch_ms.vis_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# r10: antenna-based RFI attribution — decompose per-baseline flag
# counts under the ADDITIVE model f_ij ≈ a_i + a_j (an antenna with a
# bad receiver inflates every baseline it touches). Complete-graph
# least squares has the closed form a_i = (S_i − T/(n−1)) / (n−2) with
# S_i the antenna's incident flag total and T the global total — the
# additive sibling of the SIGNED delay decomposition
# (antenna_delay_decomposition's τ_i − τ_j model). All-integer: the
# score is emitted as a ppm numerator over the exact denominator
# (n−2)(n−1); Spark DIV and DuckDB // share truncate-toward-zero.
# Incomplete baseline graphs get is_complete = 0 (the estimator is
# exact only on the complete graph — the report says so rather than
# silently extrapolating).
# ---------------------------------------------------------------------------

_RFI_ATTR_ORACLE = _with_ms(
    """
    , bl AS (
      SELECT antenna1, antenna2,
             CAST(SUM(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END)
                  AS BIGINT) AS f
      FROM vis WHERE antenna1 < antenna2
      GROUP BY antenna1, antenna2
    ),
    ants AS (
      SELECT antenna1 AS antenna FROM bl
      UNION SELECT antenna2 FROM bl
    ),
    gstats AS (
      SELECT (SELECT COUNT(*) FROM ants) AS n_ant,
             (SELECT COUNT(*) FROM bl) AS n_pairs,
             (SELECT CAST(SUM(f) AS BIGINT) FROM bl) AS t
    ),
    inc AS (
      SELECT antenna1 AS antenna, f FROM bl
      UNION ALL SELECT antenna2, f FROM bl
    ),
    s AS (
      SELECT antenna, CAST(SUM(f) AS BIGINT) AS s_i,
             COUNT(*) AS n_incident
      FROM inc GROUP BY antenna
    )
    SELECT s.antenna, s.s_i, s.n_incident,
           CASE WHEN g.n_ant > 2
                THEN CAST((s.s_i * (g.n_ant - 1) - g.t) * 1000000
                     // ((g.n_ant - 2) * (g.n_ant - 1)) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS score_ppm,
           CAST(CASE WHEN g.n_pairs = g.n_ant * (g.n_ant - 1) // 2
                THEN 1 ELSE 0 END AS INT) AS is_complete
    FROM s, gstats g
    ORDER BY s.antenna
    """
)


@register("antenna_rfi_attribution", _RFI_ATTR_ORACLE)
def antenna_rfi_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-antenna RFI score from the additive baseline-flag model
    (see _RFI_ATTR_ORACLE). Fact work: one baseline-grain flag census;
    the attribution runs on #antennas rows."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    bl = (
        vis.filter(F.col("antenna1") < F.col("antenna2"))
        .groupBy("antenna1", "antenna2")
        .agg(
            F.sum((F.col("flag") | F.col("flag_row")).cast("int"))
            .cast("long").alias("f")
        )
    )
    ants = bl.select(F.col("antenna1").alias("antenna")).union(
        bl.select(F.col("antenna2").alias("antenna"))
    ).distinct()
    glob = ants.agg(F.count(F.lit(1)).alias("n_ant")).crossJoin(
        bl.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("f").cast("long").alias("t"),
        )
    )
    inc = bl.select(F.col("antenna1").alias("antenna"), "f").unionByName(
        bl.select(F.col("antenna2").alias("antenna"), "f")
    )
    s = inc.groupBy("antenna").agg(
        F.sum("f").cast("long").alias("s_i"),
        F.count(F.lit(1)).alias("n_incident"),
    )
    return (
        s.crossJoin(F.broadcast(glob))
        .select(
            "antenna", "s_i", "n_incident",
            F.when(
                F.col("n_ant") > 2,
                F.expr(
                    "CAST((s_i * (n_ant - 1) - t) * 1000000 "
                    "DIV ((n_ant - 2) * (n_ant - 1)) AS BIGINT)"
                ),
            ).otherwise(F.lit(0)).alias("score_ppm"),
            F.expr(
                "CAST(CASE WHEN n_pairs = n_ant * (n_ant - 1) DIV 2 "
                "THEN 1 ELSE 0 END AS INT)"
            ).alias("is_complete"),
        )
        .orderBy("antenna")
    )


# ---------------------------------------------------------------------------
# r11: CUBE over the MS flag grain — per-(antenna1, channel) flag
# occupancy plus BOTH one-dimensional margins and the global total from
# a single fact scan (CASA flagdata's summary mode reports exactly this
# antenna/channel flag-percentage lattice; the reference leaves it to
# upstream tools). The Expand fans each row to the 4 cube levels
# map-side; the shuffled key space is (levels × |ant|×|chan|) — tiny.
# Rolled-up integer keys use the -1 sentinel (real keys are >= 0).
# ---------------------------------------------------------------------------

_FLAG_CUBE_ORACLE = _with_ms(
    """
    SELECT
      CAST(CASE WHEN GROUPING(antenna1) = 1 THEN -1 ELSE antenna1 END AS INT)
        AS ant1,
      CAST(CASE WHEN GROUPING(chan) = 1 THEN -1 ELSE chan END AS INT)
        AS chan_id,
      CAST(GROUPING_ID(antenna1, chan) AS INT) AS gid,
      COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END) AS BIGINT)
        AS n_flagged,
      CAST(SUM(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END) * 1000000
           // COUNT(*) AS BIGINT) AS flag_ppm,
      CAST(SUM(CAST(weight AS BIGINT)) AS BIGINT) AS weight_sum
    FROM vis
    GROUP BY CUBE(antenna1, chan)
    ORDER BY gid, ant1, chan_id
    """
)


@register("ms_flag_cube_summary", _FLAG_CUBE_ORACLE)
def ms_flag_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flagdata-summary lattice: antenna×channel flag occupancy with
    margins, one Expand + hash-agg plan (see the section comment)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    flagged = (F.col("flag") | F.col("flag_row")).cast("int")
    return (
        vis.cube("antenna1", "chan")
        .agg(
            F.grouping("antenna1").alias("g_a"),
            F.grouping("chan").alias("g_c"),
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(flagged).cast("long").alias("n_flagged"),
            F.sum(F.col("weight").cast("long")).alias("weight_sum"),
        )
        .select(
            F.when(F.col("g_a") == 1, F.lit(-1))
            .otherwise(F.col("antenna1")).cast("int").alias("ant1"),
            F.when(F.col("g_c") == 1, F.lit(-1))
            .otherwise(F.col("chan")).cast("int").alias("chan_id"),
            "gid", "n_rows", "n_flagged",
            F.expr("CAST(n_flagged * 1000000 DIV n_rows AS BIGINT)")
            .alias("flag_ppm"),
            "weight_sum",
        )
        .orderBy("gid", "ant1", "chan_id")
    )


# ---------------------------------------------------------------------------
# r11: 1-D phase unwrapping per baseline (ROADMAP r11 candidate) — the
# classic calibration step (numpy.unwrap over a baseline's phase-time
# series; the reference consumes pre-unwrapped phases upstream of
# gauss_newton). Expressed as the monotone-trigger sequential class:
# a lag-window wrap detector feeding a running cumulative corrector —
# NO recursion needed because each correction depends only on the
# adjacent pair. Entirely on the integer milliradian grid (2pi = 6283
# mrad, phases in [-3141, 3141], |step| <= 6282 so a single +-1 wrap
# per step is exhaustive) — bit-exact across engines by construction.
# One shuffle on the baseline key; both windows and the final collapse
# reuse the same partitioning.
# ---------------------------------------------------------------------------

_PHASE_UNWRAP_ORACLE = _with_ms(
    """
    , ph AS (
      SELECT antenna1, antenna2, time, row_id,
             ((CAST(ROUND(u*10) AS BIGINT) * 97
               + CAST(ROUND(vis_im*10) AS BIGINT) * 131
               + CAST(ROUND(vis_re) AS BIGINT) * 211 + row_id) % 6283 + 6283)
               % 6283 - 3141 AS p_mrad
      FROM vis
    ),
    st AS (
      SELECT *, p_mrad - LAG(p_mrad) OVER w AS d
      FROM ph
      WINDOW w AS (PARTITION BY antenna1, antenna2
                   ORDER BY time, row_id, p_mrad)
    ),
    corr AS (
      SELECT *,
             CASE WHEN d > 3141 THEN -1 WHEN d < -3141 THEN 1 ELSE 0 END AS c
      FROM st
    ),
    unw AS (
      SELECT antenna1, antenna2,
             c,
             p_mrad + 6283 * SUM(c) OVER w AS unw_mrad,
             ROW_NUMBER() OVER (PARTITION BY antenna1, antenna2
                                ORDER BY time DESC, row_id DESC,
                                         p_mrad DESC) AS rn_last
      FROM corr
      WINDOW w AS (PARTITION BY antenna1, antenna2
                   ORDER BY time, row_id, p_mrad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT antenna1, antenna2,
           COUNT(*)                                  AS n_samples,
           CAST(SUM(c) AS BIGINT)                    AS net_wraps,
           CAST(SUM(ABS(c)) AS BIGINT)               AS total_wraps,
           CAST(MAX(CASE WHEN rn_last = 1 THEN unw_mrad END) AS BIGINT)
                                                     AS final_unw_mrad,
           CAST(MAX(unw_mrad) - MIN(unw_mrad) AS BIGINT) AS span_mrad
    FROM unw
    GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
    """
)


@register("phase_unwrap_per_baseline", _PHASE_UNWRAP_ORACLE)
def phase_unwrap_per_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-grid 1-D phase unwrap per baseline (see the section
    comment): lag-window wrap detector + running corrector + collapse,
    all under ONE baseline-key shuffle."""
    from pyspark.sql import Window as W

    vis = tpch_ms.vis_table(spark, sf_dir)
    ph = vis.select(
        "antenna1", "antenna2", "time", "row_id",
        (
            (
                (F.round(F.col("u") * 10).cast("long") * 97
                 + F.round(F.col("vis_im") * 10).cast("long") * 131
                 + F.round(F.col("vis_re")).cast("long") * 211 + F.col("row_id"))
                % 6283 + 6283
            ) % 6283 - 3141
        ).alias("p_mrad"),
    )
    w = W.partitionBy("antenna1", "antenna2").orderBy(
        "time", "row_id", "p_mrad"
    )
    st = ph.withColumn("d", F.col("p_mrad") - F.lag("p_mrad").over(w))
    corr = st.withColumn(
        "c",
        F.when(F.col("d") > 3141, F.lit(-1))
        .when(F.col("d") < -3141, F.lit(1))
        .otherwise(F.lit(0)),
    )
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    wlast = W.partitionBy("antenna1", "antenna2").orderBy(
        F.col("time").desc(), F.col("row_id").desc(), F.col("p_mrad").desc()
    )
    unw = corr.select(
        "antenna1", "antenna2", "c",
        (F.col("p_mrad") + 6283 * F.sum("c").over(wrun)).alias("unw_mrad"),
        F.row_number().over(wlast).alias("rn_last"),
    )
    return (
        unw.groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("c").cast("long").alias("net_wraps"),
            F.sum(F.abs(F.col("c"))).cast("long").alias("total_wraps"),
            F.max(F.when(F.col("rn_last") == 1, F.col("unw_mrad")))
            .cast("long").alias("final_unw_mrad"),
            (F.max("unw_mrad") - F.min("unw_mrad")).cast("long")
            .alias("span_mrad"),
        )
        .orderBy("antenna1", "antenna2")
    )


# ---------------------------------------------------------------------------
# r11: trailing-window flag-rate monitor — per (baseline, sample) the
# flag rate over the trailing 7 days via a time-RANGE window frame
# (RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW on the integral-
# second clock — a NEW frame shape in the registry: value-range, not
# row-count), collapsed to the per-baseline peak. The online-RFI
# trigger a live array monitor runs ("flag rate over the last N days
# just spiked on this baseline"). Integer end-to-end: counts and a ppm
# ratio under truncating division on both engines.
# ---------------------------------------------------------------------------

_ROLLING_FLAG_ORACLE = _with_ms(
    """
    , b AS (
      SELECT antenna1, antenna2,
             CAST(time AS BIGINT) AS t_sec,
             CAST(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END AS BIGINT) AS f
      FROM vis
    ),
    r AS (
      SELECT antenna1, antenna2, t_sec,
             SUM(f) OVER w    AS w_flagged,
             COUNT(*) OVER w  AS w_rows
      FROM b
      WINDOW w AS (PARTITION BY antenna1, antenna2 ORDER BY t_sec
                   RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
    ),
    rr AS (
      SELECT antenna1, antenna2, t_sec,
             CAST(w_flagged * 1000000 // w_rows AS BIGINT) AS rate_ppm
      FROM r
    ),
    rr2 AS (
      SELECT *, MAX(rate_ppm) OVER (PARTITION BY antenna1, antenna2) AS mx
      FROM rr
    )
    SELECT antenna1, antenna2,
           COUNT(*)                           AS n_samples,
           CAST(MAX(rate_ppm) AS BIGINT)      AS peak_rate_ppm,
           CAST(MIN(CASE WHEN rate_ppm = mx THEN t_sec END) AS BIGINT)
                                              AS peak_first_t_sec
    FROM rr2
    GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
    """
)


@register("baseline_rolling_flag_rate", _ROLLING_FLAG_ORACLE)
def baseline_rolling_flag_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-baseline peak of the trailing-7-day flag rate via a
    value-RANGE window frame (see the section comment)."""
    from pyspark.sql import Window as W

    vis = tpch_ms.vis_table(spark, sf_dir)
    b = vis.select(
        "antenna1", "antenna2",
        F.col("time").cast("long").alias("t_sec"),
        (F.col("flag") | F.col("flag_row")).cast("long").alias("f"),
    )
    w = (
        W.partitionBy("antenna1", "antenna2")
        .orderBy("t_sec")
        .rangeBetween(-604800, W.currentRow)
    )
    r = b.select(
        "antenna1", "antenna2", "t_sec",
        F.sum("f").over(w).alias("w_flagged"),
        F.count(F.lit(1)).over(w).alias("w_rows"),
    )
    rr = r.select(
        "antenna1", "antenna2", "t_sec",
        F.expr("CAST(w_flagged * 1000000 DIV w_rows AS BIGINT)")
        .alias("rate_ppm"),
    )
    wmax = W.partitionBy("antenna1", "antenna2")
    peak = rr.withColumn("mx", F.max("rate_ppm").over(wmax))
    return (
        peak.groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.max("rate_ppm").cast("long").alias("peak_rate_ppm"),
            F.min(F.when(F.col("rate_ppm") == F.col("mx"), F.col("t_sec")))
            .cast("long").alias("peak_first_t_sec"),
        )
        .orderBy("antenna1", "antenna2")
    )


# ---------------------------------------------------------------------------
# r11: corr-axis unpivot — the corr-major <-> long-layout conversion
# every MS consumer performs (casacore stores DATA as a row x chan x
# corr cube; a relational engine wants one row per correlation;
# reference: the corr-axis reshapes throughout africanus/rime).
# Spark 4's native DataFrame.unpivot is ONE Expand node — a map-side
# row fan-out, no shuffle until the per-corr collapse. Values ride the
# exact cent grid.
# ---------------------------------------------------------------------------

_CORR_UNPIVOT_ORACLE = _with_ms(
    """
    , wide AS (
      SELECT row_id,
             vis_re                 AS c_xx,
             vis_im                 AS c_xy,
             weight                 AS c_yx,
             sigma                  AS c_yy
      FROM vis
    ),
    long AS (
      SELECT 'c_xx' AS corr, c_xx AS v FROM wide
      UNION ALL SELECT 'c_xy', c_xy FROM wide
      UNION ALL SELECT 'c_yx', c_yx FROM wide
      UNION ALL SELECT 'c_yy', c_yy FROM wide
    )
    SELECT corr, COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(v * 100) AS BIGINT)) AS BIGINT) AS sum_c2,
           CAST(MIN(CAST(ROUND(v * 100) AS BIGINT)) AS BIGINT) AS min_c2,
           CAST(MAX(CAST(ROUND(v * 100) AS BIGINT)) AS BIGINT) AS max_c2
    FROM long
    GROUP BY corr ORDER BY corr
    """
)


@register("ms_corr_unpivot_long", _CORR_UNPIVOT_ORACLE)
def ms_corr_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corr-major to long layout via native unpivot (one Expand,
    map-side), collapsed per correlation on the exact cent grid."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    wide = vis.select(
        "row_id",
        F.col("vis_re").alias("c_xx"),
        F.col("vis_im").alias("c_xy"),
        F.col("weight").alias("c_yx"),
        F.col("sigma").alias("c_yy"),
    )
    long = wide.unpivot(
        ids=["row_id"],
        values=["c_xx", "c_xy", "c_yx", "c_yy"],
        variableColumnName="corr",
        valueColumnName="v",
    )
    c2 = F.round(F.col("v") * 100).cast("long")
    return (
        long.groupBy("corr")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(c2).alias("sum_c2"),
            F.min(c2).alias("min_c2"),
            F.max(c2).alias("max_c2"),
        )
        .orderBy("corr")
    )


# ---------------------------------------------------------------------------
# r11: SALTED phase unwrap — the skew decomposition for the sequential
# class, done entirely relationally (no pandas): per-(baseline,
# 30-day-bucket) internal unwrap, then a bucket-summary stitch. The
# running corrector splits exactly because cumsum is associative:
#   k_global(row in bucket b) = k_internal(row)
#     + Σ_{b'<b} net_internal(b')          (each bucket's wrap total)
#     + Σ_{b''<=b} c_boundary(b'')         (one corrector per boundary,
#                                           first-row-of-bucket vs
#                                           last-row-of-previous)
# so every per-row quantity needs only ONE fact shuffle on the SALTED
# key (baseline, bucket) — a hot baseline spreads over its buckets —
# and the stitch runs on the O(#baselines × #buckets) summary frame.
# Output and oracle are IDENTICAL to phase_unwrap_per_baseline: the
# decomposition must be bit-equal, that is the point.
# ---------------------------------------------------------------------------


@register("phase_unwrap_salted", _PHASE_UNWRAP_ORACLE)
def phase_unwrap_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-decomposed exact phase unwrap (see the section comment).
    The bucket-summary/stitch core lives in operators/unwrap.py."""
    from codex_africanus_spark.operators import unwrap as unwrap_op

    vis = tpch_ms.vis_table(spark, sf_dir)
    ph = unwrap_op.phase_frame(vis)
    stitched = unwrap_op.stitch_buckets(unwrap_op.bucket_summary(ph))
    return (
        stitched.groupBy("antenna1", "antenna2")
        .agg(
            F.sum("n").alias("n_samples"),
            (F.sum("net_in") + F.sum("c_b")).cast("long").alias("net_wraps"),
            (F.sum("abs_in") + F.sum(F.abs(F.col("c_b")))).cast("long")
            .alias("total_wraps"),
            F.expr("max_by(last_unw_in + 6283 * offset, bucket)")
            .cast("long").alias("final_unw_mrad"),
            (
                F.max(F.col("max_unw_in") + 6283 * F.col("offset"))
                - F.min(F.col("min_unw_in") + 6283 * F.col("offset"))
            ).cast("long").alias("span_mrad"),
        )
        .orderBy("antenna1", "antenna2")
    )


# ---------------------------------------------------------------------------
# r12: ms_corr_pivot_wide — the inverse of ms_corr_unpivot_long through
# the DataFrame pivot API with an EXPLICIT value list (no distinct-scan
# planning pass; Catalyst compiles it to conditional aggregates — one
# fact scan, one exchange). Long-layout (row_id, corr, v) rows pivot
# back to one row per chan with the four correlations as columns, on
# the exact cent grid. The oracle uses conditional aggregation — the
# same algebra PIVOT lowers to.
# ---------------------------------------------------------------------------

_CORR_PIVOT_ORACLE = _with_ms(
    """
    , long AS (
      SELECT chan, 'c_xx' AS corr, vis_re AS v FROM vis
      UNION ALL SELECT chan, 'c_xy', vis_im FROM vis
      UNION ALL SELECT chan, 'c_yx', weight FROM vis
      UNION ALL SELECT chan, 'c_yy', sigma FROM vis
    )
    SELECT chan,
           CAST(SUM(CASE WHEN corr = 'c_xx'
                    THEN CAST(ROUND(v * 100) AS BIGINT) END) AS BIGINT)
             AS xx_c2,
           CAST(SUM(CASE WHEN corr = 'c_xy'
                    THEN CAST(ROUND(v * 100) AS BIGINT) END) AS BIGINT)
             AS xy_c2,
           CAST(SUM(CASE WHEN corr = 'c_yx'
                    THEN CAST(ROUND(v * 100) AS BIGINT) END) AS BIGINT)
             AS yx_c2,
           CAST(SUM(CASE WHEN corr = 'c_yy'
                    THEN CAST(ROUND(v * 100) AS BIGINT) END) AS BIGINT)
             AS yy_c2,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM long GROUP BY chan ORDER BY chan
    """
)


@register("ms_corr_pivot_wide", _CORR_PIVOT_ORACLE)
def ms_corr_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-to-wide correlation pivot (see the section comment)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    long = vis.select(
        "chan",
        F.col("vis_re").alias("c_xx"),
        F.col("vis_im").alias("c_xy"),
        F.col("weight").alias("c_yx"),
        F.col("sigma").alias("c_yy"),
    ).unpivot(
        ids=["chan"],
        values=["c_xx", "c_xy", "c_yx", "c_yy"],
        variableColumnName="corr",
        valueColumnName="v",
    )
    c2 = F.round(F.col("v") * 100).cast("long")
    wide = (
        long.select("chan", "corr", c2.alias("v_c2"))
        .groupBy("chan")
        .pivot("corr", ["c_xx", "c_xy", "c_yx", "c_yy"])
        .agg(F.sum("v_c2"))
    )
    counts = long.groupBy("chan").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells")
    )
    return (
        wide.join(counts, "chan")
        .select(
            "chan",
            F.col("c_xx").cast("long").alias("xx_c2"),
            F.col("c_xy").cast("long").alias("xy_c2"),
            F.col("c_yx").cast("long").alias("yx_c2"),
            F.col("c_yy").cast("long").alias("yy_c2"),
            "n_cells",
        )
        .orderBy("chan")
    )


# ---------------------------------------------------------------------------
# r13 widening: SPATIAL RADIUS SELF-JOIN on the uv plane — the
# grid-bucket + neighbor-cell-expansion pattern (the canonical
# distributed spatial join) the registry lacked: every uv sample pair
# within radius R, found by quantizing points to R-sized cells,
# expanding ONE side by the 3x3 neighbor offsets (a literal-bounded
# Generate), equi-joining on cell id, and exact-filtering on the
# fixed-point squared distance. Correctness is mathematical: a pair
# within R differs by <= 1 cell per axis, and each ordered pair
# matches exactly one offset, so no dedup stage exists. The physical
# reading: near-coincident uv samples (within-R pairs) measure the
# same sky Fourier mode — the tolerance form of the exact-cell
# redundant-baseline grouping. The oracle replays the grid method;
# brute-force equivalence (the O(n^2) definition) is locked at test
# scale in tests/test_round13c_queries.py.
# ---------------------------------------------------------------------------

_UVR_MOD = 97          # point sample: row_id % 97 == 0
_UVR_R = 5.0           # radius in uv units (u, v live on the 0.1 grid)
_UVR_R2Q = 2500        # R^2 on the 1e-2 fixed-point grid

_UV_RADIUS_ORACLE = _with_ms(
    f"""
    , pts AS (
      SELECT row_id, u, v,
             CAST(FLOOR(u / {_UVR_R}) AS BIGINT) AS cu,
             CAST(FLOOR(v / {_UVR_R}) AS BIGINT) AS cv
      FROM vis WHERE row_id % {_UVR_MOD} = 0
    ),
    shifted AS (
      SELECT p.row_id, p.u, p.v,
             p.cu + du.range AS cu, p.cv + dv.range AS cv
      FROM pts p, range(-1, 2) du, range(-1, 2) dv
    ),
    pairs AS (
      SELECT a.row_id AS id_a, b.row_id AS id_b,
             CAST(ROUND(((a.u - b.u) * (a.u - b.u)
                        + (a.v - b.v) * (a.v - b.v)) * 100) AS BIGINT)
               AS dist2_q
      FROM pts a JOIN shifted b ON a.cu = b.cu AND a.cv = b.cv
      WHERE a.row_id < b.row_id
    )
    SELECT id_a, id_b, dist2_q FROM pairs
    WHERE dist2_q <= {_UVR_R2Q}
    ORDER BY id_a, id_b
    """
)


@register("uv_radius_neighbor_pairs", _UV_RADIUS_ORACLE)
def uv_radius_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uv-plane radius self-join (section comment). Plan: one Generate
    (9 literal offsets) on one side, a cell-keyed shuffle join (cells
    are R-sized -> bounded occupancy, skew-free by the uv grid's near-
    uniformity), and a codegen integer distance filter; pair work is
    O(points x occupancy), never O(points^2)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        F.col("row_id") % _UVR_MOD == 0
    )
    pts = vis.select(
        "row_id", "u", "v",
        F.floor(F.col("u") / F.lit(_UVR_R)).alias("cu"),
        F.floor(F.col("v") / F.lit(_UVR_R)).alias("cv"),
    )
    shifted = pts.select(
        F.col("row_id").alias("id_b"),
        F.col("u").alias("ub"),
        F.col("v").alias("vb"),
        F.explode(F.expr("array(-1, 0, 1)")).alias("du"),
        "cu", "cv",
    ).select(
        "id_b", "ub", "vb",
        (F.col("cu") + F.col("du")).alias("cu"),
        F.explode(F.expr("array(-1, 0, 1)")).alias("dv"),
        "cv",
    ).select(
        "id_b", "ub", "vb", "cu", (F.col("cv") + F.col("dv")).alias("cv")
    )
    d2q = F.round(
        (
            (F.col("u") - F.col("ub")) * (F.col("u") - F.col("ub"))
            + (F.col("v") - F.col("vb")) * (F.col("v") - F.col("vb"))
        )
        * 100
    ).cast("long")
    return (
        pts.join(shifted, ["cu", "cv"])
        .filter(F.col("row_id") < F.col("id_b"))
        .select(
            F.col("row_id").alias("id_a"), "id_b", d2q.alias("dist2_q")
        )
        .filter(F.col("dist2_q") <= _UVR_R2Q)
        .orderBy("id_a", "id_b")
    )
