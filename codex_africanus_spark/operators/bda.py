"""Data-dependent sequential binning: sessionization & BDA.

Two operators with the same skeleton — per-key ordered scan where the
bin boundary depends on accumulated state — the one class of reference
semantics that is NOT expressible as pure relational algebra
(SURVEY.md §7 hard part 3):

- `sessionize`: gap-based session assignment (events stream analogue of
  per-baseline bin closure). The *gap rule* is expressible via the
  classic gaps-and-islands SQL (lag + running sum), so this one IS
  oracle-checkable — we implement it with applyInPandas to exercise the
  custom-stateful path and check it against the SQL identity.
- `bda_average`: baseline-dependent averaging
  (/root/reference/africanus/averaging/bda_mapping.py:111-277 Binner):
  accumulate rows into a bin while the decorrelation proxy
  Σ|Δuvw|·scale stays under a tolerance AND the bin time-span stays
  under `max_span_secs`; emit weighted bin averages. The accumulated-
  state closure rule has no SQL window equivalent → rows-only check.

Scale notes: both shuffle once on the group key (user_id / baseline) and
stream each group through Arrow batches in time order. Skew guard: long
baselines produce *more* bins but not more input rows per key than the
data has — the shuffle is bounded by the natural key cardinality. For
pathological keys (one user = 10% of events) AQE skew-join splitting
does not apply to applyInPandas; the mitigation is a two-level key
(user_id, coarse-time-bucket) pre-split — documented, not needed at
these SFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize(events: DataFrame, gap_us: int = 1_800_000_000) -> DataFrame:
    """Assign session indices per user: a new session starts when the gap
    from the previous event exceeds `gap_us` (default 30 min).

    Shape: repartition by user, sort within partitions by (user, ts,
    id), then ONE vectorized pass per Arrow batch via mapInPandas with
    carry state across batches (a user may straddle a batch boundary —
    the iterator yields a partition's batches in order, so the previous
    batch's last (user, ts, session) seeds the next). This replaces the
    per-group applyInPandas form: with many tiny groups the per-group
    Python call + frame construction dominates (~12 s for 1.5k users at
    sf0.1 vs ~1 s for this form) — the applyInPandas tier is for rules
    that need the WHOLE group in memory (BDA's bin closure); a
    prefix-scan rule only needs ordered streaming."""

    def stream(batches):
        prev_user, prev_ts, prev_sess = None, None, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            gaps = pdf["ts_us"].diff().fillna(0) > gap_us
            new_user = pdf["user_id"].diff().fillna(0) != 0
            first_new = False
            if prev_user is not None and int(pdf["user_id"].iloc[0]) == prev_user:
                first_new = (int(pdf["ts_us"].iloc[0]) - prev_ts) > gap_us
                base = prev_sess + (1 if first_new else 0)
            else:
                base = 0
            inc = ((gaps & ~new_user)).astype("int64")
            inc.iloc[0] = 0
            # session index restarts at 0 on each user boundary
            sess = inc.groupby(pdf["user_id"].to_numpy()).cumsum()
            carry_user = int(pdf["user_id"].iloc[0])
            sess = sess + (
                (pdf["user_id"].to_numpy() == carry_user) * base
                if prev_user is not None and carry_user == prev_user
                else 0
            )
            pdf = pdf[["event_id", "user_id", "ts_us"]].copy()
            pdf["session_idx"] = sess.astype("int64").to_numpy()
            prev_user = int(pdf["user_id"].iloc[-1])
            prev_ts = int(pdf["ts_us"].iloc[-1])
            prev_sess = int(pdf["session_idx"].iloc[-1])
            yield pdf

    return (
        events.select("event_id", "user_id", "ts_us")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .mapInPandas(
            stream, "event_id long, user_id long, ts_us long, session_idx long"
        )
    )


def sessionize_relational(events: DataFrame, gap_us: int = 1_800_000_000) -> DataFrame:
    """The same gap rule as `sessionize`, expressed with window functions
    (lag + running sum) — the production path when the closure rule IS
    SQL-expressible: stays in Tungsten, no Arrow transfer, ~5× faster
    than the pandas path at 10⁵ events. `sessionize` (applyInPandas)
    remains the template for rules that aren't (BDA's decorrelation
    bound)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    is_new = (prev.isNotNull() & ((F.col("ts_us") - prev) > gap_us)).cast("long")
    return (
        events.select("event_id", "user_id", "ts_us")
        .withColumn(
            "session_idx",
            F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )


def SESSIONIZE_SQL(gap_us: int = 1_800_000_000) -> str:
    """Gaps-and-islands identity of the sequential rule (oracle)."""
    return f"""
      SELECT event_id, user_id, ts_us,
             CAST(SUM(CASE WHEN prev_ts IS NOT NULL AND ts_us - prev_ts > {gap_us}
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM (
        SELECT event_id, user_id, ts_us,
               lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
        FROM ev
      )
      ORDER BY user_id, ts_us, event_id
    """


def bda_ragged(
    vis: DataFrame,
    decorr_tol: float = 500.0,
    max_span_secs: float = 2_592_000.0,
    nchan: int = 4,
) -> DataFrame:
    """BDA with the reference's per-bin CHANNEL factor (ragged output,
    bda_mapping.py:192-277 finalise_bin + bda_avg row_chan path): each
    time-bin additionally chooses how many channels to average based on
    its accumulated uvw motion — slow baselines (low decorrelation)
    compress channels harder. Output cardinality is data-dependent per
    bin: bin_idx × ceil(nchan / factor) rows, the offsets/ragged shape
    relational form makes natural (SURVEY §1.2 ragged row).

    factor(bin) = 4 if motion ≤ tol/4, 2 if ≤ tol/2, else 1 (integer
    factors of nchan, mirroring the reference's factor-of-nchan rule)."""

    schema = (
        "antenna1 int, antenna2 int, bin_idx long, chan_factor int, "
        "chan_out int, n_samples long, vis_re_avg double, vis_im_avg double, "
        "weight_sum double"
    )

    def per_baseline(pdf: pd.DataFrame) -> pd.DataFrame:
        # bin assignment over ALL rows in the full total value order —
        # the same walk as bda_average and the recursive-CTE oracle.
        # (r11 sf1.0 partial-pass fork: this kernel previously binned a
        # (time, row_id)-DEDUPED grid, silently skipping the motion
        # step BETWEEN duplicate keys with different uvw — the
        # generator's lineitem has (okey, ln) PK collisions, and the
        # first same-baseline different-uvw collision to land in a
        # slice appears at sf1.0, flipping one bin boundary against the
        # oracle. All-rows binning is the oracle's semantic; duplicate
        # rows with identical uvw contribute zero steps, so behavior on
        # every earlier-rehearsed slice is unchanged.)
        import numpy as np

        merged = pdf.sort_values(
            ["time", "row_id", "u", "v", "w", "vis_re"]
        ).reset_index(drop=True)
        tu = merged["u"].to_numpy()
        tv = merged["v"].to_numpy()
        tw = merged["w"].to_numpy()
        tt = merged["time"].to_numpy()
        n = len(merged)
        bins = np.empty(n, dtype=np.int64)
        bin_idx, acc, start_t = 0, 0.0, None
        bin_motion = {}
        for i in range(n):
            if start_t is None:
                start_t, acc = float(tt[i]), 0.0
            else:
                acc += (
                    abs(float(tu[i]) - float(tu[i - 1]))
                    + abs(float(tv[i]) - float(tv[i - 1]))
                    + abs(float(tw[i]) - float(tw[i - 1]))
                )
                if acc > decorr_tol or (float(tt[i]) - start_t) > max_span_secs:
                    bin_idx += 1
                    start_t, acc = float(tt[i]), 0.0
            bins[i] = bin_idx
            bin_motion[bin_idx] = acc
        merged["bin_idx"] = bins
        # per-bin channel factor from the bin's final accumulated motion
        factor = {
            b: (4 if m <= decorr_tol / 4 else (2 if m <= decorr_tol / 2 else 1))
            for b, m in bin_motion.items()
        }
        merged["chan_factor"] = merged["bin_idx"].map(factor)
        merged["chan_out"] = merged["chan"] // merged["chan_factor"]
        merged["wre"] = merged["vis_re"] * merged["weight"]
        merged["wim"] = merged["vis_im"] * merged["weight"]
        g = merged.groupby(["bin_idx", "chan_factor", "chan_out"])
        wsum = g["weight"].sum()
        out = pd.DataFrame(
            {
                "antenna1": g["antenna1"].first(),
                "antenna2": g["antenna2"].first(),
                "n_samples": g.size(),
                "vis_re_avg": g["wre"].sum() / wsum,
                "vis_im_avg": g["wim"].sum() / wsum,
                "weight_sum": wsum,
            }
        ).reset_index()
        return out[["antenna1", "antenna2", "bin_idx", "chan_factor",
                    "chan_out", "n_samples", "vis_re_avg", "vis_im_avg",
                    "weight_sum"]]

    return (
        vis.select(
            "row_id", "time", "antenna1", "antenna2", "u", "v", "w", "chan",
            "vis_re", "vis_im", "weight",
        )
        .groupBy("antenna1", "antenna2")
        .applyInPandas(per_baseline, schema)
    )


def bda_average(
    vis: DataFrame,
    decorr_tol: float = 500.0,
    max_span_secs: float = 2_592_000.0,
) -> DataFrame:
    """Baseline-dependent averaging: per (antenna1, antenna2), scan rows
    in time order; close the bin when accumulated |Δu|+|Δv|+|Δw| exceeds
    `decorr_tol` (uvw-motion decorrelation proxy, cf. the reference's
    sinc(Δψ/2) bound, bda_mapping.py:141-186) or the span exceeds
    `max_span_secs`. Emits one row per bin with weighted vis means."""

    schema = (
        "antenna1 int, antenna2 int, bin_idx long, n_rows long, "
        "time_start double, time_end double, vis_re_avg double, "
        "vis_im_avg double, weight_sum double"
    )

    def per_baseline(pdf: pd.DataFrame) -> pd.DataFrame:
        # (time, row_id) is not unique in this data model; (u, v, w,
        # vis_re) completes a total value order — remaining ties are
        # fully identical rows, so the sequential binning and the
        # in-bin float sums are permutation-invariant
        pdf = pdf.sort_values(
            ["time", "row_id", "u", "v", "w", "vis_re"]
        ).reset_index(drop=True)
        # sequential bin closure over plain float64 scalars — the same
        # IEEE arithmetic the previous itertuples loop performed, minus
        # the namedtuple construction per row (~5×); the weighted means
        # below precompute the product columns so ONE vectorized groupby
        # replaces three groupby.apply(lambda) passes. Every Series keeps
        # the time-sorted order, so all sums are bit-identical to the old
        # form (and to the oracle's recursive replay).
        import numpy as np

        u = pdf["u"].to_numpy()
        v = pdf["v"].to_numpy()
        w_ = pdf["w"].to_numpy()
        t = pdf["time"].to_numpy()
        n = len(pdf)
        bins = np.empty(n, dtype=np.int64)
        bin_idx = 0
        acc_motion = 0.0
        start_t = None
        for i in range(n):
            if start_t is None:
                start_t, acc_motion = float(t[i]), 0.0
            else:
                acc_motion += (
                    abs(float(u[i]) - float(u[i - 1]))
                    + abs(float(v[i]) - float(v[i - 1]))
                    + abs(float(w_[i]) - float(w_[i - 1]))
                )
                if acc_motion > decorr_tol or (float(t[i]) - start_t) > max_span_secs:
                    bin_idx += 1
                    start_t, acc_motion = float(t[i]), 0.0
            bins[i] = bin_idx
        pdf["bin_idx"] = bins
        pdf["wre"] = pdf["vis_re"] * pdf["weight"]
        pdf["wim"] = pdf["vis_im"] * pdf["weight"]
        g = pdf.groupby("bin_idx")
        w = g["weight"].sum()
        out = pd.DataFrame(
            {
                "antenna1": g["antenna1"].first(),
                "antenna2": g["antenna2"].first(),
                "bin_idx": w.index,
                "n_rows": g.size(),
                "time_start": g["time"].min(),
                "time_end": g["time"].max(),
                "vis_re_avg": g["wre"].sum() / w,
                "vis_im_avg": g["wim"].sum() / w,
                "weight_sum": w,
            }
        ).reset_index(drop=True)
        return out

    return (
        vis.select(
            "row_id", "time", "antenna1", "antenna2", "u", "v", "w",
            "vis_re", "vis_im", "weight",
        )
        .groupBy("antenna1", "antenna2")
        .applyInPandas(per_baseline, schema)
    )


def bda_average_quantized(
    vis: DataFrame,
    decorr_tol: float = 500.0,
    max_span_secs: float = 2_592_000.0,
    motion_grid: float = 1e6,
    value_grid: float = 1e6,
) -> DataFrame:
    """`bda_average` with ORDER-INDEPENDENT arithmetic: each motion step
    |Δu|+|Δv|+|Δw| quantizes to the 1/motion_grid grid and accumulates
    as exact integers, and the per-bin weighted sums accumulate on the
    1/value_grid grid (the deterministic fixed-point discipline,
    functions/deterministic.py). Same greedy closure rule as
    bda_average (reference bda_mapping.py:111-277 Binner): close when
    Σ round(|Δuvw|·g) > round(tol·g) or t − t_start > max_span_secs.

    This is the SEQUENTIAL REFERENCE for the distributed pre-split twin
    (`skew.salted_bda_average`): integer accumulation is associative, so
    any (baseline, bucket) decomposition that replays the same integer
    decisions is bit-identical — float accumulation (bda_average) is
    not decomposable without ULP-level boundary forks. Bit-equivalence
    of the two is asserted by tests/test_salted_bda.py's skew fuzz."""
    import math

    schema = (
        "antenna1 int, antenna2 int, bin_idx long, n_rows long, "
        "time_start double, time_end double, vis_re_avg double, "
        "vis_im_avg double, weight_sum double"
    )
    tol_q = int(math.floor(decorr_tol * motion_grid + 0.5))
    MG, VG, SPAN = motion_grid, value_grid, max_span_secs

    def per_baseline(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # (time, row_id) is not unique in this data model; (u, v, w,
        # vis_re) completes a total value order — remaining ties are
        # fully identical rows, so the sequential binning and the
        # in-bin float sums are permutation-invariant
        pdf = pdf.sort_values(
            ["time", "row_id", "u", "v", "w", "vis_re"]
        ).reset_index(drop=True)
        u = pdf["u"].to_numpy()
        v = pdf["v"].to_numpy()
        w_ = pdf["w"].to_numpy()
        t = pdf["time"].to_numpy()
        n = len(pdf)
        bins = np.empty(n, dtype=np.int64)
        bin_idx = 0
        acc_q = 0
        start_t = None
        for i in range(n):
            if start_t is None:
                start_t, acc_q = float(t[i]), 0
            else:
                step = (
                    abs(float(u[i]) - float(u[i - 1]))
                    + abs(float(v[i]) - float(v[i - 1]))
                    + abs(float(w_[i]) - float(w_[i - 1]))
                )
                acc_q += int(math.floor(step * MG + 0.5))
                if acc_q > tol_q or (float(t[i]) - start_t) > SPAN:
                    bin_idx += 1
                    start_t, acc_q = float(t[i]), 0
            bins[i] = bin_idx
        pdf["bin_idx"] = bins
        # per-bin fixed-point sums: floor(x·VG + 0.5) == the engine-side
        # quantize() for the non-negative weight; sign-aware for vis
        def q(col):
            x = col.to_numpy() * VG
            return np.floor(np.abs(x) + 0.5).astype("int64") * np.sign(x).astype(
                "int64"
            )

        pdf["wre_q"] = q(pdf["vis_re"] * pdf["weight"])
        pdf["wim_q"] = q(pdf["vis_im"] * pdf["weight"])
        pdf["w_q"] = q(pdf["weight"])
        g = pdf.groupby("bin_idx")
        wq = g["w_q"].sum()
        out = pd.DataFrame(
            {
                "antenna1": g["antenna1"].first(),
                "antenna2": g["antenna2"].first(),
                "bin_idx": wq.index,
                "n_rows": g.size(),
                "time_start": g["time"].min(),
                "time_end": g["time"].max(),
                "vis_re_avg": g["wre_q"].sum() / wq,
                "vis_im_avg": g["wim_q"].sum() / wq,
                "weight_sum": wq / VG,
            }
        ).reset_index(drop=True)
        return out

    return (
        vis.select(
            "row_id", "time", "antenna1", "antenna2", "u", "v", "w",
            "vis_re", "vis_im", "weight",
        )
        .groupBy("antenna1", "antenna2")
        .applyInPandas(per_baseline, schema)
    )


# ---------------------------------------------------------------------------
# Sinc-bounded BDA (the reference's actual decorrelation physics)
# ---------------------------------------------------------------------------

# Decorrelation-bound constants, precomputed once in Python and
# interpolated as the SAME double literals into both the pandas kernel
# and the DuckDB oracle (constant-parity discipline): the bin-closure
# decision sinc(Δψ/2) >= sinc(decorrelation) is then bit-identical
# across engines, quantized to a 1e-9 grid.
BDA_LIGHTSPEED = 299792458.0
BDA_DECORRELATION = 0.98
BDA_MAX_FOV_DEG = 0.05  # synthetic uvw units — keeps bins multi-row
BDA_MAX_LM = 0.0008726646259971648  # radians(BDA_MAX_FOV_DEG)
BDA_N_MAX = 3.8077184716378554e-07  # |sqrt(1 - max_lm^2) - 1|
# K = max_chan_freq * sin(max_lm) * pi / c  (bda_mapping.py:152-158)
BDA_SINC_K = 0.014677480880217962
BDA_SINC_GRID = 1e9
# sinc(decorrelation) = sin(pi*0.98)/(pi*0.98), quantized to the grid
BDA_SINC_TOL_Q = 20394738
BDA_TIME_BIN_SECS = 2592000.0


def bda_sinc_average(vis: DataFrame, time_bin_secs: float = BDA_TIME_BIN_SECS) -> DataFrame:
    """BDA with the reference's sinc decorrelation bound
    (bda_mapping.py:111-186 Binner.add_row): per (antenna1, antenna2)
    scan rows in time order; a candidate row joins the current bin iff

        sin(Δψ/2)/(Δψ/2) >= sinc(decorrelation)   and   Δt <= time_bin_secs

    where Δψ/2 = |uvw_row − uvw_bin_start| · f_max · sin(max_lm) · π/c
    + 1e-8 and Δt spans the bin's first-row leading interval edge to the
    candidate's trailing edge. Auto-correlated baselines always extend
    the bin (add_row's fast path, :131-143). Bin outputs follow
    finalise_bin (:193-277): centroid TIME over the interval-padded
    span, summed INTERVAL = span, weighted vis means, all-flagged flag,
    and the Atemkeng eq.40 decorrelation bandwidth Δν from the bin's
    central uvw (−1 for autocorrelations / degenerate geometry).

    The sinc decision value is quantized to a 1e-9 grid with constants
    interpolated from this module, so the DuckDB recursive-CTE oracle
    replays every closure decision bit-identically."""
    import math

    import numpy as np

    schema = (
        "antenna1 int, antenna2 int, bin_idx long, n_rows long, n_flagged long, "
        "time_avg double, interval_out double, vis_re_avg double, "
        "vis_im_avg double, weight_sum double, bin_flagged boolean, "
        "delta_nu double"
    )
    K, GRID, TOL_Q, TBS = BDA_SINC_K, BDA_SINC_GRID, BDA_SINC_TOL_Q, time_bin_secs
    ML, NM, C, DECORR = BDA_MAX_LM, BDA_N_MAX, BDA_LIGHTSPEED, BDA_DECORRELATION

    def per_baseline(pdf: pd.DataFrame) -> pd.DataFrame:
        # (time, row_id) is not unique in this data model; (u, v, w,
        # vis_re) completes a total value order — remaining ties are
        # fully identical rows, so the sequential binning and the
        # in-bin float sums are permutation-invariant
        pdf = pdf.sort_values(
            ["time", "row_id", "u", "v", "w", "vis_re"]
        ).reset_index(drop=True)
        u = pdf["u"].to_numpy()
        v = pdf["v"].to_numpy()
        w_ = pdf["w"].to_numpy()
        t = pdf["time"].to_numpy()
        iv = pdf["interval"].to_numpy()
        auto = bool(pdf["antenna1"].iloc[0] == pdf["antenna2"].iloc[0])
        n = len(pdf)
        bins = np.empty(n, dtype=np.int64)
        bin_idx = 0
        us = vs = ws = ts = ivs = 0.0
        started = False
        for i in range(n):
            if not started:
                started = True
            elif not auto:
                du = float(u[i]) - us
                dv = float(v[i]) - vs
                dw = float(w_[i]) - ws
                half = math.sqrt(du * du + dv * dv + dw * dw) * K + 1e-8
                s = math.sin(half) / half
                q = int(math.floor(abs(s) * GRID + 0.5)) * (1 if s >= 0 else -1)
                dt = (float(t[i]) + float(iv[i]) / 2.0) - (ts - ivs / 2.0)
                if q < TOL_Q or dt > TBS:
                    bin_idx += 1
                    started = True
                else:
                    bins[i] = bin_idx
                    continue
            else:
                bins[i] = bin_idx
                continue
            us, vs, ws = float(u[i]), float(v[i]), float(w_[i])
            ts, ivs = float(t[i]), float(iv[i])
            bins[i] = bin_idx
        pdf["bin_idx"] = bins

        # fixed-point weighted sums (r8 sf0.1 sweep): float sums fork
        # cross-engine on summation ORDER — pandas pairwise vs the
        # oracle CTE's sequential adds drifted past the 6-dp rounding
        # slack once sf0.1-sized bins appeared. Integer accumulation is
        # order-independent; the mean is a ratio of identical ints.
        def _qfix(col):
            x = col.to_numpy() * 1e6
            return np.floor(np.abs(x) + 0.5).astype("int64") * np.sign(x).astype(
                "int64"
            )

        pdf["wre_q"] = _qfix(pdf["vis_re"] * pdf["weight"])
        pdf["wim_q"] = _qfix(pdf["vis_im"] * pdf["weight"])
        pdf["w_q"] = _qfix(pdf["weight"])
        g = pdf.groupby("bin_idx")
        wsum = g["weight"].sum()
        wq = g["w_q"].sum()
        t_first, iv_first = g["time"].first(), g["interval"].first()
        t_last, iv_last = g["time"].last(), g["interval"].last()
        t_start = t_first - iv_first / 2.0
        t_end = t_last + iv_last / 2.0
        cu = (g["u"].first() + g["u"].last()) / 2.0
        cv = (g["v"].first() + g["v"].last()) / 2.0
        cw = (g["w"].first() + g["w"].last()) / 2.0
        cuv = np.sqrt(cu * cu + cv * cv)
        mad = np.sqrt(np.abs(cuv) * ML + np.abs(cw) * NM)
        delta_nu = np.where(
            auto | (mad == 0.0), -1.0, (C / (2.0 * math.pi)) * (DECORR / mad)
        )
        nflag = g["flag_row"].sum()
        out = pd.DataFrame(
            {
                "antenna1": g["antenna1"].first(),
                "antenna2": g["antenna2"].first(),
                "bin_idx": wsum.index,
                "n_rows": g.size(),
                "n_flagged": nflag.astype("int64"),
                "time_avg": (t_start + t_end) / 2.0,
                "interval_out": t_end - t_start,
                "vis_re_avg": g["wre_q"].sum() / wq,
                "vis_im_avg": g["wim_q"].sum() / wq,
                "weight_sum": wsum,
                "bin_flagged": nflag.astype("int64") == g.size(),
                "delta_nu": delta_nu,
            }
        ).reset_index(drop=True)
        return out

    return (
        vis.select(
            "row_id", "time", "antenna1", "antenna2", "u", "v", "w",
            "interval", "flag_row", "vis_re", "vis_im", "weight",
        )
        .groupBy("antenna1", "antenna2")
        .applyInPandas(per_baseline, schema)
    )
