"""Flag post-processing operators: SumThreshold RFI detection, flag
growing/extension, and flagged-channel repair by interpolation.

The reference flags implicitly (averaging respects FLAG/FLAG_ROW —
`africanus/averaging/time_and_channel_avg.py:26-33` matching_flag_factory
and `africanus/averaging/shared.py` merge_flags are the two-tier
semantics these operators post-process), but every production MS
pipeline runs a *flagging* pass between calibration steps — AOFlagger's
SumThreshold (Offringa et al. 2010, the combinatorial-threshold variant)
and CASA flagdata's ``mode='extend'`` (growing flags in time/channel and
extending across a mostly-flagged spectrum) are the canonical shapes.
This module expresses both as pure window-function pipelines plus a
linear spectral repair step (the ``interp`` mode of gain/bandpass
application), all decided in exact integer arithmetic so the DuckDB
oracles match bit for bit:

- Series live on the (baseline, chan) grain ordered by *time value*
  (never row position): samples first collapse onto per-timestamp cells,
  which makes the window ordering unique and the results independent of
  the physical row order — the (time, row_id) tie trap in this testdata
  cannot bite a cell grid.
- Window sums are integers; thresholds are Python-precomputed integer
  literals interpolated into BOTH engines (no float comparison forks).
- At 100 TB the whole pass is `groupBy(bl, chan, cell)` partial
  aggregation followed by bounded ROWS-frame windows *within* a
  (baseline, chan) partition — no unbounded frames, no whole-series
  collect; a 1000-executor cluster shuffles once on the series key and
  streams each series through fixed-size frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.deterministic import quantize

# --------------------------------------------------------------------------
# SumThreshold (combinatorial-threshold variant)
# --------------------------------------------------------------------------

# Base single-sample threshold, in mean-amplitude units of 1/64000
# (amp quantized at 1e3, cell mean formed as (sum*64) DIV n): flag a
# lone sample whose mean amplitude exceeds 40.0. Window-M thresholds
# follow Offringa's chi_M = chi_1 / rho^log2(M) with rho = 1.5.
ST_CHI1 = 40 * 64_000
ST_RHO_NUM, ST_RHO_DEN = 3, 2  # rho = 1.5 as a rational
ST_WINDOWS = (1, 2, 4)


def st_thresholds() -> dict[int, int]:
    """Integer per-window thresholds chi_M = chi1 / 1.5^log2(M),
    round-half-away — computed once in Python and interpolated into both
    engines as literals."""
    out = {}
    for m in ST_WINDOWS:
        num, den = ST_CHI1, 1
        mm = m
        while mm > 1:  # divide by rho once per doubling
            num *= ST_RHO_DEN
            den *= ST_RHO_NUM
            mm //= 2
        out[m] = (2 * num + den) // (2 * den)  # positive round-half-up
    return out


def _cells(vis: DataFrame) -> DataFrame:
    """Collapse samples onto the (baseline, chan, time) cell grid with an
    integer mean amplitude: mean_mq = (sum(amp_q)*64) DIV n  (amp_q =
    round(amp*1e3)). All positive, so Spark's truncating DIV and
    DuckDB's // agree."""
    amp_q = (
        F.sqrt(
            F.col("vis_re") * F.col("vis_re") + F.col("vis_im") * F.col("vis_im")
        )
        * F.lit(1e3)
        + F.lit(0.5)
    ).cast("long")
    return (
        vis.select("antenna1", "antenna2", "chan", "time", amp_q.alias("amp_q"))
        .groupBy("antenna1", "antenna2", "chan", "time")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amp_q").alias("s"))
        .select(
            "antenna1",
            "antenna2",
            "chan",
            "time",
            F.expr("s * 64 DIV n").alias("mean_mq"),
        )
    )


def sumthreshold_cell_flags(vis: DataFrame) -> DataFrame:
    """Per-cell SumThreshold decisions — the shared kernel: one row per
    (baseline, chan, time) cell with the tier flags (f1/f2/f4/fany).
    ``sumthreshold_flags`` aggregates this frame."""
    th = st_thresholds()
    cells = _cells(vis)
    w = W.partitionBy("antenna1", "antenna2", "chan").orderBy("time")
    s2 = F.sum("mean_mq").over(w.rowsBetween(0, 1))
    c2 = F.count(F.lit(1)).over(w.rowsBetween(0, 1))
    s4 = F.sum("mean_mq").over(w.rowsBetween(0, 3))
    c4 = F.count(F.lit(1)).over(w.rowsBetween(0, 3))
    d = cells.select(
        "antenna1",
        "antenna2",
        "chan",
        "time",
        "mean_mq",
        ((c2 == 2) & (s2 > F.lit(2 * th[2]))).cast("int").alias("h2"),
        ((c4 == 4) & (s4 > F.lit(4 * th[4]))).cast("int").alias("h4"),
    )
    lag = lambda c, k: F.coalesce(F.lag(c, k).over(w), F.lit(0))
    f1 = (F.col("mean_mq") > F.lit(th[1])).cast("int")
    f2 = F.greatest(F.col("h2"), lag("h2", 1))
    f4 = F.greatest(F.col("h4"), lag("h4", 1), lag("h4", 2), lag("h4", 3))
    return d.select(
        "antenna1",
        "antenna2",
        "chan",
        "time",
        "mean_mq",
        f1.alias("f1"),
        f2.alias("f2"),
        f4.alias("f4"),
        F.greatest(f1, f2, f4).alias("fany"),
    )


def sumthreshold_flags(vis: DataFrame) -> DataFrame:
    """AOFlagger-style SumThreshold over per-(baseline, chan) time
    series: a cell is flagged when ANY window of M consecutive cells
    containing it sums above M*chi_M, for M in {1, 2, 4} — wider windows
    with lower per-sample thresholds catch faint-but-persistent RFI a
    single-sample cut misses. Report is per-baseline occupancy by
    detection tier."""
    d = sumthreshold_cell_flags(vis)
    return (
        d.groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("f1").alias("n_m1"),
            F.sum("f2").alias("n_m2"),
            F.sum("f4").alias("n_m4"),
            F.sum("fany").alias("n_flagged"),
            F.expr("SUM(fany) * 1000000 DIV COUNT(*)").alias("occupancy_ppm"),
        )
        .orderBy("antenna1", "antenna2")
    )


def SUMTHRESHOLD_SQL() -> str:
    th = st_thresholds()
    return f"""
    , cells AS (
      SELECT antenna1, antenna2, chan, time,
             (CAST(SUM(CAST(ROUND(sqrt(vis_re*vis_re + vis_im*vis_im) * 1000.0)
                       AS BIGINT)) AS BIGINT) * 64) // COUNT(*) AS mean_mq
      FROM vis GROUP BY antenna1, antenna2, chan, time
    ),
    hits AS (
      SELECT antenna1, antenna2, chan, time, mean_mq,
        CASE WHEN COUNT(*) OVER w2 = 2
              AND SUM(mean_mq) OVER w2 > {2 * th[2]} THEN 1 ELSE 0 END AS h2,
        CASE WHEN COUNT(*) OVER w4 = 4
              AND SUM(mean_mq) OVER w4 > {4 * th[4]} THEN 1 ELSE 0 END AS h4
      FROM cells
      WINDOW
        w2 AS (PARTITION BY antenna1, antenna2, chan ORDER BY time
               ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING),
        w4 AS (PARTITION BY antenna1, antenna2, chan ORDER BY time
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
    ),
    flags AS (
      SELECT antenna1, antenna2,
        CASE WHEN mean_mq > {th[1]} THEN 1 ELSE 0 END AS f1,
        GREATEST(h2, COALESCE(LAG(h2, 1) OVER wo, 0)) AS f2,
        GREATEST(h4, COALESCE(LAG(h4, 1) OVER wo, 0),
                     COALESCE(LAG(h4, 2) OVER wo, 0),
                     COALESCE(LAG(h4, 3) OVER wo, 0)) AS f4
      FROM hits
      WINDOW wo AS (PARTITION BY antenna1, antenna2, chan ORDER BY time)
    )
    SELECT antenna1, antenna2, COUNT(*) AS n_cells,
           CAST(SUM(f1) AS BIGINT) AS n_m1,
           CAST(SUM(f2) AS BIGINT) AS n_m2,
           CAST(SUM(f4) AS BIGINT) AS n_m4,
           CAST(SUM(GREATEST(f1, f2, f4)) AS BIGINT) AS n_flagged,
           (CAST(SUM(GREATEST(f1, f2, f4)) AS BIGINT) * 1000000) // COUNT(*)
             AS occupancy_ppm
    FROM flags GROUP BY antenna1, antenna2 ORDER BY antenna1, antenna2
    """


# --------------------------------------------------------------------------
# Flag grow / extend (CASA flagdata mode='extend')
# --------------------------------------------------------------------------


def flag_grow_extend(vis: DataFrame, extend_num: int = 1, extend_den: int = 2) -> DataFrame:
    """Three-stage flag extension on the cell grid: (1) grow +-1 cell in
    time within each (baseline, chan) series, (2) grow +-1 channel
    within each (baseline, time) spectrum, (3) extend to the WHOLE
    spectrum when more than extend_num/extend_den of its channels are
    flagged (CASA's growaround/extendflags semantics). Per-baseline
    audit of how much each stage adds."""
    cell = (
        vis.select(
            "antenna1",
            "antenna2",
            "chan",
            "time",
            (F.col("flag") | F.col("flag_row")).cast("int").alias("pre"),
        )
        .groupBy("antenna1", "antenna2", "chan", "time")
        .agg(F.max("pre").alias("pre"))
    )
    wt = W.partitionBy("antenna1", "antenna2", "chan").orderBy("time")
    lagv = lambda c, o: F.coalesce((F.lag(c, o) if o > 0 else F.lead(c, -o)).over(wt), F.lit(0))
    tgrow = F.greatest(F.col("pre"), lagv("pre", 1), lagv("pre", -1))
    d = cell.select("antenna1", "antenna2", "chan", "time", "pre", tgrow.alias("tg"))
    wc = W.partitionBy("antenna1", "antenna2", "time").orderBy("chan")
    lagc = lambda c, o: F.coalesce((F.lag(c, o) if o > 0 else F.lead(c, -o)).over(wc), F.lit(0))
    cgrow = F.greatest(F.col("tg"), lagc("tg", 1), lagc("tg", -1))
    d = d.select("antenna1", "antenna2", "chan", "time", "pre", "tg", cgrow.alias("cg"))
    ws = W.partitionBy("antenna1", "antenna2", "time")
    spec_ext = (
        F.sum("cg").over(ws) * F.lit(extend_den) > F.count(F.lit(1)).over(ws) * F.lit(extend_num)
    ).cast("int")
    d = d.select(
        "antenna1", "antenna2", "pre", "tg", "cg", F.greatest(F.col("cg"), spec_ext).alias("fin")
    )
    return (
        d.groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("pre").alias("n_pre"),
            F.sum("tg").alias("n_time_grow"),
            F.sum("cg").alias("n_chan_grow"),
            F.sum("fin").alias("n_final"),
            F.expr("(SUM(fin) - SUM(pre)) * 1000000 DIV COUNT(*)").alias("added_ppm"),
        )
        .orderBy("antenna1", "antenna2")
    )


def FLAG_GROW_SQL(extend_num: int = 1, extend_den: int = 2) -> str:
    return f"""
    , cell AS (
      SELECT antenna1, antenna2, chan, time,
             MAX(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END) AS pre
      FROM vis GROUP BY antenna1, antenna2, chan, time
    ),
    tg AS (
      SELECT antenna1, antenna2, chan, time, pre,
             GREATEST(pre, COALESCE(LAG(pre) OVER wt, 0),
                           COALESCE(LEAD(pre) OVER wt, 0)) AS tg
      FROM cell
      WINDOW wt AS (PARTITION BY antenna1, antenna2, chan ORDER BY time)
    ),
    cg AS (
      SELECT antenna1, antenna2, chan, time, pre, tg,
             GREATEST(tg, COALESCE(LAG(tg) OVER wc, 0),
                          COALESCE(LEAD(tg) OVER wc, 0)) AS cg
      FROM tg
      WINDOW wc AS (PARTITION BY antenna1, antenna2, time ORDER BY chan)
    ),
    fin AS (
      SELECT antenna1, antenna2, pre, tg, cg,
             GREATEST(cg, CASE WHEN SUM(cg) OVER ws * {extend_den}
                                    > COUNT(*) OVER ws * {extend_num}
                          THEN 1 ELSE 0 END) AS fin
      FROM cg
      WINDOW ws AS (PARTITION BY antenna1, antenna2, time)
    )
    SELECT antenna1, antenna2, COUNT(*) AS n_cells,
           CAST(SUM(pre) AS BIGINT) AS n_pre,
           CAST(SUM(tg) AS BIGINT) AS n_time_grow,
           CAST(SUM(cg) AS BIGINT) AS n_chan_grow,
           CAST(SUM(fin) AS BIGINT) AS n_final,
           ((CAST(SUM(fin) AS BIGINT) - CAST(SUM(pre) AS BIGINT)) * 1000000)
             // COUNT(*) AS added_ppm
    FROM fin GROUP BY antenna1, antenna2 ORDER BY antenna1, antenna2
    """


# --------------------------------------------------------------------------
# Flagged-channel repair by linear interpolation
# --------------------------------------------------------------------------

_PACK = 10_000_000_000_000  # (chan+1)*PACK + value_q packs into int64
_VOFF = 4_500_000_000_000  # shifts quantized values into [0, PACK): |vis| < 4.5e6


def flagged_channel_interp(vis: DataFrame) -> DataFrame:
    """Repair flagged spectral cells by linear interpolation from the
    nearest unflagged channels on each side (the bandpass-application
    ``interp='linear'`` shape; clamp to one side at spectrum edges).

    Bracket discovery is two running extrema per direction — the
    unflagged neighbour's (chan, value) pair packed into one int64 so a
    single MAX/MIN window carries both — never a self-join. Output is
    repaired cells only (flag-fraction-sized, not corpus-sized).

    Sign-safe for any |vis| < 4.5e6: samples are quantized with the
    sign-aware ``quantize`` idiom (identical to DuckDB ROUND) and then
    shifted by ``_VOFF`` so the per-cell mean (Spark ``DIV`` truncates
    toward zero, DuckDB ``//`` floors — equal only on non-negative
    operands) and the (chan, value) int64 pack both operate on
    non-negative values; the shift cancels exactly at output."""
    cell = (
        vis.select(
            "antenna1",
            "antenna2",
            "chan",
            "time",
            (F.col("flag") | F.col("flag_row")).cast("int").alias("cf"),
            (quantize(F.col("vis_re")) + F.lit(_VOFF)).alias("re_q"),
            (quantize(F.col("vis_im")) + F.lit(_VOFF)).alias("im_q"),
        )
        .groupBy("antenna1", "antenna2", "chan", "time")
        .agg(
            F.min("cf").alias("cf"),  # cell flagged only if ALL samples flagged
            F.expr("SUM(re_q) DIV COUNT(*)").alias("re_mq"),
            F.expr("SUM(im_q) DIV COUNT(*)").alias("im_mq"),
        )
    )
    wc = W.partitionBy("antenna1", "antenna2", "time").orderBy("chan")
    ok = F.col("cf") == 0
    pack = lambda v: (F.col("chan") + 1) * F.lit(_PACK) + F.col(v)
    lp_re = F.max(F.when(ok, pack("re_mq"))).over(wc.rowsBetween(W.unboundedPreceding, -1))
    rp_re = F.min(F.when(ok, pack("re_mq"))).over(wc.rowsBetween(1, W.unboundedFollowing))
    lp_im = F.max(F.when(ok, pack("im_mq"))).over(wc.rowsBetween(W.unboundedPreceding, -1))
    rp_im = F.min(F.when(ok, pack("im_mq"))).over(wc.rowsBetween(1, W.unboundedFollowing))
    d = cell.select(
        "antenna1", "antenna2", "chan", "time", "cf", "re_mq", "im_mq",
        lp_re.alias("lp_re"), rp_re.alias("rp_re"),
        lp_im.alias("lp_im"), rp_im.alias("rp_im"),
    ).filter(F.col("cf") == 1)

    def interp(lp: str, rp: str) -> Column:
        lchan = (F.col(lp).cast("double") / F.lit(_PACK)).cast("long") - 1
        rchan = (F.col(rp).cast("double") / F.lit(_PACK)).cast("long") - 1
        lval = F.col(lp) - (lchan + 1) * F.lit(_PACK)
        rval = F.col(rp) - (rchan + 1) * F.lit(_PACK)
        both = F.col(lp).isNotNull() & F.col(rp).isNotNull()
        frac = (F.col("chan") - lchan).cast("double") / (rchan - lchan).cast("double")
        v = F.when(
            both,
            lval.cast("double") + (rval - lval).cast("double") * frac,
        ).otherwise(
            F.coalesce(lval, rval).cast("double")
        )
        return (v + F.when(v >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))).cast("long")

    method = (
        F.when(F.col("lp_re").isNotNull() & F.col("rp_re").isNotNull(), F.lit("interp"))
        .when(F.col("lp_re").isNotNull(), F.lit("clamp_left"))
        .when(F.col("rp_re").isNotNull(), F.lit("clamp_right"))
        .otherwise(F.lit("none"))
    )
    return (
        d.select(
            "antenna1", "antenna2", "chan", "time",
            (F.col("re_mq") - F.lit(_VOFF)).alias("re_mq"),
            (F.col("im_mq") - F.lit(_VOFF)).alias("im_mq"),
            F.when(method != "none", interp("lp_re", "rp_re") - F.lit(_VOFF)).alias("fill_re_q"),
            F.when(method != "none", interp("lp_im", "rp_im") - F.lit(_VOFF)).alias("fill_im_q"),
            method.alias("method"),
        )
        .orderBy("antenna1", "antenna2", "time", "chan")
    )


def CHANNEL_INTERP_SQL() -> str:
    p = _PACK
    off = _VOFF
    return f"""
    , cell AS (
      SELECT antenna1, antenna2, chan, time,
             MIN(CASE WHEN flag OR flag_row THEN 1 ELSE 0 END) AS cf,
             CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT) + {off}) AS BIGINT)
               // COUNT(*) AS re_mq,
             CAST(SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT) + {off}) AS BIGINT)
               // COUNT(*) AS im_mq
      FROM vis GROUP BY antenna1, antenna2, chan, time
    ),
    br AS (
      SELECT antenna1, antenna2, chan, time, cf, re_mq, im_mq,
        MAX(CASE WHEN cf = 0 THEN (chan+1)*{p} + re_mq END) OVER wl AS lp_re,
        MIN(CASE WHEN cf = 0 THEN (chan+1)*{p} + re_mq END) OVER wr AS rp_re,
        MAX(CASE WHEN cf = 0 THEN (chan+1)*{p} + im_mq END) OVER wl AS lp_im,
        MIN(CASE WHEN cf = 0 THEN (chan+1)*{p} + im_mq END) OVER wr AS rp_im
      FROM cell
      WINDOW
        wl AS (PARTITION BY antenna1, antenna2, time ORDER BY chan
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        wr AS (PARTITION BY antenna1, antenna2, time ORDER BY chan
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    rep AS (
      SELECT antenna1, antenna2, chan, time, re_mq, im_mq,
        CAST(FLOOR(CAST(lp_re AS DOUBLE) / {p}) AS BIGINT) - 1 AS lc,
        CAST(FLOOR(CAST(rp_re AS DOUBLE) / {p}) AS BIGINT) - 1 AS rc,
        lp_re, rp_re, lp_im, rp_im
      FROM br WHERE cf = 1
    )
    SELECT antenna1, antenna2, chan, time,
      re_mq - {off} AS re_mq, im_mq - {off} AS im_mq,
      CASE
        WHEN lp_re IS NOT NULL AND rp_re IS NOT NULL THEN CAST(ROUND(
          (lp_re - (lc+1)*{p}) + ((rp_re - (rc+1)*{p}) - (lp_re - (lc+1)*{p}))
            * (CAST(chan - lc AS DOUBLE) / CAST(rc - lc AS DOUBLE))) AS BIGINT) - {off}
        WHEN lp_re IS NOT NULL THEN lp_re - (lc+1)*{p} - {off}
        WHEN rp_re IS NOT NULL THEN rp_re - (rc+1)*{p} - {off}
        ELSE NULL END AS fill_re_q,
      CASE
        WHEN lp_im IS NOT NULL AND rp_im IS NOT NULL THEN CAST(ROUND(
          (lp_im - (lc+1)*{p}) + ((rp_im - (rc+1)*{p}) - (lp_im - (lc+1)*{p}))
            * (CAST(chan - lc AS DOUBLE) / CAST(rc - lc AS DOUBLE))) AS BIGINT) - {off}
        WHEN lp_im IS NOT NULL THEN lp_im - (lc+1)*{p} - {off}
        WHEN rp_im IS NOT NULL THEN rp_im - (rc+1)*{p} - {off}
        ELSE NULL END AS fill_im_q,
      CASE
        WHEN lp_re IS NOT NULL AND rp_re IS NOT NULL THEN 'interp'
        WHEN lp_re IS NOT NULL THEN 'clamp_left'
        WHEN rp_re IS NOT NULL THEN 'clamp_right'
        ELSE 'none' END AS method
    FROM rep ORDER BY antenna1, antenna2, time, chan
    """
