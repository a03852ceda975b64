"""predict_vis — the reference's flagship operator, Spark-first.

Capability parity with /root/reference/africanus/rime/predict.py:566-649
(predict_vis) and the example pipeline
/root/reference/africanus/rime/examples/predict.py:475-526 (vis_factory):
cross-join a source catalogue against visibility rows, evaluate the
per-(source,row,chan) phase/brightness/shape expressions, reduce over
sources, then apply per-antenna gains via two equi-joins (the G·V·Gᴴ
sandwich).

Spark plan shape (designed for 100 TB):
- source catalogue is small → **BroadcastNestedLoopJoin** for the cross
  join (no shuffle of the fact table);
- the source reduction, replacing the reference's hand-built linear/tree
  reductions (dask_predict.py:64-369), runs in one of two tiers. The
  default Arrow fold (operators/predict_arrow) sums the sources per row
  inside one `mapInArrow` stage and merges duplicate keys in the same
  task, so no groupBy runs after it. A small input (by parquet footer
  rows) is one narrow task with no exchange; a larger one runs over a
  `row_id` hash exchange. The
  expand path (catalogue past the fold's gates) is a
  `groupBy(row).sum()`: Tungsten partial+final hash aggregation;
- gains are a tiny dim table → **broadcast hash equi-join** twice
  (antenna1 and antenna2 sides), exactly as SURVEY.md §2.3 prescribes;
- everything is Column arithmetic → one WholeStageCodegen span per stage,
  no Python in the hot path.

Deterministic mode: reductions use fixed-point exact sums
(functions/deterministic.py) so results are bit-reproducible across
partitionings and engines — the Spark answer to the reference's Kahan
ordered folds (fused/core.py:97-118).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.functions.complex_algebra import Cplx
from codex_africanus_spark.functions.deterministic import qsum
from codex_africanus_spark.functions.phase import phase_delay_angle, phase_path
from codex_africanus_spark.functions.shapes import gaussian
from codex_africanus_spark.functions.spectral import spectral_model

QSCALE = 1e6


def source_coherency(
    vis: DataFrame,
    sources: DataFrame,
    with_shape: bool = True,
) -> DataFrame:
    """Per-(source, row) complex coherency: flux(ν)·shape(u,v,ν)·e^{iθ}.

    Loop-invariant hoisting (the reference hoists the phase dot product
    out of the channel loop, fused/terms/phase.py:44-76; here the dual):
    the spectral flux depends only on (source, chan) — evaluate the pow()
    on the tiny broadcast side (n_src × n_chan rows) instead of per
    (source × row) pair, and turn the cross join into a broadcast hash
    join on chan. Saves one transcendental per pair at any scale.
    """
    from codex_africanus_spark.sources.tables import fan_out, scan_twin

    # distinct over the unfanned twin: partial aggregation collapses the
    # scan to O(#chans) per task, so the fan_out exchange the fanned
    # lineage carries would shuffle every raw row for nothing (r13 plan
    # audit: predict_vis carried a second full RoundRobin exchange just
    # below this distinct). Row-set identical — see tables.scan_twin.
    chan_freq = scan_twin(vis).select("chan", "frequency").distinct()
    src_chan = (
        sources.crossJoin(chan_freq)
        .withColumn(
            "flux",
            spectral_model(
                F.col("flux_i"), F.col("spi"), F.col("ref_freq"), F.col("frequency")
            ),
        )
        .drop("frequency")
    )
    j = fan_out(vis).join(F.broadcast(src_chan), "chan")
    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"), F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"),
    )
    flux = F.col("flux")
    if with_shape:
        env = F.when(
            F.col("source_type") == "GAUSSIAN",
            gaussian(
                F.col("u"), F.col("v"), F.col("frequency"),
                F.col("emaj"), F.col("emin"), F.col("position_angle"),
            ),
        ).otherwise(F.lit(1.0))
        flux = flux * env
    return j.select(
        "row_id",
        "antenna1",
        "antenna2",
        "chan",
        (flux * F.cos(theta)).alias("coh_re"),
        (flux * F.sin(theta)).alias("coh_im"),
    )


def predict_point_vis(
    vis: DataFrame,
    sources: DataFrame,
    with_shape: bool = True,
) -> DataFrame:
    """Σ_sources coherency per row — deterministic fixed-point reduction.

    Returns (row_id, antenna1, antenna2, chan, model_re, model_im) with
    model values on the 1e-6 grid (exact BIGINT sum ÷ 1e6).

    r14 (guide §4): dispatches to the Arrow/numpy source-fold tier when
    its gates hold (operators/predict_arrow) — the per-(source,row,chan)
    trig runs SIMD-vectorized in numpy, each row's sources are summed as
    int64 in the batch and duplicate keys are merged in the same task,
    so the fold's rows are the final model rows. Identical
    quantized-addend multiset + associative integer addition ⇒
    bit-identical output (flip-rate-measured and locked by
    tests/test_round14_arrow_predict.py at every driver-verified scale).
    """
    from codex_africanus_spark.operators import predict_arrow

    folded = predict_arrow.point_fold(vis, sources, with_shape)
    if folded is not None:
        return folded
    coh = source_coherency(vis, sources, with_shape)
    return (
        coh.groupBy("row_id", "antenna1", "antenna2", "chan")
        .agg(
            (qsum(F.col("coh_re"), QSCALE) / F.lit(QSCALE)).alias("model_re"),
            (qsum(F.col("coh_im"), QSCALE) / F.lit(QSCALE)).alias("model_im"),
        )
    )


def apply_gains(model: DataFrame, gains: DataFrame) -> DataFrame:
    """DIE application  V' = G₁ · V · G₂ᴴ  (scalar gains per antenna,chan).

    Parity with apply_dies (/root/reference/africanus/rime/predict.py:342-373)
    and apply_gains (:623-649). Two broadcast hash equi-joins — the dim
    table is (n_ant × n_chan), always below the broadcast threshold.
    """
    g1 = F.broadcast(
        gains.select(
            F.col("antenna").alias("antenna1"),
            F.col("chan").alias("chan"),
            F.col("gain_re").alias("g1_re"),
            F.col("gain_im").alias("g1_im"),
        )
    )
    g2 = F.broadcast(
        gains.select(
            F.col("antenna").alias("antenna2"),
            F.col("chan").alias("chan"),
            F.col("gain_re").alias("g2_re"),
            F.col("gain_im").alias("g2_im"),
        )
    )
    df = model.join(g1, ["antenna1", "chan"]).join(g2, ["antenna2", "chan"])
    v = Cplx(F.col("model_re"), F.col("model_im"))
    out = Cplx(F.col("g1_re"), F.col("g1_im")) * v * Cplx(F.col("g2_re"), F.col("g2_im")).conj()
    return df.select(
        "row_id",
        "antenna1",
        "antenna2",
        "chan",
        F.round(out.re, 6).alias("corrupted_re"),
        F.round(out.im, 6).alias("corrupted_im"),
    )


def predict_full_corr(vis: DataFrame, sources: DataFrame, gains: DataFrame) -> DataFrame:
    """Full 2×2-correlation predict: brightness matrix B(I,Q,U,V,ν) per
    source, scalar phase K, source reduction per correlation, then the
    diagonal-Jones sandwich G₁·V·G₂ᴴ with independent X/Y gains.

    The 2×2 path of the reference (predict.py:56-190 full/diag kernels +
    brightness conversion) as one Catalyst plan: 8 real aggregates (4
    complex corrs), two broadcast gain joins, everything codegen.
    """
    from codex_africanus_spark.functions.complex_algebra import Cplx
    from codex_africanus_spark.functions.deterministic import qsum
    from codex_africanus_spark.functions.phase import phase_delay_angle, phase_path
    from codex_africanus_spark.operators import predict_arrow
    from codex_africanus_spark.sources.tables import fan_out, scan_twin

    # r14 Arrow/numpy source-fold tier (guide §4; see predict_point_vis)
    model = predict_arrow.full_corr_fold(vis, sources)
    if model is None:
        # hoist the brightness matrix to the broadcast side: bxx/byy depend
        # only on (source, chan) — evaluate pow() on n_src × n_chan rows and
        # equi-join on chan (same loop-invariant hoist as source_coherency);
        # distinct over the unfanned twin skips the fan_out exchange (r13)
        chan_freq = scan_twin(vis).select("chan", "frequency").distinct()
        src_chan = (
            sources.crossJoin(chan_freq)
            .withColumn("__s", F.pow(F.col("frequency") / F.col("ref_freq"), F.col("spi")))
            .select(
                "chan", "l", "m", "n",
                (F.col("flux_i") * F.col("__s") + F.col("flux_q")).alias("bxx"),
                (F.col("flux_i") * F.col("__s") - F.col("flux_q")).alias("byy"),
                F.col("flux_u").alias("bu"),
                F.col("flux_v").alias("bv"),
            )
        )
        j = fan_out(vis).join(F.broadcast(src_chan), "chan")
        theta = phase_delay_angle(
            phase_path(F.col("u"), F.col("v"), F.col("w"), F.col("l"), F.col("m"), F.col("n")),
            F.col("frequency"),
            "fourier",
        )
        ct, st = F.cos(theta), F.sin(theta)
        bxx, byy = F.col("bxx"), F.col("byy")
        bu, bv = F.col("bu"), F.col("bv")
        coh = j.select(
            "row_id", "antenna1", "antenna2", "chan",
            (bxx * ct).alias("xx_re"), (bxx * st).alias("xx_im"),
            (bu * ct - bv * st).alias("xy_re"), (bu * st + bv * ct).alias("xy_im"),
            (bu * ct - (-bv) * st).alias("yx_re"), (bu * st + (-bv) * ct).alias("yx_im"),
            (byy * ct).alias("yy_re"), (byy * st).alias("yy_im"),
        )
        model = coh.groupBy("row_id", "antenna1", "antenna2", "chan").agg(
            *[
                (qsum(F.col(c), QSCALE) / F.lit(QSCALE)).alias(c)
                for c in predict_arrow.CORR_SUMS
            ]
        )
    g1 = F.broadcast(
        gains.select(
            F.col("antenna").alias("antenna1"), "chan",
            F.col("gain_re").alias("g1x_re"), F.col("gain_im").alias("g1x_im"),
            F.col("gain_y_re").alias("g1y_re"), F.col("gain_y_im").alias("g1y_im"),
        )
    )
    g2 = F.broadcast(
        gains.select(
            F.col("antenna").alias("antenna2"), "chan",
            F.col("gain_re").alias("g2x_re"), F.col("gain_im").alias("g2x_im"),
            F.col("gain_y_re").alias("g2y_re"), F.col("gain_y_im").alias("g2y_im"),
        )
    )
    df = model.join(g1, ["antenna1", "chan"]).join(g2, ["antenna2", "chan"])

    def sandwich(mre, mim, g1p, g2p):
        m = Cplx(F.col(mre), F.col(mim))
        out = (
            Cplx(F.col(f"{g1p}_re"), F.col(f"{g1p}_im"))
            * m
            * Cplx(F.col(f"{g2p}_re"), F.col(f"{g2p}_im")).conj()
        )
        # + 0.0 normalizes IEEE -0.0 (sf1 sweep fork: one vxy_im row)
        return (
            F.round(out.re, 6) + F.lit(0.0),
            F.round(out.im, 6) + F.lit(0.0),
        )

    xx = sandwich("xx_re", "xx_im", "g1x", "g2x")
    xy = sandwich("xy_re", "xy_im", "g1x", "g2y")
    yx = sandwich("yx_re", "yx_im", "g1y", "g2x")
    yy = sandwich("yy_re", "yy_im", "g1y", "g2y")
    return df.select(
        "row_id", "antenna1", "antenna2", "chan",
        xx[0].alias("vxx_re"), xx[1].alias("vxx_im"),
        xy[0].alias("vxy_re"), xy[1].alias("vxy_im"),
        yx[0].alias("vyx_re"), yx[1].alias("vyx_im"),
        yy[0].alias("vyy_re"), yy[1].alias("vyy_im"),
    )
