"""Backend-equivalence checks (SURVEY §5 item 5) for the rows-only
operators: the Spark result must match an independent pure-pandas
reimplementation on collected data."""

import numpy as np
import pandas as pd

from codex_africanus_spark.operators import bda as bda_op
from codex_africanus_spark.operators import clean as clean_op
from codex_africanus_spark.operators import gridding as grid_op
from codex_africanus_spark.queries import registry
from codex_africanus_spark.sources import tpch_ms
import pytest

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow


def _pandas_bda(pdf: pd.DataFrame, decorr_tol=500.0, max_span=2_592_000.0):
    out = []
    for (a1, a2), grp in pdf.groupby(["antenna1", "antenna2"]):
        grp = grp.sort_values(["time", "row_id"]).reset_index(drop=True)
        bin_idx, acc, start_t, prev = 0, 0.0, None, None
        bins = []
        for r in grp.itertuples():
            if start_t is None:
                start_t, acc = r.time, 0.0
            else:
                acc += abs(r.u - prev.u) + abs(r.v - prev.v) + abs(r.w - prev.w)
                if acc > decorr_tol or (r.time - start_t) > max_span:
                    bin_idx += 1
                    start_t, acc = r.time, 0.0
            bins.append(bin_idx)
            prev = r
        grp["bin_idx"] = bins
        for b, g in grp.groupby("bin_idx"):
            w = g.weight.sum()
            out.append(
                (a1, a2, b, len(g), g.time.min(), g.time.max(),
                 (g.vis_re * g.weight).sum() / w, (g.vis_im * g.weight).sum() / w, w)
            )
    return pd.DataFrame(
        out,
        columns=["antenna1", "antenna2", "bin_idx", "n_rows", "time_start",
                 "time_end", "vis_re_avg", "vis_im_avg", "weight_sum"],
    ).sort_values(["antenna1", "antenna2", "bin_idx"]).reset_index(drop=True)


def test_bda_matches_pandas_reference(spark, sf_dir):
    vis = tpch_ms.vis_table(spark, sf_dir)
    got = (
        bda_op.bda_average(vis)
        .orderBy("antenna1", "antenna2", "bin_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    src = vis.select(
        "row_id", "time", "antenna1", "antenna2", "u", "v", "w",
        "vis_re", "vis_im", "weight",
    ).toPandas()
    expected = _pandas_bda(src)
    assert len(got) == len(expected)
    pd.testing.assert_frame_equal(got, expected, check_dtype=False, rtol=1e-12, atol=1e-9)


def test_bda_bins_respect_bounds(spark, sf_dir):
    vis = tpch_ms.vis_table(spark, sf_dir)
    got = bda_op.bda_average(vis, max_span_secs=864000.0).toPandas()
    assert (got.time_end - got.time_start <= 864000.0 + 1e-6).all()
    assert (got.n_rows >= 1).all()


def test_bda_ragged_invariants(spark, sf_dir):
    """Ragged channel-factor BDA: weight conservation, bin agreement
    with the plain binner, factor variety, valid chan mapping."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter("antenna1 < 4")
    ragged = bda_op.bda_ragged(vis).toPandas()
    plain = bda_op.bda_average(vis).toPandas()
    # same bin boundaries as the chan-lumped binner
    rb = ragged.groupby(["antenna1", "antenna2"]).bin_idx.max()
    pb = plain.groupby(["antenna1", "antenna2"]).bin_idx.max()
    assert (rb.sort_index() == pb.sort_index()).all()
    # total weight conserved
    wtot = vis.toPandas().groupby(["antenna1", "antenna2"]).weight.sum()
    rtot = ragged.groupby(["antenna1", "antenna2"]).weight_sum.sum()
    np.testing.assert_allclose(rtot.sort_index(), wtot.sort_index(), rtol=1e-9)
    # the factor rule actually varies (ragged cardinality is real)
    assert ragged.chan_factor.nunique() >= 2
    # chan_out consistent with the factor (16 input channels)
    assert (ragged.chan_out < np.ceil(16 / ragged.chan_factor)).all()
    assert (ragged.n_samples >= 1).all()


def test_hogbom_components_shrink(spark, sf_dir):
    vis = tpch_ms.vis_table(spark, sf_dir)
    comps = clean_op.hogbom_clean(
        spark, grid_op.grid_natural(vis), gamma=0.2, maxiter=30
    ).orderBy("iteration").toPandas()
    assert len(comps) > 0
    # peak magnitudes are non-increasing over iterations (greedy argmax)
    mags = np.abs(comps.flux.to_numpy())
    assert (np.diff(mags) <= 1e-9).all()


def test_gauss_newton_history_converges(spark, sf_dir):
    """The solver's per-iteration max update must shrink to tolerance."""
    from pyspark.sql import functions as F

    from codex_africanus_spark.operators import calibration as cal_op
    from codex_africanus_spark.operators import predict as predict_op

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("chan") == 0)
    src = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_type") == "POINT")
    model = predict_op.predict_point_vis(vis, src, with_shape=False)
    phase = F.col("antenna") * F.lit(0.35)
    gains = tpch_ms.gains_table(spark).filter(F.col("chan") == 0).select(
        "antenna", "chan", F.cos(phase).alias("gain_re"), F.sin(phase).alias("gain_im")
    )
    corrupted = predict_op.apply_gains(model, gains).select(
        "row_id", "antenna1", "antenna2", "chan",
        F.col("corrupted_re").alias("vis_re"), F.col("corrupted_im").alias("vis_im"),
    )
    history = cal_op.gauss_newton_phase_only(corrupted, model, n_ant=7, maxiter=40)
    deltas = [h["max_delta"] for h in history]
    assert deltas[-1] < 1e-6
    assert deltas[-1] < deltas[0]


def test_psf_fit_and_restore():
    """CLEAN triple completion: restore() with a known clean beam
    (σ = 2.5, 1.5 cells) places components at the right cells."""
    from codex_africanus_spark.operators.clean import restore

    comps = pd.DataFrame({"u_cell": [25, 10], "v_cell": [30, 12], "flux": [2.0, -1.0]})
    img = restore(comps, (41, 41), (0, 0), (2.5, 1.5))
    # component peaks land at their cells with the component flux
    assert abs(img[25, 30] - 2.0) < 0.2
    assert abs(img[10, 12] - (-1.0)) < 0.2
