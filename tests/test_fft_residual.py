"""Residual wgridder reductions vs driver-side direct computation over
the same discretized grid (the reference validates im2residim/hessian
against explicit operators the same way,
test_wgridder.py:110-180)."""

import numpy as np

from codex_africanus_spark.operators import fft_imaging
from codex_africanus_spark.sources import tpch_ms


def _image():
    img = np.zeros((8, 8))
    img[1, 2] = 1.0
    img[5, 3] = 0.5
    return img


def _round_away(x):
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _model_grid(image, round_dp=9):
    G = np.fft.fft2(image)
    return (
        np.vectorize(lambda v: round(float(v), round_dp) + 0.0)(G.real),
        np.vectorize(lambda v: round(float(v), round_dp) + 0.0)(G.imag),
    )


def test_residual_of_zero_image_is_dirty_image(spark, sf_dir):
    """dirty2ms(0) = 0 ⇒ residual ≡ dirty — bit-equal (fixed point)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter("row_id % 11 = 0")
    res, w_r = fft_imaging.residual_image(vis, np.zeros((8, 8)))
    # dirty_image uses the same wrap-around cell layout at nx=ny=8
    dirty, w_d = fft_imaging.dirty_image(vis, nx=8, ny=8)
    assert w_r == w_d
    np.testing.assert_array_equal(res, dirty)


def test_residual_matches_direct_computation(spark, sf_dir):
    """Distributed residual == driver NumPy replica with identical
    quantization (machine precision)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter("row_id % 11 = 0")
    image = _image()
    got, wsum = fft_imaging.residual_image(vis, image)

    mre, mim = _model_grid(image)
    rows = vis.select(
        "u", "v", "vis_re", "vis_im", "weight", "flag", "flag_row"
    ).collect()
    grid = np.zeros((8, 8), dtype=np.complex128)
    wq = 0
    for r in rows:
        if r.flag or r.flag_row:
            continue
        uc = _round_away(r.u / 10.0) % 8
        vc = _round_away(r.v / 10.0) % 8
        grid[vc, uc] += (
            round((r.vis_re - mre[vc, uc]) * r.weight * fft_imaging.GRID_SCALE)
            + 1j * round((r.vis_im - mim[vc, uc]) * r.weight * fft_imaging.GRID_SCALE)
        ) / fft_imaging.GRID_SCALE
        wq += round(r.weight * fft_imaging.GRID_SCALE)
    want = np.fft.ifft2(grid).real * 64
    want /= wq / fft_imaging.GRID_SCALE
    assert abs(wsum - wq / fft_imaging.GRID_SCALE) < 1e-9
    np.testing.assert_allclose(got, want, atol=1e-12)


def test_residual_partition_invariant(spark, sf_dir):
    vis = tpch_ms.vis_table(spark, sf_dir).filter("row_id % 11 = 0")
    image = _image()
    a, wa = fft_imaging.residual_image(vis, image)
    b, wb = fft_imaging.residual_image(vis.repartition(13), image)
    assert wa == wb
    np.testing.assert_array_equal(a, b)
