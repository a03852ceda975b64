"""FFT imaging vs direct-DFT oracle (the reference's wgridder-vs-
explicit_gridder pattern, test_wgridder.py:18-108)."""

import numpy as np

from codex_africanus_spark.operators import fft_imaging
from codex_africanus_spark.sources import tpch_ms


def test_dirty_image_matches_direct_dft(spark, sf_dir):
    vis = tpch_ms.vis_table(spark, sf_dir).filter("row_id % 11 = 0")
    nx = ny = 16
    img, wsum = fft_imaging.dirty_image(vis, nx, ny)
    rows = vis.select("u", "v", "vis_re", "vis_im", "weight", "flag", "flag_row").collect()
    expected, wsum2 = fft_imaging.dirty_image_direct(rows, nx, ny)
    assert wsum > 0 and abs(wsum - wsum2) < 1e-3
    # identical discretization ⇒ machine-precision agreement (the
    # reference uses l2 ≤ 1e-4 for the approximate wgridder; the exact
    # FFT identity is much tighter)
    scale = np.abs(expected).max()
    np.testing.assert_allclose(img / scale, expected / scale, atol=1e-9)


def _wstack_direct(rows, nx, ny, cell, w_step):
    """Driver-side direct w-term DFT over the same (plane, cell)
    discretization — the explicit_gridder analogue with w-correction
    (reference test_wgridder.py:18-48 builds exp(2πi(u·l+v·m+w·(n−1))))."""
    import math

    def round_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    ll, mm = fft_imaging._lm_grid(nx, ny, cell)
    nm1 = np.sqrt(np.maximum(0.0, 1.0 - ll * ll - mm * mm)) - 1.0
    img = np.zeros((ny, nx))
    wsum_q = 0
    S = fft_imaging.GRID_SCALE
    cells: dict[tuple, complex] = {}
    for r in rows:
        if r.flag or r.flag_row:
            continue
        key = (
            round_away(r.w / w_step),
            round_away(r.v / cell) % ny,
            round_away(r.u / cell) % nx,
        )
        cells[key] = cells.get(key, 0.0) + (
            round(r.vis_re * r.weight * S) + 1j * round(r.vis_im * r.weight * S)
        ) / S
        wsum_q += round(r.weight * S)
    ys = np.arange(ny)[:, None] * np.ones((1, nx))
    xs = np.ones((ny, 1)) * np.arange(nx)[None, :]
    for (wp, vc, uc), g in cells.items():
        phase = 2.0 * np.pi * (vc * ys / ny + uc * xs / nx + wp * w_step * nm1)
        img += (g * np.exp(1j * phase)).real
    wsum = wsum_q / S
    return (img / wsum if wsum > 0 else img), wsum


def test_wstack_matches_direct_w_dft(spark, sf_dir):
    """Same (plane, cell) discretization on both sides ⇒ the per-plane
    FFT × w-screen sum equals the direct w-term DFT to machine
    precision."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter("row_id % 11 = 0")
    nx = ny = 16
    img, wsum = fft_imaging.dirty_image_wstack(vis, nx, ny, cell=10.0, w_step=2.0)
    rows = vis.select(
        "u", "v", "w", "vis_re", "vis_im", "weight", "flag", "flag_row"
    ).collect()
    expected, wsum2 = _wstack_direct(rows, nx, ny, 10.0, 2.0)
    assert wsum > 0 and abs(wsum - wsum2) < 1e-3
    scale = np.abs(expected).max()
    np.testing.assert_allclose(img / scale, expected / scale, atol=1e-9)


def test_wstack_approximates_true_w_dft(spark, sf_dir):
    """Against the continuous-w DFT (same uv snapping, TRUE w) the
    w-stacked image converges as w_step shrinks — the reference's
    ε-tolerance validation (test_wgridder.py:49-108, l2 ≤ ε with
    ε ∈ {1e-3, 1e-4}). Snapping uv in the truth isolates the w-term:
    w discretization is then the ONLY approximation."""
    import math

    def round_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    vis = tpch_ms.vis_table(spark, sf_dir).filter("row_id % 11 = 0")
    nx = ny = 16
    cell = 10.0
    rows = vis.select(
        "u", "v", "w", "vis_re", "vis_im", "weight", "flag", "flag_row"
    ).collect()
    ll, mm = fft_imaging._lm_grid(nx, ny, cell)
    nm1 = np.sqrt(np.maximum(0.0, 1.0 - ll * ll - mm * mm)) - 1.0
    truth = np.zeros((ny, nx))
    wsum_t = 0.0
    ys = np.arange(ny)[:, None] * np.ones((1, nx))
    xs = np.ones((ny, 1)) * np.arange(nx)[None, :]
    for r in rows:
        if r.flag or r.flag_row:
            continue
        vc = round_away(r.v / cell) % ny
        uc = round_away(r.u / cell) % nx
        phase = 2.0 * np.pi * (vc * ys / ny + uc * xs / nx + r.w * nm1)
        truth += ((r.vis_re + 1j * r.vis_im) * r.weight * np.exp(1j * phase)).real
        wsum_t += r.weight
    truth /= wsum_t

    def l2(a, b):
        return np.sqrt(np.sum((a - b) ** 2)) / np.sqrt(np.sum(b**2))

    img_fine, _ = fft_imaging.dirty_image_wstack(vis, nx, ny, cell, w_step=0.25)
    img_coarse, _ = fft_imaging.dirty_image_wstack(vis, nx, ny, cell, w_step=4.0)
    img_now, _ = fft_imaging.dirty_image(vis, nx, ny, cell)
    # fine stacking reaches the reference's tight tolerance; refining
    # w_step must not make it worse; the w-less image is strictly worse
    assert l2(img_fine, truth) < 1e-3
    assert l2(img_fine, truth) <= l2(img_coarse, truth) + 1e-12
    assert l2(img_fine, truth) < l2(img_now, truth)


def test_dirty_image_deterministic_across_runs(spark, sf_dir):
    vis = tpch_ms.vis_table(spark, sf_dir)
    img1, w1 = fft_imaging.dirty_image(vis, 32, 32)
    img2, w2 = fft_imaging.dirty_image(vis.repartition(7), 32, 32)
    # fixed-point accumulation ⇒ bit-identical regardless of partitioning
    assert w1 == w2
    np.testing.assert_array_equal(img1, img2)
